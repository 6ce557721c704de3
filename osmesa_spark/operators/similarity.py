"""Similarity search over an embedding column (`array<float>`).

Every top-k probe here runs ONE kernel, `_probe`: spread the corpus,
derive its keys, join the query keys (broadcast by default), drop
self-pairs, score, and rank the top k per query with one literal-bounded
row_number window keyed (score, neighbor id), which `WindowGroupLimit`
prunes per partition before the exchange. The public probes are key and
score generators over it:
  * every pair, no key: `knn_bruteforce`, `knn_l2`, `knn_quantized`,
    `knn_rp`, `knn_pq` (ADC codes against per-query lookup rows),
    `hard_negatives` and the Hamming shortlist of `knn_binary_rerank`;
  * a bucket equi-key, so a query meets O(N/buckets) rows: `knn_ivf` (a
    label column), `knn_lsh` and `knn_lsh_multiprobe` (sign-LSH bits),
    `ivf_probe_frozen` (under `knn_ivf_nprobe`) and `knn_ivfpq` (coarse
    cells), `knn_label_accuracy` (a shuffled leave-one-out self-probe);
  * a shortlist re-ranked exactly: `knn_pq_rerank` and the second stage
    of `knn_binary_rerank`.
Threshold self-joins (`neardup_cosine`) are not top-k probes and keep
their own join.

Vector arithmetic stays in the JVM via `zip_with` + `aggregate` (no Python).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from osmesa_spark.functions.litexpr import darr, dlit, q as _qn
from osmesa_spark.util import ensure_parallelism


# --- expression builders: each renders ONE Spark-SQL string -----------------
# Every vector expression here (dot, norm, cosine, LSH bucket, PQ distances)
# exists only as a SQL string parsed by a single F.expr call. Building the
# same tree through the Column DSL costs one py4j round-trip per operator
# or literal (a DSL cosine is 370 calls, the SQL string 3), and embedded
# trained-model literals (codebooks, centroids, hyperplanes) reached
# 13-15k calls ≈ 2-4 s of serial DRIVER time per ANN query construction
# (see functions/litexpr.py). Column names are backtick-quoted with `q`,
# one part at a time for qualified names.


def _dot_sql(a_sql: str, b_sql: str) -> str:
    """Dot product of two numeric arrays, folded in double precision."""
    return (
        f"aggregate(zip_with({a_sql}, {b_sql}, "
        f"(x, y) -> CAST(x AS DOUBLE) * CAST(y AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v)"
    )


def _sq_l2_pair_sql(a_sql: str, b_sql: str, round_to: int = 6) -> str:
    """Squared L2 distance between two double arrays, rounded like the
    kmeans kernel so probe selection replays identically cross-engine."""
    return (
        f"round(aggregate(zip_with({a_sql}, {b_sql}, "
        f"(a, b) -> (a - b) * (a - b)), 0.0D, (acc, v) -> acc + v), "
        f"{round_to})"
    )


def _pq_dists_sql(
    sub_sql: str, book: list[tuple[int, list[float]]], round_to: int = 6
) -> str:
    """Rounded squared-L2 from a (sub-)vector to EVERY centroid of a
    literal codebook — the one distance row behind every codebook lookup
    (k-means assignment, coarse-cell ranking, PQ codes and lookup rows).
    ONE transform over a literal array-of-centroids: the fold lambda
    appears once in the expression tree instead of once per centroid,
    which keeps a k=16 codebook inside the whole-stage-codegen
    method-size limit (k separate per-centroid folds overflow it and
    drop the stage to interpreted evaluation — ~2× wall at k=16).
    Output order is the codebook's. The sub-vector is LET-BOUND
    (one-element transform) so its slice/cast evaluates once per row
    instead of once per centroid (r11: HOF lambdas re-evaluate captured
    subtrees per element). A NULL vector has no distances: the row is
    NULL, not k NULLs, so no argmin or top-n can pick a cell for it."""
    from osmesa_spark.functions.litexpr import darr2

    cb = darr2([c for _, c in book])
    return (
        f"element_at(transform(array({sub_sql}), sv -> CASE WHEN sv IS NOT "
        f"NULL THEN transform({cb}, cent -> round(aggregate(zip_with(sv, "
        f"cent, (x, c) -> (x - c) * (x - c)), 0.0D, (acc, t) -> acc + t), "
        f"{round_to})) END), 1)"
    )


def _argmin_pos_sql(dists_sql: str) -> str:
    """1-based position (INT) of the first minimal entry of a distance
    array — the array is LET-BOUND because it appears twice
    (array_position + array_min) and would otherwise evaluate twice per
    row. Ties break to the first (lowest) position, matching the oracle's
    ORDER BY (dist, cid) with ascending-cid codebooks."""
    return (
        f"element_at(transform(array({dists_sql}), dv -> "
        f"CAST(array_position(dv, array_min(dv)) AS INT)), 1)"
    )


def _cids_sql(book: list[tuple[int, list[float]]]) -> str:
    """The codebook's cluster ids as a literal INT array, in book order."""
    return "array(" + ",".join(str(int(c)) for c, _ in book) + ")"


def _pq_code_sql(
    sub_sql: str, book: list[tuple[int, list[float]]], round_to: int = 6
) -> str:
    """1-based position of the nearest centroid (ties to the first, so to
    the lowest cid in an ascending-cid codebook)."""
    return _argmin_pos_sql(_pq_dists_sql(sub_sql, book, round_to))


def _cid_sql(
    vec_sql: str, book: list[tuple[int, list[float]]], round_to: int = 6
) -> str:
    """Cluster id of the nearest centroid of an ascending-cid codebook.
    `try_element_at`: plain element_at on a literal array reads a NULL
    position as an index (Spark 4.1 codegen skips the null check), which
    would hand a NULL vector the last cid."""
    return (
        f"try_element_at({_cids_sql(book)}, "
        f"{_pq_code_sql(vec_sql, book, round_to)})"
    )


def _nearest_cids_sql(
    vec_sql: str, book: list[tuple[int, list[float]]], n: int
) -> str:
    """Cluster ids of the `n` nearest centroids, nearest first — (dist,
    cid) structs sort lexicographically, so ties break to the lower cid."""
    return (
        f"transform(slice(array_sort(zip_with({_pq_dists_sql(vec_sql, book)}, "
        f"{_cids_sql(book)}, (d, c) -> named_struct('d', d, 'cid', c))), 1, "
        f"{int(n)}), s -> s.cid)"
    )


def _per_sub_sql(vec_sql: str, books: list, each) -> str:
    """`array(each(slice_s, book_s) for every PQ subspace s)`: each book
    quantizes the next contiguous slice of the vector."""
    ds = len(books[0][0][1])  # sub-dim from a codebook centroid, no job
    return "array(" + ",".join(
        each(f"slice({vec_sql}, {s * ds + 1}, {ds})", b)
        for s, b in enumerate(books)
    ) + ")"


def _norm_sql(a_sql: str) -> str:
    """L2 norm of a numeric array, folded in double precision."""
    return (
        f"sqrt(aggregate(transform({a_sql}, "
        f"x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), "
        f"0.0D, (acc, v) -> acc + v))"
    )


def _cosine_sql(a_sql: str, b_sql: str) -> str:
    """Cosine similarity dot / max(|a|·|b|, 1e-12). Both sides are
    LET-BOUND via a two-array zip_with, so each input expression evaluates
    once per row instead of twice (dot + norm)."""
    body = (
        f"({_dot_sql('va', 'vb')} / "
        f"greatest({_norm_sql('va')} * {_norm_sql('vb')}, 1e-12D))"
    )
    return (
        f"element_at(zip_with(array({a_sql}), array({b_sql}), "
        f"(va, vb) -> {body}), 1)"
    )


def _lsh_bucket_sql(vec_sql: str, planes: list[list[float]]) -> str:
    """Random-hyperplane LSH bucket id: bit b = sign(dot(vec, plane_b)).
    `planes` is a small driver-side list (deterministic, seeded).
    Disjoint bits, so integer + IS bitwise-or; same `_dot_sql` casts. The
    vector is LET-BOUND so its cast/projection evaluates once per row
    instead of once per plane."""
    terms = ["0"]
    for i, p in enumerate(planes):
        terms.append(
            f"shiftleft((CASE WHEN {_dot_sql('vb', darr(p))} > 0 "
            f"THEN 1 ELSE 0 END), {i})"
        )
    body = "(" + " + ".join(terms) + ")"
    return f"element_at(transform(array({vec_sql}), vb -> {body}), 1)"


# --- the probe kernel ---------------------------------------------------------
# Scores over the kernel's side names: `qvec`/`cvec` (query/corpus vector),
# `qv`/`v` (the same cast to double), `luts`/`codes` (PQ lookup rows/codes).
_COS = f"round({_cosine_sql('`qvec`', '`cvec`')}, 6)"
_D2 = _sq_l2_pair_sql("`qv`", "`v`")
# PQ asymmetric distance: the sum of one lookup-row entry per code
_ADC = (
    "round(aggregate(zip_with(`codes`, `luts`, (c, row) -> "
    "element_at(row, c)), 0.0D, (acc, d) -> acc + d), 6)"
)
_OUT = ("query_id", "neighbor_id", "rank")


def _probe(
    corpus: DataFrame,
    queries: DataFrame,
    on: str | None,
    score_sql: str,
    k: int,
    ascending: bool = False,
    keep: str | None = None,
    spread: bool = True,
    broadcast: bool = True,
    *,
    cols: list[Column | str],
    id_col: str = "vec_id",
    carry: tuple[str, ...] = (),
) -> DataFrame:
    """The top-k probe under every kNN operator in this module.

    `corpus` is spread first (`ensure_parallelism` on `id_col`: a
    broadcast join keeps the streamed side's partitioning, so a 1-split
    scan would score every pair on one core), then projected to
    `neighbor_id` plus `cols`, its keys — so PQ codes, sign words and
    bucket ids evaluate after the exchange, once per row. `spread=False`
    probes a frame as it is laid out: an index (pinned or bucketed
    inverted lists, checkpointed residuals) or a shortlist.

    `queries` carries `query_id` and its keys; it is broadcast unless
    `broadcast=False` (a corpus-sized query side: Catalyst picks the
    join). `on` names the key both sides carry; None pairs every row.
    Self-pairs (query_id = neighbor_id) are dropped. `score_sql` is one SQL
    expression over both sides' columns; `keep`, an optional SQL predicate
    on `score`, filters before the rank.

    The rank is one row_number per query by (score DESC — ASC when
    `ascending` — then neighbor_id ASC) with the literal bound `k`, so
    `WindowGroupLimit` prunes it per partition before the exchange: a
    take-ordered per key, not a full sort.

    Output: (query_id, neighbor_id, *carry, score, rank)."""
    if spread:
        corpus = ensure_parallelism(corpus, id_col)
    c = corpus.select(F.col(id_col).alias("neighbor_id"), *cols)
    q = F.broadcast(queries) if broadcast else queries
    other = F.col("query_id") != F.col("neighbor_id")
    pairs = c.join(q, on).where(other) if on else c.join(q, other)
    scored = pairs.select(
        "query_id", "neighbor_id", *carry, F.expr(score_sql).alias("score")
    )
    if keep:
        scored = scored.where(keep)
    score = F.col("score").asc() if ascending else F.col("score").desc()
    w = Window.partitionBy("query_id").orderBy(score, F.col("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).where(
        F.col("rank") <= k
    )


def cosine(a: str, b: str) -> Column:
    """`_cosine_sql` over two array columns given by name."""
    return F.expr(_cosine_sql(_qn(a), _qn(b)))


def knn_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.
    Output: (query_id, neighbor_id, rank) — rank 1..k, self excluded.
    `queries` is broadcast; ties broken by neighbor id for determinism."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    return _probe(
        corpus, q, None, _COS, k, cols=[F.col(vec_col).alias("cvec")],
        id_col=id_col,
    ).select(*_OUT)


def knn_l2(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k by rounded squared L2 — the reference for the PQ probes,
    whose ADC approximates L2, not cosine. Same output shape as
    knn_bruteforce, rank 1..k by ascending distance."""
    v = F.col(vec_col).cast("array<double>")
    q = queries.select(F.col(id_col).alias("query_id"), v.alias("qv"))
    return _probe(
        corpus, q, None, _D2, k, ascending=True, cols=[v.alias("v")],
        id_col=id_col,
    ).select(*_OUT)


def knn_ivf(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
) -> DataFrame:
    """IVF-style ANN: probe only the query's coarse bucket (`bucket_col` —
    a precomputed centroid/cluster id). Same output shape as brute force.
    At scale, bucket both sides and the join co-partitions by bucket."""
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        F.col(bucket_col).alias("bucket"),
    )
    cols = [F.col(vec_col).alias("cvec"), F.col(bucket_col).alias("bucket")]
    return _probe(
        corpus, q, "bucket", _COS, k, cols=cols, id_col=id_col
    ).select(*_OUT)


def knn_ivf_nprobe(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 2,
    coarse_k: int = 4,
    iters: int = 2,
    seed: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF ANN with a REAL nprobe knob (the faiss recall/latency dial):
    train the coarse quantizer (`kmeans_lloyd`), assign the corpus to its
    inverted lists once, and probe each query's `nprobe` NEAREST clusters
    instead of only the closest — the standard fix for queries that land
    near a Voronoi boundary (`knn_ivf` with a precomputed bucket column
    is the nprobe=1 special case; `knn_lsh_multiprobe` is the same idea
    for hash buckets).

    Scale shape: corpus side is the one assign kernel pass (inverted
    lists = a cluster-keyed layout, probe surface O(nprobe·N/coarse_k));
    the query side ranks coarse_k literal centroid distances row-locally
    and explodes to nprobe rows before the same cluster equi-join.
    Candidate superset of nprobe=1 ⇒ recall monotone in nprobe.

    Same output shape as knn_bruteforce."""
    assigned, cents = kmeans_lloyd(
        corpus, k=coarse_k, iters=iters, id_col=id_col, vec_col=vec_col,
        seed=seed, emit_vector=True, return_centroids=True,
    )
    return ivf_probe_frozen(
        assigned, queries, cents, k=k, nprobe=nprobe,
        id_col=id_col, vec_col=vec_col,
    )


def ivf_probe_frozen(
    assigned: DataFrame,
    queries: DataFrame,
    cents: list[tuple[int, list[float]]],
    k: int = 5,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    broadcast_queries: bool = True,
) -> DataFrame:
    """The SERVING half of `knn_ivf_nprobe`: probe a pre-assigned corpus
    (`assigned` = (id, cluster, v) inverted lists) with a FROZEN codebook
    — train once offline, answer every arriving query batch against the
    fixed index (the retrieval mirror of the DSIR/LR frozen train/serve
    split; `streaming/knn_stream.py` drives this per micro-batch).
    Queries rank the ≤coarse_k literal centroid distances row-locally, explode
    to nprobe probe rows, and equi-join the inverted lists.

    `broadcast_queries=True` (default) fits the online regime: a query
    micro-batch is small, so it ships to the index partitions and the
    corpus never moves. For a HUGE offline query batch set it False and
    persist the inverted lists bucketed by cluster
    (`colocate.write_bucketed(assigned, ..., "cluster")`): the sort-merge
    join then reads the index buckets in place — no corpus-side exchange
    either (asserted in tests/test_colocate.py)."""

    qv_sql = f"CAST({_qn(vec_col)} AS ARRAY<DOUBLE>)"
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(qv_sql).alias("qvec"),
        F.expr(f"explode({_nearest_cids_sql(qv_sql, cents, nprobe)})").alias(
            "cluster"
        ),
    )
    return _probe(
        assigned, q, "cluster", _COS, k, spread=False,
        broadcast=broadcast_queries,
        cols=["cluster", F.col("v").alias("cvec")], id_col=id_col,
    ).select(*_OUT)


def neardup_cosine(
    df: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    bucket_col: str = "label",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs: self-join blocked on a coarse
    bucket (cluster label / LSH bucket), keep pairs with cosine >= threshold.
    The bucket equi-key means Spark co-partitions both sides — the O(n²)
    surface is per-bucket, the same bound a FAISS IVF dedup pass has.
    The L2 norm is computed once per ROW and carried through the join as a
    scalar, so each pair costs one dot product + one multiply instead of
    dot + two array norms (bit-identical result, same op order).
    Output: (id_a, id_b, cos), id_a < id_b, cos rounded 6dp."""
    side = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        F.expr(_norm_sql(_qn(vec_col))).alias("nrm"),
        F.col(bucket_col).alias("bucket"),
    )
    a, b = side.alias("a"), side.alias("b")
    # The join strategy is deliberately LEFT TO CATALYST, unlike the
    # buildings cell join (which pins shuffle_merge): here the broadcast
    # side's size ESTIMATE is accurate — the scan's embedding column IS
    # the join payload, nothing widens after it — so the planner
    # broadcasts while the corpus fits and falls back to the shuffle
    # join exactly when it stops fitting. Forcing the shuffle was
    # measured 3–4× SLOWER at both sf0.1 and sf1 (the coarse bucket key
    # has few distinct values, so the sort-merge pays a skewed
    # whole-corpus sort the hash probe never does); the fallback plan's
    # correctness is pinned by the NO_BROADCAST_REGIME equivalence test.
    return (
        a.join(
            b,
            (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr(
                f"round({_dot_sql('`a`.`vec`', '`b`.`vec`')} / "
                f"greatest(`a`.`nrm` * `b`.`nrm`, 1e-12D), 6)"
            ).alias("cos"),
        )
        .where(F.col("cos") >= threshold)
    )


def quantize_int8(
    df: DataFrame, vec_col: str = "embedding", id_col: str = "vec_id"
) -> DataFrame:
    """Symmetric per-vector int8 quantization: scale = max|x| / 127,
    q_i = floor(x_i / scale + 0.5)  (half-away-from-zero via floor so the
    rounding rule is engine-portable). The standard 4× storage /
    memory-bandwidth cut for ANN at scale — IVF probes compare int8 dots,
    rescaling by scale_a·scale_b only for the final top-k. Pure Column
    math, stays in codegen; output (id, scale, qvec)."""
    scale, qvec = _int8(vec_col)
    return df.select(
        F.col(id_col).alias("id"), scale.alias("scale"), qvec.alias("qvec")
    )


def _int8(vec_col: str) -> tuple[Column, Column]:
    """`quantize_int8`'s (scale, qvec) columns."""
    v = F.transform(vec_col, lambda x: x.cast("double"))
    scale = F.greatest(
        F.array_max(F.transform(v, F.abs)) / F.lit(127.0), F.lit(1e-12)
    )
    qvec = F.transform(v, lambda x: F.floor(x / scale + F.lit(0.5)).cast("int"))
    return scale, qvec


def _idot_sql(a_sql: str, b_sql: str) -> str:
    """Exact integer dot product of two bigint arrays, as a double."""
    return (
        f"CAST(aggregate(zip_with({a_sql}, {b_sql}, (x, y) -> x * y), "
        f"CAST(0 AS BIGINT), (acc, v) -> acc + v) AS DOUBLE)"
    )


def knn_quantized(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k cosine over int8-quantized vectors — the production ANN probe
    shape: integer dot products and integer norms (the per-vector scales
    cancel inside the cosine ratio), so each comparison moves 4× fewer bytes
    than float32 and the arithmetic is exact until one final double division.
    Broadcast query side, same output shape as knn_bruteforce."""
    q8 = F.transform(_int8(vec_col)[1], lambda x: x.cast("bigint"))
    q, c = "`qvec`", "`cvec`"
    icos = (
        f"round({_idot_sql(q, c)} / greatest(sqrt({_idot_sql(q, q)}) * "
        f"sqrt({_idot_sql(c, c)}), 1e-12D), 6)"
    )
    qs = queries.select(F.col(id_col).alias("query_id"), q8.alias("qvec"))
    return _probe(
        corpus, qs, None, icos, k, cols=[q8.alias("cvec")], id_col=id_col
    ).select(*_OUT)


def lsh_planes(dim: int, n_planes: int = 6, seed: int = 97) -> list[list[float]]:
    """Deterministic random hyperplanes for sign-LSH bucketing: a small
    driver-side literal list, embedded in the plan (and replayable verbatim
    by an external oracle)."""
    import random

    rng = random.Random(seed)
    return [
        [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)]
        for _ in range(n_planes)
    ]


def knn_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN with sign-LSH bucketing: both sides bucket by the bit pattern of
    sign(dot(vec, plane_b)) — 2^planes buckets, no precomputed cluster
    labels required (the label-free counterpart of knn_ivf). The bucket id
    is an equi-join key, so Spark co-partitions corpus and probes; per-probe
    work drops from O(N) to O(N / 2^planes) at the usual LSH recall
    trade-off. Same output shape as knn_bruteforce."""
    bucket = F.expr(_lsh_bucket_sql(_qn(vec_col), planes)).alias("bucket")
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec"), bucket
    )
    cols = [F.col(vec_col).alias("cvec"), bucket]
    return _probe(
        corpus, q, "bucket", _COS, k, cols=cols, id_col=id_col
    ).select(*_OUT)


def knn_lsh_multiprobe(
    corpus: DataFrame,
    queries: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Multi-probe sign-LSH ANN (Lv et al. 2007): probe the query's own
    bucket PLUS every Hamming-1 neighbor (one sign-bit flip per plane) —
    the standard recall lift that costs |planes| extra bucket probes per
    query instead of a second hash table. A vector near a hyperplane
    falls on the wrong side for that bit; flipping each bit one at a
    time recovers exactly those near-boundary misses.

    Scale shape: the corpus side is UNCHANGED (one bucket per item — no
    index growth); only the bounded query side fans out 1+|planes| probe
    rows before the same bucket equi-join. Each (query, item) pair can
    match at most one probe (an item has one bucket), so no dedup stage
    is needed. Candidate superset ⇒ recall@k is monotonically ≥ the
    single-probe `knn_lsh` (asserted in tests). Same output shape."""
    b_sql = _lsh_bucket_sql(_qn(vec_col), planes)
    probes = F.expr(
        "explode(array("
        + ",".join([b_sql] + [f"({b_sql} ^ {1 << i})" for i in range(len(planes))])
        + "))"
    )
    q = queries.select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).alias("qvec"),
        probes.alias("bucket"),
    )
    cols = [F.col(vec_col).alias("cvec"), F.expr(b_sql).alias("bucket")]
    return _probe(
        corpus, q, "bucket", _COS, k, cols=cols, id_col=id_col
    ).select(*_OUT)


def kmeans_lloyd(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 29,
    round_to: int = 6,
    emit_vector: bool = False,
    return_centroids: bool = False,
    emit_residual: bool = False,
) -> DataFrame | tuple[DataFrame, list[tuple[int, list[float]]]]:
    """Deterministic Lloyd's k-means over an embedding column — the IVF
    coarse-quantizer trainer (`knn_ivf` consumes its `cluster` output) and
    the clustering primitive under SemDeDup-style semantic dedup and
    diversity-balanced sampling.

    The codebook is `pq_train`'s with one subspace (k-means IS the m=1
    product quantizer), so seeding, rounding, tie-breaks and the update
    rounds are exactly pq_train's: `iters` rounds ⇒ iters-1 updates, then
    one assignment against the returned centroids.

    Scale shape: training launches pq_train's jobs (the seed pick and one
    Arrow-batched update kernel per round, combined on the driver — the
    update rounds shuffle nothing). The assignment is ONE lazy
    Arrow-batched numpy kernel (`mapInPandas`) over the rounded
    squared-L2 — dense k*dim distance algebra is what vectorized kernels
    are for, and the plan stays fixed-size."""
    import numpy as np
    import pandas as pd

    (book,) = pq_train(
        df, m=1, k=k, iters=iters, id_col=id_col, vec_col=vec_col,
        seed=seed, round_to=round_to,
    )
    cid_arr = np.array([c for c, _ in book], dtype=np.int64)
    C = np.array([c for _, c in book], dtype=np.float64)

    def assign(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            X = np.array(pdf["v"].tolist(), dtype=np.float64)
            D = np.round(
                ((X[:, None, :] - C[None, :, :]) ** 2).sum(-1), round_to
            )
            a = D.argmin(1)
            out = {"vid": pdf["vid"], "cluster": cid_arr[a].astype("int32")}
            if emit_vector:
                out["v"] = pdf["v"]
            if emit_residual:
                # residual vs the ASSIGNED centroid, computed in the same
                # kernel pass: IEEE-identical to a downstream zip_with(v,
                # centroid) subtraction, one less full-corpus stage (the
                # IVF-PQ encode input)
                out["r"] = list(X - C[a])
            yield pd.DataFrame(out)

    # emit_vector: consumers that need (id, cluster, vector) — e.g.
    # SemDeDup's cluster-blocked self-join — skip a join back to the source
    # table entirely (the kernel already holds the row)
    schema = "vid long, cluster int"
    if emit_vector:
        schema += ", v array<double>"
    if emit_residual:
        schema += ", r array<double>"
    v = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    out = v.mapInPandas(assign, schema=schema).withColumnRenamed("vid", id_col)
    # return_centroids: the codebook the assignment used, as (cid, centroid)
    # pairs — residual encoders (IVF-PQ) subtract exactly these
    return (out, book) if return_centroids else out


def embedding_dim_stats(
    df: DataFrame,
    vec_col: str = "embedding",
    dead_var: float = 1e-6,
) -> DataFrame:
    """Per-dimension embedding health profile — mean / population
    variance / min / max for every vector component, plus a `is_dead`
    verdict (variance below `dead_var`): dead or near-constant dimensions
    are wasted index bytes and distance-metric noise, and a sudden batch
    of them flags an upstream encoder regression (the per-dimension
    sibling of `embedding_drift`'s per-cluster view).

    Determinism: components are quantized to 1e-9 BIGINT units so the
    mean/variance sums are exact integers at any partitioning (variance
    via E[x²]−E[x]² over the quantized values; x² in 1e-18 units held in
    a decimal accumulator).

    Scale shape: one posexplode (corpus × dim narrow rows) into a single
    partial agg keyed by dimension — map-side combine collapses it to
    #partitions × dim counter rows; output is dim rows."""
    q = F.round(F.col("val").cast("double") * 1e9).cast("bigint")
    exploded = df.select(
        F.posexplode(F.col(vec_col)).alias("dim", "val")
    ).select("dim", q.alias("q"))
    n = F.count(F.lit(1)).cast("double")
    sx = F.sum("q").cast("double") / 1e9
    sxx = (
        F.sum(F.col("q").cast("decimal(20,0)") * F.col("q")).cast("double")
        / 1e18
    )
    mean = sx / n
    var = sxx / n - mean * mean
    return (
        exploded.groupBy("dim")
        .agg(
            n.cast("bigint").alias("n"),
            F.round(mean, 6).alias("mean"),
            F.round(var, 6).alias("variance"),
            F.round(F.min("q") / 1e9, 6).alias("min_val"),
            F.round(F.max("q") / 1e9, 6).alias("max_val"),
            # UNROUNDED comparison: rounding first would shift the
            # effective cutoff to dead_var/2 and make sub-1e-6 thresholds
            # unreachable; var derives from exact-integer sums, so both
            # engines compare bit-identical doubles
            (var < F.lit(dead_var)).alias("is_dead"),
        )
    )


def knn_label_accuracy(
    df: DataFrame,
    planes: list[list[float]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    label_col: str = "label",
) -> DataFrame:
    """Embedding-quality evaluation by leave-one-out kNN label prediction
    (the standard probe for 'do these embeddings encode the labels'):
    every vector is a query; its k nearest SAME-BUCKET neighbors (sign-
    LSH) vote by majority, and the prediction is compared to the vector's
    own label. The aggregate accuracy is the retrain/reembed health
    metric next to `embedding_drift`.

    Scale shape: corpus-wide leave-one-out means BOTH join sides are the
    corpus, so this deliberately does NOT reuse `knn_lsh` (which
    broadcasts its bounded probe side) — the kernel runs with
    `broadcast=False` and the bucket self-join shuffles both sides on the
    bucket key (pair work Σ|bucket|², the `density_census` bound); the
    vote is one (query,label) partial agg followed by a deterministic
    argmax (count desc, label asc) via a row_number window over the
    (query,label) vote counts — ORDER-based, not value-negation, so string
    labels rank correctly. The bucketed base is spread and checkpointed
    once, BEFORE the kernel (which then probes it as laid out), for both
    join sides and the verdict join-back.

    Output: (vec_id, true_label, pred_label, correct) — vectors with no
    same-bucket neighbor get pred_label null / correct false."""
    base = (
        ensure_parallelism(df, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.col(label_col).alias("label"),
            F.expr(_lsh_bucket_sql(_qn(vec_col), planes)).alias("bucket"),
        )
        # lazy: both join sides + the verdict join-back sit under ONE
        # action — its first stage materializes the blocks (cache locks
        # keep it computed once). Building the operator still launches
        # one job: AQE materializes the spread's exchange to build the
        # checkpoint's RDD
        .localCheckpoint(eager=False)
    )
    q = base.select(
        F.col("id").alias("query_id"), F.col("v").alias("qvec"), "bucket"
    )
    cols = [F.col("v").alias("cvec"), F.col("label").alias("label_b"), "bucket"]
    topk = _probe(
        base, q, "bucket", _COS, k, spread=False, broadcast=False, cols=cols,
        id_col="id", carry=("label_b",),
    )
    votes = topk.groupBy(F.col("query_id").alias("id_a"), "label_b").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    # argmax by (cnt DESC, label ASC) as an ORDER-based rank, never
    # arithmetic negation: labels are frequently strings (class names),
    # and -label would force a numeric cast (crash under ANSI, silent
    # all-null prediction otherwise)
    wv = Window.partitionBy("id_a").orderBy(
        F.col("cnt").desc(), F.col("label_b")
    )
    maj = (
        votes.withColumn("rn", F.row_number().over(wv))
        .where(F.col("rn") == 1)
        .select("id_a", F.col("label_b").alias("pred_label"))
    )
    return (
        base.select("id", "label")
        .join(maj, F.col("id") == F.col("id_a"), "left")
        .select(
            F.col("id").alias(id_col),
            F.col("label").alias("true_label"),
            "pred_label",
            F.coalesce(
                F.col("pred_label") == F.col("label"), F.lit(False)
            ).alias("correct"),
        )
    )


def mmr_select(
    corpus: DataFrame,
    query_vec: list[float],
    k: int = 5,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Maximal Marginal Relevance selection (Carbonell & Goldstein 1998):
    greedily pick `k` items maximizing

        score = λ·cos(query, v) − (1−λ)·max_{s ∈ selected} cos(v, s)

    — the relevance-vs-redundancy trade behind diverse retrieval results,
    RAG context packing, and diverse exemplar/eval-set selection (the
    query-conditioned sibling of `prototypicality`'s unconditioned prune).

    Scale shape: the rel kernel runs ONCE (checkpointed); each of the k
    rounds is a full-corpus max — a TakeOrdered(1), no shuffle beyond the
    reduce — with the selected set riding as ≤k literal vectors (the
    kmeans/BPE driver-round discipline: k rows total ever reach the
    driver). O(k·N) like the textbook algorithm; for k beyond ~tens,
    pre-shortlist with an ANN probe and run MMR on the shortlist.

    Output: (rank, <id_col>, rel, score) — rank 1..k in selection order;
    the id column keeps the caller's name AND type (string/int doc ids
    round-trip unchanged)."""
    spark = corpus.sparkSession
    vc_sql = f"CAST({_qn(vec_col)} AS ARRAY<DOUBLE>)"
    base = (
        ensure_parallelism(corpus, id_col)
        .select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.expr(
                f"round({_cosine_sql(vc_sql, darr(query_vec))}, 6)"
            ).alias("rel"),
        )
        # lazy: round 1's TakeOrdered materializes the rel kernel blocks
        .localCheckpoint(eager=False)
    )
    sel_vecs: list[list[float]] = []
    sel_ids: list = []
    picked: list[tuple] = []
    for _ in range(k):
        if sel_vecs:
            sims = [
                f"round({_cosine_sql('`v`', darr(sv))}, 6)"
                for sv in sel_vecs
            ]
            max_sim = (
                "greatest(" + ",".join(sims) + ")"
                if len(sims) > 1
                else sims[0]
            )
            cand = base.where(~F.col("id").isin(sel_ids))
        else:
            max_sim = "0.0D"
            cand = base
        score = F.expr(
            f"round({dlit(lam)} * `rel` - {dlit(1.0 - lam)} * {max_sim}, 6)"
        )
        rows = (
            cand.select("id", "v", "rel", score.alias("score"))
            .orderBy(F.col("score").desc(), "id")
            .limit(1)
            .collect()
        )
        if not rows:
            break
        r = rows[0]
        sel_ids.append(r["id"])
        sel_vecs.append(list(r["v"]))
        picked.append((len(picked) + 1, r["id"], r["rel"], r["score"]))
    from pyspark.sql import types as T

    id_type = corpus.schema[id_col].dataType
    schema = T.StructType(
        [
            T.StructField("rank", T.IntegerType(), False),
            T.StructField(id_col, id_type, True),
            T.StructField("rel", T.DoubleType(), True),
            T.StructField("score", T.DoubleType(), True),
        ]
    )
    return spark.createDataFrame(picked, schema)


def density_census(
    df: DataFrame,
    planes: list[list[float]],
    radius_cos: float = 0.2,
    min_pts: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ε-neighbor density census over sign-LSH blocks — the DBSCAN
    core-point primitive, and the density signal behind
    density-proportional dataset pruning (keep sparse-region examples,
    thin dense clumps) and outlier triage (n_neighbors = 0).

    For every vector: the count of SAME-BUCKET neighbors with cosine >=
    `radius_cos`, and `is_core` = count >= `min_pts`. Approximate by
    construction — neighbors hashed into a different bucket are missed
    (the standard sign-LSH recall trade; band-OR amplification over
    several plane sets raises recall at proportional cost).

    Scale shape: the census is a bucket-blocked self-join — pair work is
    Σ_b |bucket_b|², never the corpus², and bucket count 2^|planes| is
    chosen so E[|bucket|] = N/2^|planes| stays bounded (at 100 TB use
    30-40 planes, not 6). The bucketed base is localCheckpointed once for
    its three consumers (both join sides + the zero-fill join-back);
    isolated vectors survive with n_neighbors = 0 via the left join.

    Output: (id_col, n_neighbors, is_core).

    Degenerate-mass defense (EXACT, not a cap): identical vectors are
    collapsed to one representative per distinct value BEFORE the
    self-join and re-expanded by multiplicity afterwards — a flood of
    identical embeddings (zero vectors, default-initialized encoders,
    mirrored rows) lands in ONE bucket no matter how many planes exist,
    and the naive plan would pay |flood|² pair rows where the collapsed
    plan pays 1. Within an identical group, each member has mult−1
    neighbors iff its self-cosine clears the radius (always, except the
    zero vector, whose guarded cosine is 0). Results are value-identical
    to the naive formulation (the DuckDB oracle replays the naive one)."""
    raw = ensure_parallelism(df, id_col).select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    groups = (
        raw.groupBy("v")
        .agg(F.count(F.lit(1)).cast("bigint").alias("mult"))
        .select(
            "v",
            "mult",
            F.expr(_lsh_bucket_sql("`v`", planes)).alias("bucket"),
        )
        # lazy: the census self-join's first stage materializes the
        # distinct-collapsed groups once under the caller's action
        .localCheckpoint(eager=False)
    )
    a = groups.select(
        "bucket", F.col("v").alias("va"), F.col("mult").alias("mult_a")
    )
    b = groups.select(
        "bucket", F.col("v").alias("vb"), F.col("mult").alias("mult_b")
    )
    cross = (
        a.join(b, "bucket")
        .where(F.col("va") != F.col("vb"))
        .where(
            F.round(cosine("va", "vb"), 6)
            >= F.lit(radius_cos)
        )
        .groupBy("va")
        .agg(F.sum("mult_b").cast("bigint").alias("n_other"))
    )
    self_n = F.when(
        F.round(cosine("v", "v"), 6) >= F.lit(radius_cos),
        F.col("mult") - 1,
    ).otherwise(F.lit(0).cast("bigint"))
    per_group = (
        groups.join(cross, F.col("v") == F.col("va"), "left")
        .select(
            F.col("v").alias("gv"),
            (
                F.coalesce("n_other", F.lit(0).cast("bigint")) + self_n
            ).alias("n_neighbors"),
        )
    )
    # null-SAFE join-back: a row with a null embedding groups under the
    # null key, and a plain equi-join would silently drop it — the
    # one-row-per-input contract (and the oracle's LEFT JOIN) keeps it
    # with n_neighbors = 0
    return raw.join(
        per_group, F.col("v").eqNullSafe(F.col("gv"))
    ).select(
        F.col("id").alias(id_col),
        "n_neighbors",
        (F.col("n_neighbors") >= F.lit(min_pts)).alias("is_core"),
    )


def prototypicality(
    df: DataFrame,
    k: int = 4,
    iters: int = 2,
    prune_frac: float = 0.25,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 29,
    round_to: int = 6,
) -> DataFrame:
    """SSL-prototypes data pruning (Sorscher et al. 2022, 'Beyond neural
    scaling laws'): cluster the embeddings, score each example by cosine
    to its OWN cluster centroid (high = prototypical/easy, low = hard),
    and mark the most prototypical `prune_frac` of every cluster for
    removal — with abundant data, dropping easy examples beats random
    pruning, and doing it per-cluster keeps coverage of every mode.

    Built on `kmeans_lloyd` (the SemDeDup sibling — same trainer, but the
    verdict here needs NO pairwise join: one broadcast join against the
    k-row codebook instead of a cluster-blocked self-join, so this is the
    cheap first pass before SemDeDup's exact near-dup prune).

    Scale shape: the assign kernel is the one Arrow pass; the codebook
    (k rows) broadcasts; rank + cluster size come from ONE cluster-keyed
    window shuffle. The full per-cluster rank sort is what makes the
    output oracle-replayable; at extreme scale a keep-threshold-only
    caller can swap the window for a per-cluster score percentile (or
    `curation.group_topk_salted` to bound partition memory) — same
    verdicts, no total order.

    Output: (id_col, cluster, cos_c, rank, keep) — rank 1 = most
    prototypical; keep=false marks the pruned fraction."""
    clustered, cents = kmeans_lloyd(
        df, k=k, iters=iters, id_col=id_col, vec_col=vec_col, seed=seed,
        round_to=round_to, emit_vector=True, return_centroids=True,
    )
    spark = df.sparkSession
    cent_df = F.broadcast(
        spark.createDataFrame(
            [(int(c), list(v)) for c, v in cents],
            "cluster int, cvec array<double>",
        )
    )
    j = clustered.join(cent_df, "cluster").select(
        id_col,
        "cluster",
        F.round(cosine("v", "cvec"), 6).alias("cos_c"),
    )
    w = Window.partitionBy("cluster").orderBy(F.col("cos_c").desc(), id_col)
    wc = Window.partitionBy("cluster")
    return (
        j.withColumn("rank", F.row_number().over(w))
        .withColumn("n_c", F.count(F.lit(1)).over(wc))
        .select(
            id_col,
            "cluster",
            "cos_c",
            F.col("rank").cast("bigint").alias("rank"),
            (
                F.col("rank") > F.floor(F.lit(prune_frac) * F.col("n_c"))
            ).alias("keep"),
        )
    )


def semdedup(
    clustered: DataFrame,
    threshold: float = 0.3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cluster_col: str = "cluster",
    materialize_input: bool = True,
) -> DataFrame:
    """SemDeDup (Abbas et al. '23): semantic dedup by pruning, per coarse
    cluster, the higher-id member of every pair with cosine >= threshold.
    `clustered` = vectors + a cluster id (from `kmeans_lloyd` or any coarse
    quantizer). Returns the DROPPED ids.

    The cluster id blocks the self-join, so pair count is bounded by the
    largest cluster, not the corpus — the whole point of clustering first;
    the join co-partitions both sides on the cluster key (one shuffle each)
    and cosine runs JVM-side on the joined pair.

    `materialize_input` (default on) localCheckpoints `clustered` before the
    self-join: without it each join side re-executes the upstream subtree —
    for a kmeans_lloyd input that is the Arrow `assign` kernel, i.e. a full
    redundant pass over every embedding at corpus scale. One eager pass
    stores the assigned (id, cluster, vector) blocks (MEMORY_AND_DISK spill
    included) and both sides scan the blocks. Set False only when the input
    is already a bare table scan or cached."""
    if materialize_input:
        # lazy: the self-join's first map stage materializes the assign-
        # kernel blocks under the caller's action (partition-level cache
        # locks keep the Arrow kernel computed once even though both join
        # sides read it) — no separate construction-time pass
        clustered = clustered.localCheckpoint(eager=False)
    a = clustered.select(
        F.col(cluster_col).alias("c"),
        F.col(id_col).alias("id_a"),
        F.col(vec_col).alias("va"),
    )
    b = clustered.select(
        F.col(cluster_col).alias("c"),
        F.col(id_col).alias("id_b"),
        F.col(vec_col).alias("vb"),
    )
    pairs = a.join(b, "c").where(F.col("id_a") < F.col("id_b"))
    cos = F.round(cosine("va", "vb"), 6)
    return (
        pairs.where(cos >= threshold)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )


# ---------------------------------------------------------------------------
# Product quantization (IVF-PQ's fine quantizer): train / encode / ADC probe
# ---------------------------------------------------------------------------

def pq_train(
    df: DataFrame,
    m: int = 4,
    k: int = 4,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    seed: int = 29,
    round_to: int = 6,
) -> list[list[tuple[int, list[float]]]]:
    """Train product-quantization codebooks: split dim-D vectors into `m`
    contiguous sub-vectors of dim/m components and run deterministic Lloyd
    rounds independently per subspace (Jégou et al. 2011, "Product
    Quantization for Nearest Neighbor Search"). PQ is the fine quantizer of
    the IVF-PQ family — the standard billion-vector ANN layout: codes
    compress a dim-D float32 vector to `m` small integers, and query
    distances are m table lookups instead of dim multiplies.

    This is the one deterministic Lloyd trainer: `kmeans_lloyd` is its
    m=1 codebook. Determinism (so a SQL oracle can replay the training per
    subspace): the initial centroids are the SAME `k` rows in every
    subspace, those with the smallest portable hash of the id (stable
    across engines); each assignment uses squared-L2 rounded to `round_to`
    decimals with cluster-id tie-break (centroids sorted by id, argmin
    takes the first); updated centroid components are means rounded the
    same way, which re-quantizes the float-sum ordering noise between
    engines at every round.

    Scale shape: ONE Arrow-batched kernel pass per Lloyd round computes the
    per-subspace partial (count, sum) rows for ALL m subspaces together —
    per batch that is ≤ m·k bounded rows out, never the data; the driver
    combines m·k·(dim/m) doubles, a hand-rolled map-side combine, so the
    update rounds shuffle nothing. `iters` counts Lloyd rounds including
    the caller's final assignment: iters-1 update rounds (iters=2 ⇒
    codebook after one update, the _KMEANS_SQL c1 stage).

    Returns, per subspace, the (cluster_id, centroid) list sorted by
    cluster id — empty clusters drop, ids stay stable for oracle replay."""
    import numpy as np
    import pandas as pd

    from osmesa_spark.operators.dedup import _portable_hash

    if iters < 1:
        # the last round is the caller's assignment: with no rounds there
        # is no codebook to assign against
        raise ValueError(f"pq_train: iters must be >= 1, got {iters}")
    v = df.select(
        F.col(id_col).alias("vid"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    seeds = (
        v.select(
            "v", _portable_hash(F.col("vid").cast("string"), seed).alias("h"),
            "vid",
        )
        .orderBy("h", "vid")
        .limit(k)
        .collect()
    )
    if not seeds:
        raise ValueError("pq_train: input frame has no rows")
    # dim from the seed rows — no separate first() job
    dim = len(seeds[0]["v"])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    ds = dim // m
    cents = np.array([list(r["v"]) for r in seeds], dtype=np.float64)
    # books[s]: (cids array, centroid matrix) — same k seed rows everywhere
    books = [
        (np.arange(len(seeds), dtype=np.int64), cents[:, s * ds:(s + 1) * ds])
        for s in range(m)
    ]

    for _ in range(iters - 1):
        B = [(cid.copy(), C.copy()) for cid, C in books]

        def partial(batches, B=B, m=m, ds=ds):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                X = np.array(pdf["v"].tolist(), dtype=np.float64)
                rows = {"sub": [], "cluster": [], "n": [], "s": []}
                for s in range(m):
                    Xs = X[:, s * ds:(s + 1) * ds]
                    cid_arr, C = B[s]
                    D = np.round(
                        ((Xs[:, None, :] - C[None, :, :]) ** 2).sum(-1),
                        round_to,
                    )
                    a = D.argmin(1)
                    for i, cid in enumerate(cid_arr):
                        msk = a == i
                        if msk.any():
                            rows["sub"].append(s)
                            rows["cluster"].append(int(cid))
                            rows["n"].append(int(msk.sum()))
                            rows["s"].append(Xs[msk].sum(0).tolist())
                yield pd.DataFrame(rows)

        parts = v.mapInPandas(
            partial, schema="sub int, cluster int, n long, s array<double>"
        ).collect()
        sums: dict[tuple[int, int], np.ndarray] = {}
        ns: dict[tuple[int, int], int] = {}
        for r in parts:
            key = (r["sub"], r["cluster"])
            sums[key] = sums.get(key, np.zeros(ds)) + np.array(r["s"])
            ns[key] = ns.get(key, 0) + r["n"]
        books = []
        for s in range(m):
            cids = sorted(c for (ss, c) in ns if ss == s)
            books.append(
                (
                    np.array(cids, dtype=np.int64),
                    np.array(
                        [
                            np.round(sums[(s, c)] / ns[(s, c)], round_to)
                            for c in cids
                        ]
                    ),
                )
            )
    return [
        [(int(c), C[i].tolist()) for i, c in enumerate(cids)]
        for cids, C in books
    ]


def knn_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    m: int = 4,
    k_centroids: int = 4,
    iters: int = 2,
    seed: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Top-k by PQ asymmetric distance computation (ADC): corpus vectors are
    encoded to m codebook indices; each query precomputes one lookup row of
    rounded sub-distances per subspace, and a candidate's distance is the
    sum of m table lookups — the probe arithmetic of a billion-scale IVF-PQ
    index (Jégou et al. 2011 §IV).

    Spark shape: training collapses to literals at plan-build time (driver
    holds m·k·(dim/m) doubles — same boundedness as kmeans centroids), so
    the executed plan is PURE Column work: encode is a literal-fold argmin
    on the corpus side, the query side (small) broadcasts its lookup rows,
    and ADC is an m-element zip-fold — no Python stage, no shuffle of the
    corpus beyond the parallelism spread. At 100 TB the same plan streams
    the corpus once; codes can be precomputed and stored, turning the probe
    into a scan of m-byte codes instead of dim-float vectors.

    Output: (query_id, neighbor_id, rank) — rank 1..k by ascending ADC
    (squared-L2 approximation), self excluded, id tie-breaks."""
    books = pq_train(
        corpus, m=m, k=k_centroids, iters=iters, id_col=id_col,
        vec_col=vec_col, seed=seed,
    )

    vec_sql = f"CAST({_qn(vec_col)} AS ARRAY<DOUBLE>)"
    # codes are 1-based positions into the ascending-cid codebooks, so ties
    # break to the smallest cluster id, matching the oracle's ORDER BY
    # (dist, cid)
    codes = F.expr(_per_sub_sql(vec_sql, books, _pq_code_sql))
    qs = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(_per_sub_sql(vec_sql, books, _pq_dists_sql)).alias("luts"),
    )
    return _probe(
        corpus, qs, None, _ADC, k, ascending=True,
        cols=[codes.alias("codes")], id_col=id_col,
    ).select(*_OUT)


def knn_pq_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 50,
    m: int = 4,
    k_centroids: int = 16,
    iters: int = 2,
    seed: int = 29,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """PQ shortlist + exact re-rank (the IVFADC+R layout, Jégou et al.
    2011b "Searching in one billion vectors"): the compressed-domain ADC
    probe trims the corpus to `shortlist` candidates per query, then ONLY
    those candidates pay an exact squared-L2 against the full vectors.
    This is the production answer to PQ's ranking coarseness — recall is
    set by the shortlist depth while the full-precision work stays
    O(|Q|·shortlist), not O(|Q|·N).

    Spark shape: the shortlist output (|Q|·shortlist rows — bounded by the
    probe set, not the corpus) BROADCASTS into an equi-join against the
    corpus scan to fetch full vectors; the re-rank window runs on that
    bounded frame. At 100 TB the corpus is streamed once by the ADC stage
    and only shortlisted ids are re-materialized.

    Output: (query_id, neighbor_id, rank) — rank 1..k by exact rounded
    squared-L2, id tie-breaks."""
    short = knn_pq(
        corpus, queries, k=shortlist, m=m, k_centroids=k_centroids,
        iters=iters, seed=seed, id_col=id_col, vec_col=vec_col,
    ).select("query_id", "neighbor_id")
    v = F.col(vec_col).cast("array<double>")
    qs = queries.select(F.col(id_col).alias("query_id"), v.alias("qv"))
    # the corpus streams as scanned (no second spread) and meets the
    # broadcast (query, shortlisted id, query vector) rows on the id
    return _probe(
        corpus, short.join(F.broadcast(qs), "query_id"), "neighbor_id", _D2,
        k, ascending=True, spread=False, cols=[v.alias("v")], id_col=id_col,
    ).select(*_OUT)


def pq_encode(
    corpus: DataFrame,
    books: list[list[tuple[int, list[float]]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode every corpus vector to its m PQ codebook indices — the
    persistable compressed representation (m small ints instead of dim
    floats, a 32-64× storage cut at dim=64/m=4) that `knn_pq`-style ADC
    probes can scan WITHOUT touching the raw vectors. Pure Column: one
    `_pq_dists_sql` argmin per subspace, the distance row knn_pq ranks.

    Output: (id, codes: array<int>) — each code is the assigned CLUSTER ID
    (stable under codebook reordering, directly replayable by the SQL
    oracle's per-subspace assignment); a NULL vector's codes are NULL.
    Write this next to the corpus once, and every subsequent probe job
    reads m-byte codes, not vectors."""
    vec_sql = f"CAST({_qn(vec_col)} AS ARRAY<DOUBLE>)"
    return corpus.select(
        F.col(id_col).alias("id"),
        F.expr(_per_sub_sql(vec_sql, books, _cid_sql)).alias("codes"),
    )


def knn_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    coarse_k: int = 4,
    m: int = 4,
    pq_k: int = 4,
    iters: int = 2,
    seed: int = 29,
    nprobe: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """TRUE IVF-PQ (Jégou et al. 2011 §V, the billion-vector layout):
    a coarse k-means partitions the corpus; PQ codebooks are trained on
    the RESIDUALS r = x − centroid(cluster(x)) (residuals are smaller and
    better-centered than raw vectors, so the same code budget quantizes
    finer); each query coarse-assigns itself, forms ITS residual, and
    probes only its own inverted list via an EQUI-join on the coarse
    cluster id — the O(N/coarse_k) probe surface that broadcast-everything
    ADC (`knn_pq`) does not have.

    Spark shape: the coarse assignment is the kmeans Arrow kernel run ONCE
    and localCheckpointed (the materialized-kernel house pattern — the
    residual frame feeds PQ training, encoding AND the probe join without
    re-running Python); PQ training collapses to literals; the probe is a
    broadcast-query equi-join on `cluster`, so at scale each corpus
    partition only ever meets the queries assigned to its clusters.
    PQ seeds use seed+1 so the fine codebook's seed rows decorrelate from
    the coarse seeds.

    Output: (query_id, neighbor_id, rank) — rank 1..k by ascending
    residual-ADC within the query's nprobe nearest coarse cells, self
    excluded."""
    assigned, coarse = kmeans_lloyd(
        ensure_parallelism(corpus, id_col), k=coarse_k, iters=iters,
        id_col=id_col, vec_col=vec_col, seed=seed, emit_residual=True,
        return_centroids=True,
    )

    def cent_lookup_sql(cluster_sql: str) -> str:
        whens = " ".join(
            f"WHEN {cluster_sql} = {int(cid)} THEN {darr(c)}"
            for cid, c in coarse
        )
        return f"(CASE {whens} END)"

    # residuals come straight out of the assign kernel (emit_residual) —
    # no separate full-corpus subtraction stage
    # lazy: pq_train's seed job materializes the residual kernel blocks
    resid = assigned.select(
        F.col(id_col), "cluster", "r"
    ).localCheckpoint(eager=False)

    books = pq_train(
        resid, m=m, k=pq_k, iters=iters, id_col=id_col, vec_col="r",
        seed=seed + 1,
    )

    codes = F.expr(_per_sub_sql("`r`", books, _pq_code_sql))

    # query side: rank the coarse cells by the same rounded-L2 with cid
    # tie-break and probe the nprobe nearest — the standard recall/cost
    # dial (nprobe=1 ⇒ exactly the argmin cell); each probed cell gets its
    # OWN query residual, so the lookup rows are per (query, cell)
    qv_sql = f"CAST({_qn(vec_col)} AS ARRAY<DOUBLE>)"
    qs0 = queries.select(
        F.col(id_col).alias("query_id"),
        F.expr(f"explode({_nearest_cids_sql(qv_sql, coarse, nprobe)})").alias(
            "cluster"
        ),
        F.expr(qv_sql).alias("qv"),
    )
    q_resid_sql = (
        f"zip_with(`qv`, {cent_lookup_sql('`cluster`')}, (x, c) -> x - c)"
    )
    qs = qs0.select(
        "query_id",
        "cluster",
        F.expr(_per_sub_sql(q_resid_sql, books, _pq_dists_sql)).alias("luts"),
    )
    # the checkpointed residuals are probed as laid out: no second spread
    return _probe(
        resid, qs, "cluster", _ADC, k, ascending=True, spread=False,
        cols=["cluster", codes.alias("codes")], id_col=id_col,
    ).select(*_OUT)


def hard_negatives(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    dup_threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Hard-negative mining for retrieval training: per query, the top-k
    most-similar corpus items that are NOT near-duplicates — the negatives
    that actually teach a contrastive model (random negatives are too
    easy; near-duplicates are false negatives that poison the loss).
    Implemented as one scored pass with the duplicate band
    (cos ≥ dup_threshold) filtered BEFORE the rank window, so the top-k
    always holds usable negatives instead of k slots wasted on dups.

    Same plan shape as knn_bruteforce, the band being the probe kernel's
    pre-rank `keep` filter; at scale swap the scored pass for any ANN
    shortlist (knn_pq/knn_ivfpq) and keep the band filter + window.

    Output: (query_id, negative_id, cos, rank) — rank 1..k by descending
    cosine below the duplicate band."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    return _probe(
        corpus, q, None, _COS, k, keep=f"score < {dlit(dup_threshold)}",
        cols=[F.col(vec_col).alias("cvec")], id_col=id_col,
    ).select(
        "query_id",
        F.col("neighbor_id").alias("negative_id"),
        F.col("score").alias("cos"),
        "rank",
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection (embedding compression)
# ---------------------------------------------------------------------------

def rp_signs(dim: int, d_out: int = 16, seed: int = 41) -> list[list[int]]:
    """Deterministic ±1 sign matrix for JL random projection (Achlioptas
    2003: a Rademacher matrix satisfies the JL lemma with the same
    distortion bound as Gaussian). Driver-side literal — embedded in the
    plan and replayable verbatim by an external oracle, like
    `lsh_planes`."""
    import random

    rng = random.Random(seed)
    return [[rng.choice((-1, 1)) for _ in range(dim)] for _ in range(d_out)]


def random_projection(
    df: DataFrame,
    signs: list[list[int]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    out_col: str = "rp",
) -> DataFrame:
    """Project `vec_col` to len(signs) dims: out_j = Σ_i s_ji·v_i / √d_out.
    Each component folds through `zip_with` + `aggregate` lambdas — the
    same left-to-right association an oracle's list_sum / `+`-chain
    replays, so results are IEEE-bit-exact (±1 multiplies and the
    power-of-two √16 = 4 scale are exact float ops). The fold form
    matters: unrolling d_out·dim expression nodes blows janino's 64 KB
    generated-method limit and silently drops the whole stage to
    interpreted eval (measured 25× slower on the kNN probe).

    Scale story: this is the cheap embedding-compression path — project
    once, persist the short vectors, and every downstream probe pays
    d_out/dim of the arithmetic and scan bytes (for the default 64→16,
    4×) while JL bounds the cosine distortion. A narrow projection, no
    shuffle."""
    import math

    d_out = len(signs)
    scale = math.sqrt(d_out)
    v = F.col(vec_col).cast("array<double>")
    # ONE transform over a 2-D literal sign matrix (constant-folded to a
    # single Literal) instead of d_out separate aggregate trees: the
    # per-row fold order is identical, but the expression tree is ~d_out×
    # smaller, which keeps Catalyst analysis + codegen compile time flat —
    # with d_out sibling trees each carrying a dim-literal array, a cold
    # codegen cache pays ~2 s of compile per plan build
    # the matrix goes through ONE parsed expression, not d_out·dim F.lit()
    # Column objects — each F.lit is a py4j round-trip and the 1024 of
    # them cost ~2 s of DRIVER time per plan build
    mat = F.expr(
        "array("
        + ",".join(
            "array(" + ",".join(repr(float(s)) for s in srow) + ")"
            for srow in signs
        )
        + ")"
    )
    rp = F.transform(
        mat,
        lambda row: F.aggregate(
            F.zip_with(v, row, lambda x, s: x * s),
            F.lit(0.0),
            lambda acc, x: acc + x,
        )
        / F.lit(scale),
    )
    return df.select(F.col(id_col), rp.alias(out_col))


def knn_rp(
    corpus: DataFrame,
    queries: DataFrame,
    signs: list[list[int]],
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """ANN by rank-in-projected-space: exact top-k cosine over the
    JL-compressed vectors — the compression counterpart of knn_lsh's
    bucketing (every candidate still scored, but each score costs
    d_out/dim of the full arithmetic; at 100 TB the persisted short
    vectors also shrink the scan surface by the same factor). Same output
    shape as knn_bruteforce."""
    q = random_projection(queries, signs, id_col, vec_col).select(
        F.col(id_col).alias("query_id"), F.col("rp").alias("qvec")
    )
    # the kernel's spread Exchange sits BETWEEN the projection and the
    # join: Catalyst's project-collapsing would otherwise inline the
    # d_out-fold projection into every pair-side reference (dot + norm
    # per query pair — up to 2·|queries| recomputes per corpus row);
    # expressions don't cross an exchange, so each row projects exactly
    # once and the shuffle ships the SHORT vectors
    return _probe(
        random_projection(corpus, signs, id_col, vec_col), q, None, _COS, k,
        cols=[F.col("rp").alias("cvec")], id_col=id_col,
    ).select(*_OUT)


def kmeans_assign(
    df: DataFrame,
    centroids: list[tuple[int, list[float]]],
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    round_to: int = 6,
) -> DataFrame:
    """Assign vectors to FIXED centroids — the incremental-index append
    path: a new corpus slice joins an already-trained IVF/SemDeDup
    partitioning without retraining (or re-touching) the base corpus.

    Same semantics as `kmeans_lloyd`'s assignment round (squared-L2
    rounded to `round_to`, ties to the lowest cluster id), but because the
    centroids are plan literals the whole thing is a pure-Column
    projection — k·dim multiply-adds per row, no shuffle, no Python, and
    an external oracle can replay it exactly. The distances are ONE
    `_pq_dists_sql` row (one fold lambda over the literal codebook,
    left-to-right, the list_sum order) and the cluster is the cid at its
    first minimum. A NULL vector gets a NULL cluster."""
    v_sql = f"CAST({_qn(vec_col)} AS ARRAY<DOUBLE>)"
    return df.select(
        F.col(id_col),
        F.expr(_cid_sql(v_sql, sorted(centroids), round_to)).alias("cluster"),
    )


def _binary_sign_pack_sql(vec_sql: str, dim: int) -> list[str]:
    """Sign-binarize a float vector into ⌈dim/32⌉ POSITIVE bigint words
    (32 sign bits each — staying under 2^32 keeps every word positive in
    both engines, no sign-bit arithmetic games). Bit j of word w is set
    when vec[32w + j] > 0. Disjoint powers of two sum to their bitwise
    OR, so the fold is a plain `+` add-chain in whole-stage codegen."""
    words = []
    for w in range((dim + 31) // 32):
        lo = w * 32
        n = min(32, dim - lo)
        terms = ["CAST(0 AS BIGINT)"]
        for j in range(n):
            terms.append(
                f"(CASE WHEN element_at({vec_sql}, {lo + j + 1}) > 0 "
                f"THEN CAST({1 << j} AS BIGINT) "
                f"ELSE CAST(0 AS BIGINT) END)"
            )
        words.append("(" + " + ".join(terms) + ")")
    return words


def knn_binary_rerank(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    shortlist: int = 32,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Binary-quantization ANN (the modern memory-bound recipe: RaBitQ /
    faiss IndexBinaryFlat / every vector DB's "binary quantization +
    rescore" mode): sign-binarize to 1 bit/dimension, shortlist the top
    `shortlist` per query by Hamming distance (xor + bit_count over 2
    bigint words — 32x less memory traffic than float dots), then rerank
    ONLY the shortlist with exact cosine.

    Scale shape: the Hamming pass scans (id, 2 bigints) per corpus row
    against broadcast queries — pure codegen, the scan never touches the
    float vectors (column pruning keeps them out of the shortlist scan);
    the exact rerank joins the float vectors back for `shortlist` rows
    per query only. Output: (query_id, neighbor_id, rank), self excluded,
    ties by (cos desc, neighbor_id)."""
    words = _binary_sign_pack_sql(_qn(vec_col), dim)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        *[F.expr(w).alias(f"qb{i}") for i, w in enumerate(words)],
    )
    hamming = " + ".join(
        f"bit_count(`qb{i}` ^ `cb{i}`)" for i in range(len(words))
    )
    short = _probe(
        corpus, q, None, hamming, shortlist, ascending=True,
        cols=[F.expr(w).alias(f"cb{i}") for i, w in enumerate(words)],
        id_col=id_col,
    ).select("query_id", "neighbor_id")
    # the rerank probes the shortlist — already spread and keyed by query —
    # with its float vectors fetched by id, against the query vectors
    fetched = short.join(
        corpus.select(
            F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("cvec")
        ),
        "neighbor_id",
    )
    qv = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("qvec")
    )
    return _probe(
        fetched, qv, "query_id", _COS, k, spread=False,
        cols=["query_id", "cvec"], id_col="neighbor_id",
    ).select(*_OUT)
