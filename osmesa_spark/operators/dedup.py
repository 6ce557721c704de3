"""Deduplication operators for the training-data pipeline.

Four tiers, cheapest-first (each one a candidate-pruning stage for the next):

1. exact        — hash-groupBy on normalized content (one shuffle, partial agg)
2. minhash+LSH  — shingle → K minhashes → B bands → band-bucket join;
                  only same-bucket pairs are compared (Broder '97 / LSH).
3. simhash      — 64-bit weighted-projection fingerprint; near-dups differ in
                  few bits (Charikar '02, used at web scale in Manku '07).
4. n-gram Jaccard — exact verification on the LSH candidate pairs.

Scale notes: every stage is an explode/groupBy/join of narrow rows, so it
partitions by content hash and scales linearly; the one collect to the
driver is `connected_components`' finish on a graph under a fixed edge
budget. The only O(n²) surface is *within an LSH bucket*, bounded by
band width. Portable hashing: md5-hex→int (same bits in any engine) so the
DuckDB oracle can replay signatures exactly — xxhash64 would be faster but is
Spark-private; swap `_portable_hash` for `F.xxhash64` when oracle parity is
not required.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmesa_spark.functions.text import (
    doc_fingerprint,
    shingles_sql,
    word_tokens,
)
from osmesa_spark.util import ensure_parallelism


def _portable_hash(col: Column, seed: int) -> Column:
    """Deterministic 60-bit integer hash reproducible in DuckDB:
    bigint(first 15 hex chars of md5(seed || value))."""
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(str(seed) + ":"), col)), 1, 15), 16, 10
    ).cast("bigint")


# Universal-hash MinHash: ONE md5 per shingle, then K cheap affine rehashes
# h_i(x) = (a_i * x + b_i) mod p with p = 2^31 - 1. Keeping x < 2^31 bounds
# a_i * x < 2^62 so 64-bit arithmetic never overflows (ANSI mode safe).
MINHASH_PRIME = 2_147_483_647


def _minhash_coeffs(num_hashes: int, seed: int = 42) -> list[tuple[int, int]]:
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, MINHASH_PRIME), rng.randrange(0, MINHASH_PRIME))
        for _ in range(num_hashes)
    ]


def shingle_hashes_sql(text_sql: str, n: int = 3) -> str:
    """array<bigint>: the portable base hash of each word n-gram shingle
    (`shingles_sql`) — bigint(first 15 hex chars of md5(shingle)), reduced
    below 2^31 — in shingle order."""
    return (
        f"transform({shingles_sql(text_sql, n)}, s -> "
        f"(CAST(conv(substring(md5(s), 1, 15), 16, 10) AS BIGINT)"
        f" % {MINHASH_PRIME}))"
    )


def gram_hash60(col: Column) -> Column:
    """Full-width (60-bit) portable gram hash for identity joins/counts.
    Unlike `shingle_hashes_sql`, NOT reduced below 2^31 — that reduction is
    a MinHash overflow guard and birthday-collides around ~46k distinct
    grams, which corrupts exact gram-identity semantics. DuckDB mirror:
    ('0x' || substr(md5(g), 1, 15))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup on normalized-content fingerprint. Returns one row per
    distinct content: (fingerprint, keep_id = min id, dup_count).

    Plan shape: project → hash-aggregate (map-side combine) → single shuffle
    on fingerprint. At 100 TB this is the cheapest possible full-data dedup."""
    return (
        df.select(
            doc_fingerprint(text_col).alias("fingerprint"), F.col(id_col)
        )
        .groupBy("fingerprint")
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count(F.lit(1)).alias("dup_count"),
        )
    )


def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 16,
    shingle_n: int = 3,
) -> DataFrame:
    """(id, sig: array<bigint>[num_hashes]) — min over shingles of K affine
    rehashes of ONE portable base hash per shingle; explode-free via
    transform+array_min, all in whole-stage codegen."""
    from osmesa_spark.functions.litexpr import q as _qn
    from osmesa_spark.functions.text import word_tokens_sql

    coeffs = _minhash_coeffs(num_hashes)
    text_sql = _qn(text_col)
    # Row-pruning filter uses a CHEAP expression: any filter here is pushed
    # below the repartition exchange by Catalyst, so an expensive one would
    # serialize the whole hash pipeline into the (possibly single-split)
    # scan stage. size(tokens) >= n  ⟺  size(shingles) > 0.
    kept = df.select(id_col, text_col).where(
        F.expr(f"size({word_tokens_sql(text_sql)}) >= {shingle_n}")
    )
    # per-shingle md5 is the CPU hot spot: spread small scans across cores
    kept = ensure_parallelism(kept, id_col)
    base = shingle_hashes_sql(text_sql, shingle_n)
    # The base hash array is materialized into its OWN projection column,
    # then each of the K affine minima is one array_min(transform(...))
    # pass over that column. Referencing a multi-used non-cheap alias
    # blocks CollapseProject (Spark 3.3+), so the md5 base hash still runs
    # exactly once per shingle — verified: ONE md5 in the plan, values
    # bit-identical. vs the former K-slot fold (one aggregate allocating a
    # K-array PER SHINGLE): ~20% faster on the sf0.1 signature pass (r11
    # noop A/B: 0.46 -> 0.38 s median) — K length-S passes allocate K
    # arrays per doc instead of S arrays of K. Rendered as ONE SQL-string
    # F.expr parse: the DSL form cost ~0.9 s of py4j driver chatter per
    # construction (see functions/litexpr.py).
    hv = kept.select(F.col(id_col).alias("id"), F.expr(base).alias("__hv"))
    mins = ",".join(
        f"array_min(transform(`__hv`, h -> (h * {a} + {b})"
        f" % {MINHASH_PRIME}))"
        for a, b in coeffs
    )
    return hv.select("id", F.expr(f"array({mins})").alias("sig"))


def _pair_combinations(
    arr: Column, pair: Callable[[Column, Column], Column]
) -> Column:
    """`pair(x, y)` for every x before y in the array `arr`, in-column:
    n·(n−1)/2 elements. The one in-column pair expression: bucket members
    in `_band_pairs`, tag keys in the tag co-occurrence query."""
    return F.flatten(
        F.transform(
            arr,
            lambda x, i: F.transform(
                F.slice(arr, i + 2, F.greatest(F.size(arr) - i - 1, F.lit(0))),
                lambda y: pair(x, y),
            ),
        )
    )


def _band_pairs(
    rows: DataFrame,
    bands: list[str],
    payload: str,
    verify_sql: str | None = None,
    max_bucket: int | None = None,
) -> DataFrame:
    """The banded pair kernel of `lsh_candidate_pairs`, `simhash_dedup`
    and `multimodal.phash_pairs`. Each (id, ...) row of `rows` explodes
    into one (band, val) membership per SQL band value in `bands`; each
    (band, val) group's sorted members pair in-column. `payload` is the
    SQL of a row's full fingerprint `fp`. With `verify_sql`, a predicate
    over the pair's `hamming`, members shuffle as struct(id, fp) and pairs
    are (id_a, id_b, hamming); without it they shuffle as bare ids and
    pairs are (id_a, id_b).

    In-column pairing, not a bucket self-join: a self-join executes the
    fingerprint lineage on both sides (Catalyst does not dedupe a plan
    referenced twice); the groupBy computes each fingerprint once and
    shuffles one narrow row per membership.

    `max_bucket` caps degenerate groups: over-cap (band, val) groups never
    collect a member list; their members group by the full fingerprint
    and join the group's min-id representative by linear star edges, so
    certain duplicates survive the cap and only distinct-fingerprint
    collisions are skipped. A count census, a broadcast anti-join and
    semi-join of the few over-cap keys, and a min-by-key join: partition-
    local pruning in the spirit of REPOSE (ICDE 2021). Its three consumers
    read `rows` pinned once, so the fingerprint kernel never re-executes
    per branch. None keeps exact all-pairs semantics."""
    if max_bucket is not None:
        rows = rows.localCheckpoint(eager=False)
    structs = ",".join(
        f"named_struct('band', {b}, 'val', {v})" for b, v in enumerate(bands)
    )
    banded = rows.select(
        "id",
        F.expr(payload).alias("fp"),
        F.expr(f"explode(array({structs}))").alias("b"),
    ).select("id", "fp", "b.band", "b.val")

    def member(id_col: str) -> Column:
        if verify_sql:
            return F.struct(F.col(id_col).alias("id"), "fp")
        return F.col(id_col)

    def pair(x: Column, y: Column) -> Column:
        if not verify_sql:
            return F.struct(x.alias("id_a"), y.alias("id_b"))
        hamming = F.bit_count(x["fp"].bitwiseXOR(y["fp"]))
        return F.struct(
            x["id"].alias("id_a"), y["id"].alias("id_b"), hamming.alias("hamming")
        )

    star = None
    if max_bucket is not None:
        over = (
            banded.groupBy("band", "val")
            .agg(F.count(F.lit(1)).alias("__n"))
            .where(F.col("__n") > max_bucket)
            .select("band", "val")
        )
        # over-cap keys are pathologies, few by definition: broadcast them
        # as an exclusion list rather than shuffling the corpus-sized
        # membership table against itself
        members = (
            banded.join(F.broadcast(over), ["band", "val"], "left_semi")
            .select("id", "fp")
            .distinct()
        )
        banded = banded.join(F.broadcast(over), ["band", "val"], "left_anti")
        reps = members.groupBy("fp").agg(F.min("id").alias("__rep"))
        # a star edge's two ends share one fingerprint: hamming 0
        star = (
            members.join(reps, "fp")
            .where(F.col("id") != F.col("__rep"))
            .select(pair(member("__rep"), member("id")).alias("p"))
            .select("p.*")
        )
    groups = banded.groupBy("band", "val").agg(
        F.array_sort(F.collect_list(member("id"))).alias("ms")
    ).where(F.size("ms") >= 2)
    pairs = groups.select(
        F.explode(_pair_combinations(F.col("ms"), pair)).alias("p")
    ).select("p.*")
    if verify_sql:
        pairs = pairs.where(verify_sql)
    if star is not None:
        pairs = pairs.unionByName(star)
    # one band emits each pair once
    return pairs.distinct() if len(bands) > 1 else pairs


def lsh_candidate_pairs(
    sigs: DataFrame,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = None,
) -> DataFrame:
    """Band the signature and emit candidate pairs per (band, band-hash)
    bucket through the banded kernel `_band_pairs`: bare ids, no verify.
    Returns (id_a, id_b) pairs with id_a < id_b, distinct.

    `max_bucket` caps degenerate buckets at 100 TB scale: a bucket holding
    millions of ids (boilerplate/empty-text collisions) would materialize
    one reducer-side array AND emit useless O(n²) candidates — standard
    LSH practice (datasketch, Spark MinHashLSH) bounds such buckets, since
    exact grouping of their members is cheaper than pairing them. Over-cap
    members are grouped by xxhash64 of the whole signature, one narrow
    bigint per membership, so certainly-duplicate docs still reach the
    verify/CC stages. Measured cost of the cap (sf0.1, local[32], A/B same
    session): ~0.3-0.5 s per call (~25-40%) — the census pass + signature
    materialization that bound reducer memory; worth it everywhere a real
    corpus can contain boilerplate floods."""
    cell = "CAST(element_at(`sig`, {}) AS STRING)"
    buckets = [
        "concat_ws(',', {})".format(",".join(
            cell.format(b * rows_per_band + r + 1) for r in range(rows_per_band)
        ))
        for b in range(bands)
    ]
    return _band_pairs(sigs, buckets, "xxhash64(`sig`)", max_bucket=max_bucket)


def _posting_pairs(
    postings: DataFrame,
    max_df: int,
    weight: str,
    totals: DataFrame,
    score_sql: list[str],
) -> DataFrame:
    """The posting-list pair kernel of `sparse_cosine_pairs` and
    `winnow_overlap_pairs`. `postings` holds one (id, key, df, ...) row
    per document and key, `df` being the key's document frequency. Keys
    in more than `max_df` documents are pruned first: a key every
    document shares would fan out O(N²) join rows through its one posting
    list. The kept postings self-join on `key` into id_a < id_b pairs,
    their other columns suffixed `_a` and `_b`, and `weight` (a SQL
    aggregate with its alias, say `sum(wt_a * wt_b) AS dot`) sums each
    pair's shared keys. The caller's per-doc `totals` (id, total) join on
    both sides as `total_a` and `total_b`, and `score_sql` lists the
    output columns after (id_a, id_b).

    No broadcast hint on the totals joins: totals are per doc (corpus-
    sized at 100 TB). Catalyst still broadcasts a side under the
    threshold; above it the join degrades to a sort-merge join on id."""
    idx = postings.where(F.col("df") <= max_df)
    carried = [c for c in idx.columns if c not in ("id", "key", "df")]
    a, b = (
        idx.select(
            F.col("id").alias(f"id_{s}"),
            "key",
            *[F.col(c).alias(f"{c}_{s}") for c in carried],
        )
        for s in "ab"
    )
    na, nb = (
        totals.select(
            F.col("id").alias(f"id_{s}"), F.col("total").alias(f"total_{s}")
        )
        for s in "ab"
    )
    return (
        a.join(b, "key")
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.expr(weight))
        .join(na, "id_a")
        .join(nb, "id_b")
        .select("id_a", "id_b", *[F.expr(c) for c in score_sql])
    )


def sparse_cosine_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_df: int = 100,
    threshold: float = 0.6,
) -> DataFrame:
    """Sparse TF-IDF cosine near-dup pairs via INVERTED-INDEX join — the
    token-space counterpart of MinHash (exact weights, no signature
    approximation). Per-(doc, term) tf·idf weights are the postings of
    the posting-list kernel `_posting_pairs`: a term-keyed self-join
    accumulates partial dot products; full doc norms normalize.

    Scale bound: terms with document frequency > `max_df` are pruned from
    the INDEX (not the norms — pruning can only LOWER similarity, never
    inflate it). This is the standard sparse-all-pairs trick: a stop-word
    shared by every doc otherwise contributes O(N²) join rows through one
    posting list. At 100 TB keep max_df ≪ corpus size (e.g. 1e5).
    Measured flood evidence: tests/test_properties.py::
    test_sparse_cosine_survives_stopword_flood.

    Output: (id_a, id_b, cos) — id_a < id_b, cos 6dp, cos >= threshold."""
    words = df.select(
        F.col(id_col).alias("id"),
        F.explode(word_tokens(text_col)).alias("key"),
    )
    # tf feeds THREE consumers (the n_docs scalar, the df_ marginal and
    # the wts projection) — without a pin the tokenize+count subtree runs
    # once under the n_docs job and TWICE more inside the final action
    # (Catalyst plans the subtree per reference). Lazy checkpoint: creating
    # it already runs the count's shuffle-map stage as a job (AQE executes
    # a pinned plan's non-result stages to build its RDD); the n_docs count
    # below materializes the blocks, and everything downstream reads them.
    # An eager pin costs one job more (its own result job).
    tf = words.groupBy("id", "key").agg(
        F.count(F.lit(1)).cast("double").alias("tf")
    ).localCheckpoint(eager=False)
    df_ = tf.groupBy("key").agg(F.count(F.lit(1)).cast("double").alias("df"))
    n_docs = tf.select("id").distinct().count()
    wts = tf.join(df_, "key").select(
        "id",
        "key",
        (F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df"))).alias("wt"),
        "df",
    )
    # the norms run over every term, before the max_df prune
    norms = wts.groupBy("id").agg(
        F.sqrt(F.sum(F.col("wt") * F.col("wt"))).alias("total")
    )
    return _posting_pairs(
        wts,
        max_df,
        "sum(wt_a * wt_b) AS dot",
        norms,
        ["round(dot / greatest(total_a * total_b, 1e-12), 6) AS cos"],
    ).where(F.col("cos") >= F.lit(threshold))


def _pair_sides(pairs: DataFrame, per_id: DataFrame) -> DataFrame:
    """(id_a, id_b, a, b): each pair of `pairs` with the `per_id`
    (id, ...) rows of its two ends as structs `a` and `b`; a pair with an
    end missing from `per_id` drops out.

    One join, not two: each pair explodes into (id_a, id_b, id) rows,
    `per_id` joins in once, and a groupBy on the pair key re-pairs the
    ends. Joining per side would execute `per_id`'s projection (shingle
    hashing, the CPU hot spot) twice — Catalyst does not dedupe a subplan
    referenced twice."""
    end = F.struct(*[c for c in per_id.columns if c != "id"])
    sides = pairs.select(
        "id_a", "id_b", F.explode(F.array("id_a", "id_b")).alias("id")
    )
    return (
        sides.join(per_id, "id")
        .groupBy("id_a", "id_b")
        .agg(*[
            F.first(F.when(F.col("id") == F.col(f"id_{s}"), end), True).alias(s)
            for s in "ab"
        ])
        .where(F.col("a").isNotNull() & F.col("b").isNotNull())
    )


def _shingle_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    shingle_n: int,
) -> DataFrame:
    """`_pair_sides` over each doc's distinct n-gram shingle set `sh`:
    the input of the pair verifiers."""
    from osmesa_spark.functions.litexpr import q as _qn

    sh = ensure_parallelism(df.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("id"),
        F.expr(
            f"array_distinct({shingles_sql(_qn(text_col), shingle_n)})"
        ).alias("sh"),
    )
    return _pair_sides(pairs, sh)


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact n-gram Jaccard on candidate pairs: (id_a, id_b, jaccard) with
    jaccard ≥ threshold. Shingle sets are joined in once (`_shingle_pairs`),
    then compared with array set ops in-column."""
    joined = _shingle_pairs(df, pairs, text_col, id_col, shingle_n)
    inter = F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
    union = F.size(F.array_union("a.sh", "b.sh")).cast("double")
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(inter / F.greatest(union, F.lit(1.0)), 4).alias("jaccard"),
        )
        .where(F.col("jaccard") >= threshold)
    )


def containment_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """DIRECTIONAL n-gram containment on candidate pairs:
    cont_a = |A∩B|/|A| (fraction of A's shingles inside B), cont_b
    symmetric; keep pairs with max(cont_a, cont_b) ≥ threshold. Catches
    sub-document duplication — a short doc quoted inside a long one scores
    near-1 containment while its Jaccard stays low (the CCNet/RefinedWeb
    sub-dup signal the symmetric metric misses). Same single-join shape as
    jaccard_verify."""
    joined = _shingle_pairs(df, pairs, text_col, id_col, shingle_n)
    inter = F.size(F.array_intersect("a.sh", "b.sh")).cast("double")
    cont_a = inter / F.greatest(F.size("a.sh").cast("double"), F.lit(1.0))
    cont_b = inter / F.greatest(F.size("b.sh").cast("double"), F.lit(1.0))
    return (
        joined.select(
            "id_a",
            "id_b",
            F.round(cont_a, 4).alias("cont_a"),
            F.round(cont_b, 4).alias("cont_b"),
        )
        .where(F.greatest("cont_a", "cont_b") >= threshold)
    )


def simhash64(text: str, token_hash_bits: int = 60) -> Column:
    """64-bit (well, `token_hash_bits`-bit) SimHash of word tokens, pure
    Column HOFs: per-bit vote = sum over tokens of (+1 if bit set else -1);
    fingerprint bit b = vote > 0. Implemented as a fold over bit positions."""
    toks = word_tokens(text)
    hashed = F.transform(toks, lambda t: _portable_hash(t, 0))
    pow2 = F.array(
        *[F.lit(1 << b).cast("bigint") for b in range(token_hash_bits)]
    )
    # One fold with a bits-wide vote accumulator — per-bit aggregates would
    # re-inline the token-hash transform `token_hash_bits` times (Catalyst
    # subexpression elimination skips lambda-bearing exprs). Bit b of h is
    # tested as h & 2^b != 0 against the literal powers array.
    votes = F.aggregate(
        hashed,
        F.array_repeat(F.lit(0), token_hash_bits),
        lambda acc, h: F.zip_with(
            acc,
            pow2,
            lambda a, p: a + F.when(h.bitwiseAND(p) != 0, 1).otherwise(-1),
        ),
    )
    # set bits have disjoint power-of-two values, so sum == bitwise-or
    return F.aggregate(
        F.zip_with(
            votes,
            pow2,
            lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


def simhash_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    prefix_bits: int = 16,
    max_hamming: int = 8,
    bits: int = 60,
) -> DataFrame:
    """Near-dup pairs by SimHash: block on the top `prefix_bits` of the
    fingerprint (Manku-style single-table probe), then exact Hamming ≤
    max_hamming within a block via bit_count(xor).

    The block is the banded kernel `_band_pairs` with one band, so the
    simhash fold (the CPU hot spot) runs once per doc."""
    sh = ensure_parallelism(df.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("id"), simhash64(text_col, bits).alias("sh")
    )
    return _band_pairs(
        sh,
        [f"shiftrightunsigned(sh, {bits - prefix_bits})"],
        "sh",
        f"hamming <= {max_hamming}",
    )


def _cc_raw(pairs: DataFrame, id_a: str, id_b: str) -> DataFrame:
    """Normalize a pair frame to bigint (a, b) and materialize it ONCE —
    the pair subtree upstream (typically the whole LSH pipeline) must not
    re-execute for every downstream consumer (node set, edge set, star
    fallback)."""
    # eager=False: AQE still runs the pair plan's non-result stages when
    # the pin is created, but its final stage runs inside the first
    # consumer's job (the driver pull) — one job instead of a separate
    # checkpoint job followed by the pull (guide §1.2: fewer
    # passes/barriers); above the edge budget every later consumer
    # (propagation, star fallback, self-roots union) reads the blocks.
    return pairs.select(
        F.col(id_a).cast("bigint").alias("a"),
        F.col(id_b).cast("bigint").alias("b"),
    ).localCheckpoint(eager=False)


def _with_self_roots(raw: DataFrame, labels: DataFrame) -> DataFrame:
    """Union in (node, node) for every node of `raw` absent from `labels`
    — component roots the star kernel leaves implicit, and nodes that
    appear only in self-loop pairs (a == b)."""
    all_nodes = (
        raw.select(F.col("a").alias("node"))
        .union(raw.select(F.col("b").alias("node")))
        .distinct()
    )
    roots = all_nodes.join(labels.select("node"), "node", "left_anti").select(
        "node", F.col("node").alias("component_id")
    )
    return labels.union(roots)


# Edge budget of connected_components' driver finish: a graph of at most
# this many (a, b) pairs (about 16 MB of bigints) is labelled in the
# driver; a larger one stays distributed.
_CC_DRIVER_EDGES = 1_000_000


def _cc_driver_labels(raw: DataFrame) -> DataFrame | None:
    """All labels of the pair graph `raw`, computed in the driver, or None
    when it has more than `_CC_DRIVER_EDGES` pairs. One action pulls at
    most budget + 1 pairs through Arrow; the union-find is numpy
    hook-and-jump: every edge whose endpoints sit in different trees hooks
    the larger root onto the smaller, then pointer jumping flattens each
    tree onto its root. A tree's root is its smallest node, and a tree
    adjacent to a smaller one merges within two rounds, so the tree count
    of a component halves every two rounds: O(log n) rounds of O(m) work.
    Same contract as `_with_self_roots` over the distributed labels,
    including the (null, null) row a null id yields there."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    tbl = raw.limit(_CC_DRIVER_EDGES + 1).toArrow()
    if tbl.num_rows > _CC_DRIVER_EDGES:
        return None
    a, b = tbl.column("a"), tbl.column("b")
    has_null = a.null_count + b.null_count > 0
    # a pair with one null id still makes its other id a node
    pairs = pa.table({"a": pc.coalesce(a, b), "b": pc.coalesce(b, a)})
    pairs = pairs.drop_null()
    ends = np.concatenate(
        [pairs.column("a").to_numpy(), pairs.column("b").to_numpy()]
    )
    nodes, ix = np.unique(ends, return_inverse=True)
    ia, ib = ix[: pairs.num_rows], ix[pairs.num_rows :]
    parent = np.arange(len(nodes))
    while True:
        ra, rb = parent[ia], parent[ib]
        split = ra != rb
        if not split.any():
            break
        np.minimum.at(
            parent, np.maximum(ra, rb)[split], np.minimum(ra, rb)[split]
        )
        while not np.array_equal(parent[parent], parent):
            parent = parent[parent]
    out = pa.table({"node": nodes, "component_id": nodes[parent]})
    if has_null:
        null = pa.table({"node": [None], "component_id": [None]}, out.schema)
        out = pa.concat_tables([out, null])
    return raw.sparkSession.createDataFrame(
        out, "node bigint, component_id bigint"
    )


def _cc_propagation_labels(raw: DataFrame, max_rounds: int):
    """Min-label propagation over normalized (a, b) pairs. Returns the
    label frame (covering every node with at least one non-self edge) if
    the fixpoint was reached within `max_rounds`, else None — the caller
    then falls back to the star kernel. Convergence check: sum(label) is
    monotone non-increasing and stalls exactly at the fixpoint (labels
    only ever decrease), so one cheap agg per round replaces a self-join
    diff."""
    e = raw.where(F.col("a") != F.col("b")).distinct()
    # a lazy pin, not persist(): a cached plan runs without AQE
    # (canChangeCachedPlanOutputPartitioning=false), so every round would
    # read this union of two shuffles at 2 × shuffle.partitions tasks
    edges = (
        e.select(F.col("a").alias("src"), F.col("b").alias("dst"))
        .union(e.select(F.col("b").alias("src"), F.col("a").alias("dst")))
        .localCheckpoint(eager=False)
    )
    # init: label(v) = min(v, min neighbor) — one propagation round for free
    # lazy: the convergence agg right below materializes the checkpoint.
    # Each pin still runs its plan's shuffle stages as jobs when it is
    # created; lazy only drops the pin's own result job — one job fewer per
    # round (70 pairs holding a 40-link chain: 8 jobs per round, 6 of them
    # at the pin's creation, against 9 eager)
    labels = edges.groupBy("src").agg(F.min("dst").alias("m")).select(
        F.col("src").alias("node"),
        F.least(F.col("src"), F.col("m")).alias("component_id"),
    ).localCheckpoint(eager=False)
    # decimal(38,0): immune to ANSI bigint-sum overflow at any node count
    lab_sum = F.sum(F.col("component_id").cast("decimal(38,0)"))
    prev_sum = labels.agg(lab_sum).first()[0]
    for _ in range(max_rounds):
        neigh = (
            edges.join(
                labels.select(
                    F.col("node").alias("dst"),
                    F.col("component_id").alias("dlab"),
                ),
                "dst",
            )
            .groupBy("src")
            .agg(F.min("dlab").alias("nmin"))
        )
        labels = (
            labels.join(
                neigh.select(F.col("src").alias("node"), "nmin"), "node", "left"
            )
            .select(
                "node",
                F.least(
                    F.col("component_id"),
                    F.coalesce(F.col("nmin"), F.col("component_id")),
                ).alias("component_id"),
            )
            .localCheckpoint(eager=False)
        )
        cur_sum = labels.agg(lab_sum).first()[0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    return None


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 40,
    propagation_rounds: int = 4,
) -> DataFrame:
    """Group duplicate pairs into components: (node, component_id) where
    component_id = min node id reachable through the pair graph;
    self-loop-only nodes label themselves.

    The missing last stage of the web-scale dedup pipeline (exact / LSH /
    simhash stages above emit *pairs*; curation needs *clusters* so one
    representative per cluster can be kept — see `curation.keep_best_dedup`).

    Three-tier dispatch. The pair subtree is localCheckpointed once up
    front, so no tier re-runs the LSH pipeline.

    1. Driver: a graph of at most `_CC_DRIVER_EDGES` pairs is pulled in
       one action and labelled by a driver union-find
       (`_cc_driver_labels`). Each distributed round is a job with its
       own stages, so on a small graph the rounds, not the data, are the
       cost.
    2. Propagation: near-dup graphs are dense small clusters (diameter
       2-3 in practice, Manku '07), so `propagation_rounds` of cheap
       min-label propagation (one join + groupBy(min) each) settle the
       common large case.
    3. Star: if the graph hides long chains (adversarial shingled spam
       mirrors) and propagation has NOT reached its fixpoint by then, the
       whole graph is re-run through the alternating large-star/small-star
       kernel (`connected_components_star`, Kiveris '14), which converges
       in O(log n) rounds regardless of component diameter — a 10k-link
       path costs ~30 star rounds instead of 10k propagation rounds.

    A graph above the budget pays one bounded extra action for the
    driver attempt."""
    raw = _cc_raw(pairs, id_a, id_b)
    labels = _cc_driver_labels(raw)
    if labels is not None:
        return labels
    labels = _cc_propagation_labels(raw, propagation_rounds)
    if labels is None:
        labels = _cc_star_labels(raw, max_iterations)
    return _with_self_roots(raw, labels)


def remove_duplicated_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
) -> DataFrame:
    """Exact-substring span excision (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"), at word-n-gram
    granularity: any n-word span occurring ≥2 times ANYWHERE in the corpus
    (other docs or repeated within one doc) is duplicated, and every word
    covered by a duplicated span is removed. The cleaned doc is the
    canonical-token residue (single-space joined) — byte-faithful
    reconstruction is out of scope by design, matching how cleaned corpora
    are re-tokenized downstream anyway.

    Plan shape (100 TB): gram hashes are built ROW-LOCALLY (one md5 +
    array HOFs per doc, no explode for construction); the occurrence count
    shuffles gram instances ONCE keyed by the 60-bit hash (map-side
    combine); only instances of DUPLICATED grams flow into the per-doc
    index collection (bounded by dup positions, not corpus size); coverage
    and residue assembly are array HOFs on the doc row. No driver
    materialization, no all-pairs surface. The dup-gram join is an equi
    sort-merge at scale — both sides keyed by gh.

    Output: (id, n_words, n_removed, cleaned) — one row per input doc,
    including docs shorter than n words (nothing removable)."""
    # spread before the tokenize+hash stage: the checkpoint below
    # materializes with its input's partitioning, so a one-split scan would
    # otherwise pin the whole gram build (and every downstream consumer)
    # to a single core
    words = ensure_parallelism(df.select(id_col, text_col), id_col).select(
        F.col(id_col).alias("id"), word_tokens(text_col).alias("w")
    )
    # gram-start hash array gh[i], i = 0-based word index (row-local)
    gh = F.when(
        F.size("w") >= n,
        F.transform(
            F.sequence(F.lit(0), F.size("w") - n),
            lambda i: F.conv(
                F.substring(
                    F.md5(F.concat_ws(" ", F.slice("w", i + 1, n))), 1, 15
                ),
                16,
                10,
            ).cast("bigint"),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    # checkpoint the tokenized+hashed frame: it feeds the occurrence
    # count, the dup-index collection AND the final residue join — unchecked,
    # Catalyst plans three copies of the scan+tokenize+md5 subtree, and
    # InferFiltersFromGenerate additionally re-inlines the gram transform
    # into each scan's filter (the hash work runs ~4× per doc). One
    # materialization, three block-reads — the semdedup()/with_support()
    # pattern.
    docs = words.withColumn("gh", gh).localCheckpoint(eager=False)
    inst = docs.select("id", F.posexplode("gh").alias("i", "g"))
    cnt = inst.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    dup_idx = (
        inst.join(cnt.where(F.col("df") >= 2), "g", "left_semi")
        .groupBy("id")
        .agg(F.sort_array(F.collect_set("i")).alias("dup_i"))
    )
    out = docs.join(dup_idx, "id", "left").withColumn(
        "dup_i", F.coalesce("dup_i", F.array().cast("array<int>"))
    )
    # word p is covered iff some duplicated gram starts in [p-n+1, p]
    covered = lambda p: F.exists(
        "dup_i", lambda j: (j >= p - (n - 1)) & (j <= p)
    )
    kept = F.filter("w", lambda x, p: ~covered(p))
    return out.select(
        "id",
        F.size("w").cast("bigint").alias("n_words"),
        (F.size("w") - F.size(kept)).cast("bigint").alias("n_removed"),
        F.concat_ws(" ", kept).alias("cleaned"),
    )


# ---------------------------------------------------------------------------
# Bloom-prefilter incremental dedup (snapshot-over-snapshot ingestion)
# ---------------------------------------------------------------------------

def _bloom_params(expected_items: int, fpp: float) -> tuple[int, int]:
    """Standard Bloom sizing: m = -n ln p / (ln 2)^2 bits (rounded up to a
    whole 64-bit word), k = (m/n) ln 2 hash functions."""
    import math

    n = max(1, expected_items)
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, ((m + 63) // 64) * 64)
    k = max(1, round(m / n * math.log(2)))
    return m, k


def _bloom_positions(col: Column, m: int, k: int) -> Column:
    """Row-local array of k bit positions for `col` — xxhash64 with k
    distinct tags, JVM-side (identical code path on build and probe sides,
    so the probe never re-implements the hash in Python)."""
    return F.array(
        *[
            F.pmod(F.xxhash64(F.lit(f"b{i}:"), col), F.lit(m)).cast("bigint")
            for i in range(k)
        ]
    )


def bloom_bitmap(
    df: DataFrame, col: str, m: int, k: int
):
    """Distributed Bloom build: k positions per row (row-local) → explode →
    bit_or-aggregate per 64-bit word index (ONE shuffle, map-side combined,
    ≤ m/64 rows regardless of input size) → driver assembles a packed
    numpy uint64 array. Driver materialization is bounded by the CHOSEN m
    (m/8 bytes — 2^30 bits = 128 MB), never by the data; that is the same
    boundedness contract as broadcasting k-means centroids."""
    import numpy as np

    words = (
        df.select(
            F.explode(_bloom_positions(F.col(col), m, k)).alias("pos")
        )
        .groupBy((F.col("pos") / 64).cast("bigint").alias("widx"))
        .agg(
            # shiftleft's Python binding needs a literal bit count; the SQL
            # form takes a column expression
            F.bit_or(
                F.expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(pos, 64) AS INT))")
            ).alias("bits")
        )
        .collect()
    )
    arr = np.zeros(m // 64, dtype=np.int64)
    for r in words:
        arr[int(r["widx"])] = r["bits"]
    return arr.view(np.uint64)


def bloom_new_rows(
    incoming: DataFrame,
    prior: DataFrame,
    key_col: str,
    expected_items: int | None = None,
    fpp: float = 0.01,
) -> DataFrame:
    """EXACT incremental dedup of `incoming` against the already-ingested
    `prior` snapshot, with a Bloom prefilter doing the heavy lifting:

      1. build a Bloom bitmap over prior[key_col] (one bounded-output
         shuffle over prior, never re-run per batch in a real deployment);
      2. probe incoming row-locally — positions computed JVM-side, the bit
         test a vectorized numpy kernel over the broadcast bitmap. A
         bloom-NEGATIVE row is definitely new and flows through with ZERO
         join work;
      3. only bloom-POSITIVE rows (true dups + ~fpp false positives) pay
         the exact anti-join against prior.

    At 100 TB this turns an |incoming| ⋈ |prior| shuffle into a shuffle of
    |dups| + fpp·|incoming| rows; output is exactly `incoming` anti-join
    `prior` (the Bloom can only ADD candidates, and every candidate is
    verified), so the operator is oracle-checkable by a plain anti-join.

    Returns incoming rows whose key_col does not occur in prior."""
    import pandas as pd

    from pyspark.sql.functions import pandas_udf

    if expected_items is None:
        expected_items = prior.count()
    m, k = _bloom_params(expected_items, fpp)
    bitmap = bloom_bitmap(prior, key_col, m, k)
    spark = incoming.sparkSession
    bc = spark.sparkContext.broadcast(bitmap)

    # no parameter annotations: module-level `from __future__ import
    # annotations` turns them into strings pyspark's hint inference can't
    # resolve here — unannotated defaults to the scalar pandas UDF type
    @pandas_udf("boolean")
    def might_contain(positions):
        import numpy as np

        words = bc.value
        pos = np.asarray(positions.tolist(), dtype=np.uint64)
        if pos.size == 0:
            return pd.Series(np.zeros(0, dtype=bool))
        hit = (words[pos >> np.uint64(6)] >> (pos & np.uint64(63))) \
            & np.uint64(1)
        return pd.Series(hit.all(axis=1).astype(bool))

    # checkpoint the probed frame: it feeds BOTH the negative passthrough
    # and the candidate anti-join — without it each branch re-executes the
    # probe UDF subtree (a second full pass over incoming at corpus scale),
    # the same double-compute semdedup()/with_support() eliminate
    probed = incoming.withColumn(
        "__bloom_hit", might_contain(_bloom_positions(F.col(key_col), m, k))
    ).localCheckpoint(eager=False)
    negatives = probed.where(~F.col("__bloom_hit")).drop("__bloom_hit")
    candidates = probed.where(F.col("__bloom_hit")).drop("__bloom_hit")
    verified_new = candidates.join(
        prior.select(F.col(key_col).alias(key_col)).distinct(),
        key_col,
        "left_anti",
    )
    return negatives.unionByName(verified_new)


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 40,
) -> DataFrame:
    """Alternating large-star / small-star connected components (Kiveris
    et al. 2014, "Connected Components in MapReduce and Beyond") — the
    adversarial-graph companion to `connected_components`: O(log n) rounds
    regardless of component diameter, where min-label propagation needs
    O(diameter) rounds (a 10k-link chain would take 10k propagation
    rounds but ~30 star rounds).

      large-star(u): hook every neighbor v > u onto m = min(Γ(u) ∪ {u})
      small-star(u): hook every neighbor v ≤ u, and u itself, onto m

    Each phase is one groupBy(min) + join over the bidirectional edge
    frame; the edge set is re-normalized to undirected (lo, hi) pairs and
    localCheckpointed per round (lineage truncation). Fixpoint when the
    (count, sum(xxhash64(lo, hi))) signature of the edge set stops
    changing — the 64-bit per-edge hash makes a signature collision
    between distinct consecutive edge sets astronomically unlikely
    (a plain sum(lo*31+hi) collides on e.g. {(1,100),(2,69)} vs
    {(1,69),(2,100)}); exhausting `max_iterations` without convergence
    raises instead of silently returning non-star edges.

    Output: (node, component_id = min reachable id) for every node that
    appears in `pairs` (self-loop-only nodes label themselves) — same
    contract as `connected_components`."""
    raw = _cc_raw(pairs, id_a, id_b)
    return _with_self_roots(raw, _cc_star_labels(raw, max_iterations))


def _cc_star_labels(raw: DataFrame, max_iterations: int) -> DataFrame:
    """Alternating-star rounds over normalized (a, b) pairs; returns
    (node, component_id) for every NON-ROOT node — callers union in roots
    and self-loop-only nodes via `_with_self_roots`."""
    e = (
        raw.where(F.col("a") != F.col("b"))
        .select(
            F.least("a", "b").alias("lo"), F.greatest("a", "b").alias("hi")
        )
        .distinct()
        # lazy: each round's signature agg materializes that round's
        # small-star checkpoint, whose computation folds in the pending
        # large-star checkpoint. Each pin still runs its plan's shuffle
        # stages as jobs when it is created; lazy only drops the two pins'
        # result jobs — two jobs fewer per star round (70 pairs holding a
        # 40-link chain: 10 jobs per round, 8 of them at pin creation,
        # against 12 eager)
        .localCheckpoint(eager=False)
    )

    def bidir(und: DataFrame) -> DataFrame:
        return und.select(
            F.col("lo").alias("src"), F.col("hi").alias("dst")
        ).union(
            und.select(F.col("hi").alias("src"), F.col("lo").alias("dst"))
        )

    def normalize(edges_ab: DataFrame) -> DataFrame:
        return (
            edges_ab.where(F.col("a") != F.col("b"))
            .select(
                F.least("a", "b").alias("lo"),
                F.greatest("a", "b").alias("hi"),
            )
            .distinct()
        )

    def signature(und: DataFrame) -> tuple:
        row = und.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(
                    F.xxhash64(F.col("lo"), F.col("hi")).cast(
                        "decimal(38,0)"
                    )
                ),
                F.lit(0),
            ).alias("s"),
        ).first()
        return (row["n"], row["s"])

    sig = signature(e)
    converged = False
    for _ in range(max_iterations):
        bi = bidir(e)
        mins = bi.groupBy("src").agg(
            F.least(F.col("src"), F.min("dst")).alias("m")
        )
        # large-star: (v, m_u) for v in Γ(u), v > u
        large = (
            bi.join(mins, "src")
            .where(F.col("dst") > F.col("src"))
            .select(F.col("dst").alias("a"), F.col("m").alias("b"))
        )
        e = normalize(large).localCheckpoint(eager=False)
        bi = bidir(e)
        mins = bi.groupBy("src").agg(
            F.least(F.col("src"), F.min("dst")).alias("m")
        )
        # small-star: (v, m_u) for v in Γ(u), v <= u, plus (u, m_u)
        small = (
            bi.join(mins, "src")
            .where(F.col("dst") <= F.col("src"))
            .select(F.col("dst").alias("a"), F.col("m").alias("b"))
            .union(mins.select(F.col("src").alias("a"), F.col("m").alias("b")))
        )
        e = normalize(small).localCheckpoint(eager=False)
        new_sig = signature(e)
        if new_sig == sig:
            converged = True
            break
        sig = new_sig
    if not converged:
        raise RuntimeError(
            "connected_components_star did not reach the star fixpoint in "
            f"{max_iterations} alternating rounds; O(log n) convergence "
            "means this graph is far larger than max_iterations allows — "
            "raise max_iterations"
        )
    # fixpoint edges are stars (lo = component root): label every non-root
    # by its star edge; roots label themselves via _with_self_roots
    return e.select(
        F.col("hi").alias("node"), F.col("lo").alias("component_id")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    window: int = 4,
    min_shared: int = 2,
    max_df: int = 50,
) -> DataFrame:
    """Position-aware near-duplicate pairs by WINNOWING fingerprint overlap
    (Schleimer et al. 2003 — the MOSS matcher): documents sharing ≥
    `min_shared` winnowed fingerprints pair up, scored by containment
    shared / min(|fp_a|, |fp_b|). Complements the MinHash path: winnowing
    guarantees any shared run longer than window+shingle tokens yields a
    shared fingerprint (positional guarantee MinHash lacks), so it catches
    block-level copying that whole-document signatures dilute.

    Scale shape: the fingerprints are the postings of the posting-list
    kernel `_posting_pairs`, with the same skew discipline as the LSH
    buckets — fingerprints occurring in more than `max_df` docs are
    pruned FIRST (a ubiquitous shingle-min carries no match signal, and
    unpruned it would fan out quadratically, the hot-bucket failure).
    Per-doc fingerprint counts are taken AFTER pruning so the containment
    denominator matches the join surface. One shuffle per stage, all
    shuffles keyed on the 60-bit fingerprint or the id pair.

    Output: (id_a, id_b, shared, overlap) — id_a < id_b, overlap 6dp."""
    from osmesa_spark.functions.litexpr import q as _qn
    from osmesa_spark.functions.text import winnow_fingerprints

    d = ensure_parallelism(df.select(id_col, text_col), id_col)
    hashes = F.expr(shingle_hashes_sql(_qn(text_col), shingle_n))
    fps = d.select(
        F.col(id_col).alias("id"),
        F.explode(winnow_fingerprints(hashes, window=window)).alias("key"),
    ).localCheckpoint(eager=False)
    keep = fps.groupBy("key").agg(F.count(F.lit(1)).alias("df")).where(
        F.col("df") <= max_df
    )
    # The containment denominator counts the fingerprints that survive the
    # prune, so the postings arrive pruned (the kernel's df filter keeps
    # them all). Lazy pin: the totals and both join sides read it under
    # the caller's one action; creating it runs the per-fp count and the
    # join's shuffle stages as jobs (3 at construction), lazy only drops
    # the checkpoint's own result job
    pruned = fps.join(keep, "key").localCheckpoint(eager=False)
    counts = pruned.groupBy("id").agg(F.count(F.lit(1)).alias("total"))
    return _posting_pairs(
        pruned,
        max_df,
        "count(1) AS shared",
        counts,
        ["shared", "round(shared / least(total_a, total_b), 6) AS overlap"],
    ).where(F.col("shared") >= min_shared)


def dedup_paragraphs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    seed: int = 11,
) -> DataFrame:
    """Paragraph-level exact dedup (CCNet, Wenzek et al. 2020 §3: drop
    duplicated paragraphs before language/quality scoring — boilerplate
    like headers, cookie banners and navigation repeats verbatim across
    pages, and removing it per-PARAGRAPH salvages the unique remainder of
    a page that doc-level dedup would either keep whole or drop whole).

    Semantics: paragraphs are newline-delimited spans; two paragraphs are
    duplicates when their normalized forms (lower + trim) are byte-equal.
    Deterministic first-seen-wins — the corpus-wide occurrence with the
    smallest (doc, para_idx) survives, every other copy is excised (CCNet's
    own hash-set walk is order-dependent; min-occurrence is the
    reproducible version of the same policy). Blank-normalized paragraphs
    are structural, not content — never hashed, always kept.

    Plan shape (100 TB): split + posexplode are row-local; duplicate
    discovery is ONE shuffle keyed by the 60-bit paragraph hash with a
    count/min partial agg (map-side combine; hot boilerplate paragraphs
    are single counter rows, never holder lists). Only hashes with
    count ≥ 2 flow into the verdict join (≪ paragraph instances), so the
    join-back is an equi join against a small build side (AQE-broadcastable
    in the common case). Reassembly is one doc-keyed agg with an in-group
    array_sort — O(paragraphs-per-doc) state. No driver materialization.

    Output: one row per input doc — (id, n_paras, n_kept, cleaned), where
    `cleaned` is the surviving paragraphs re-joined with newlines in
    original order. A null text counts as empty ('' — one blank
    paragraph), so no input row is ever silently dropped."""
    base = ensure_parallelism(
        df.select(
            id_col, F.coalesce(F.col(text_col), F.lit("")).alias(text_col)
        ),
        id_col,
    )
    paras = base.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n", -1)).alias(
            "idx", "para"
        ),
    )
    norm = F.lower(F.trim(F.col("para")))
    hashed = paras.withColumn(
        "ph",
        F.when(norm != "", _portable_hash(norm, seed)),
    ).localCheckpoint(eager=False)
    dups = (
        hashed.where(F.col("ph").isNotNull())
        .groupBy("ph")
        .agg(
            F.count(F.lit(1)).alias("occ"),
            F.min(F.struct("id", "idx")).alias("first"),
        )
        .where(F.col("occ") >= 2)
        .select("ph", "first")
    )
    verdict = hashed.join(dups, "ph", "left").withColumn(
        "kept",
        F.col("first").isNull()
        | ((F.col("first.id") == F.col("id")) & (F.col("first.idx") == F.col("idx"))),
    )
    return (
        verdict.groupBy("id")
        .agg(
            F.count(F.lit(1)).alias("n_paras"),
            F.sum(F.col("kept").cast("bigint")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept"), F.struct("idx", "para")
                            )
                        )
                    ),
                    lambda s: s["para"],
                ),
                "\n",
            ).alias("cleaned"),
        )
    )


def _merge_window_starts(ss: Column, L: int) -> Column:
    """Merge a SORTED array of fixed-length-L window start offsets into
    disjoint covered intervals array<struct<lo,hi>>. Starts are ascending
    and all windows have length L, so a new window's hi always extends
    (or abuts) the running interval — one row-local array fold."""
    empty_iv = F.expr("CAST(array() AS array<struct<lo:int,hi:int>>)")
    last = lambda acc: F.element_at(acc, -1)  # noqa: E731
    mk = lambda lo, hi: F.named_struct(  # noqa: E731
        F.lit("lo"), lo.cast("int"), F.lit("hi"), hi.cast("int")
    )
    return F.aggregate(
        F.coalesce(ss, F.expr("CAST(array() AS array<int>)")),
        empty_iv,
        lambda acc, s: F.when(
            (F.size(acc) > 0) & (s <= last(acc)["hi"] + 1),
            F.concat(
                F.slice(acc, F.lit(1), F.size(acc) - 1),
                F.array(mk(last(acc)["lo"], s + L - 1)),
            ),
        ).otherwise(F.concat(acc, F.array(mk(s, s + L - 1)))),
    )


def decontaminate_spans_char(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    seed: int = 13,
) -> DataFrame:
    """CHARACTER-level eval-set decontamination — the exact-substring
    criterion of Lee et al. 2022 §6.2 / the GPT-3 overlap audit, at the
    granularity `decontaminate_overlap`'s word-5-grams approximate: a
    train doc is contaminated wherever it shares an exact >= `min_len`-
    char substring with ANY eval doc (every such span contains a shared
    L-char window at each offset, so the window cover reconstructs the
    overlap union exactly — same criterion `remove_duplicated_spans_char`
    applies within the corpus).

    Scale shape: window hashes are built ROW-LOCALLY on both sides (only
    (id, start, hash60) rows flow); the DISTINCT eval-window hash set is
    bounded by the eval suite — small at any corpus scale by construction
    — so it BROADCASTS and train windows semi-join it (the
    `decontaminate_overlap` shape); hit starts come back per doc and the
    covered-character count is a row-local interval-merge fold. No
    corpus-sized shuffle beyond the per-doc hit agg.

    Output: (id, n_chars, n_covered, contaminated) — one row per train
    doc, zero-filled via the left join-back; null text counts as empty."""
    L = min_len
    txt = F.col(text_col)
    n = F.length(txt)
    hashes = F.transform(
        F.sequence(F.lit(0), n - L),
        lambda i: _portable_hash(txt.substr(i + 1, F.lit(L)), seed),
    )
    base = ensure_parallelism(
        train.select(
            F.col(id_col).alias("id"),
            F.coalesce(txt, F.lit("")).alias(text_col),
        ),
        "id",
    )
    ev = ensure_parallelism(
        eval_df.select(
            F.col(id_col).alias("id"),
            F.coalesce(txt, F.lit("")).alias(text_col),
        ),
        "id",
    )
    ev_h = (
        ev.where(n >= L)
        .select(F.explode(hashes).alias("h"))
        .distinct()
    )
    wins = base.where(n >= L).select(
        "id", F.posexplode(hashes).alias("s", "h")
    )
    hit_starts = (
        wins.join(F.broadcast(ev_h), "h", "left_semi")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
    )
    res = base.join(hit_starts, "id", "left").withColumn(
        "iv", _merge_window_starts(F.col("ss"), L)
    )
    n_covered = F.aggregate(
        F.col("iv"),
        F.lit(0).cast("bigint"),
        lambda acc, i: acc + (i["hi"] - i["lo"] + 1),
    )
    return res.select(
        "id",
        n.cast("bigint").alias("n_chars"),
        n_covered.alias("n_covered"),
        (n_covered > 0).alias("contaminated"),
    )


def remove_duplicated_spans_char(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    min_len: int = 50,
    seed: int = 13,
    materialize: bool = True,
) -> DataFrame:
    """CHARACTER-level exact-substring span excision — the paper-exact
    granularity of Lee et al. 2022 (§4.1 ExactSubstr: duplicated spans of
    ≥ 50 characters), complementing `remove_duplicated_spans`' word-n-gram
    variant. Any `min_len`-char window occurring ≥ 2 times anywhere in the
    corpus is duplicated; every character covered by a duplicated window
    is excised from every occurrence (the suffix-array criterion is
    equivalent: a duplicated span of length ≥ L contains a duplicated
    L-window at each offset, so the window cover reconstructs exactly the
    union of duplicated spans). The paper builds a suffix array because it
    runs shared-memory; the distributed shape of the same criterion is a
    rolling-window hash count — one shuffle, no global index.

    Plan shape (100 TB): window hashes are built ROW-LOCALLY (one
    transform over char offsets — only (id, start, hash60) rows flow, the
    text never rides through the explode); occurrence counting is ONE
    hash-keyed partial agg; only starts of DUPLICATED windows come back
    (semi-join, bounded by dup density); per-doc interval merge, gap
    extraction and residue concatenation are array HOFs on the doc row —
    O(dup starts) state, a handful of substr calls, not per-char work.

    Output: (id, n_chars, n_removed, cleaned) — one row per input doc;
    docs shorter than min_len are untouched and a null text counts as
    empty (no row is dropped or nulled)."""
    L = min_len
    base = ensure_parallelism(
        df.select(
            F.col(id_col).alias("id"),
            F.coalesce(F.col(text_col), F.lit("")).alias(text_col),
        ),
        "id",
    )
    txt = F.col(text_col)
    n = F.length(txt)
    hashes = F.transform(
        F.sequence(F.lit(0), n - L),
        lambda i: _portable_hash(txt.substr(i + 1, F.lit(L)), seed),
    )
    # `materialize` picks storage vs recompute for the per-doc window-hash
    # arrays, which BOTH downstream consumers (occurrence count, semi-join
    # probe) need:
    #   True  — localCheckpoint the per-DOC hash ARRAYS (not the exploded
    #           instances, which would store the same data with per-row
    #           overhead). The md5-per-offset kernel runs ONCE; cost is
    #           ~8 B of executor storage per input character — at 100 TB
    #           of text that is ~800 TB of block-manager space, which only
    #           works if the job runs over a bounded corpus slice at a
    #           time.
    #   False — keep the lineage: the hash kernel recomputes for the
    #           second consumer (2x CPU on the md5 pass, zero storage).
    #           This is the right call when executor storage, not CPU, is
    #           the 100 TB bottleneck.
    # Measured at sf0.1 (documents table, local[32], interleaved medians):
    # True 0.58 s / False 0.61 s — WITHIN each other's rep spread (~0.25 s)
    # because at this corpus size the hash kernel doesn't dominate. The
    # knob is a 100 TB control, not a local-bench one: pick by whether
    # executor storage (~8 B/char) or kernel CPU (2x md5 pass) is the
    # binding resource. Both modes are value-identical
    # (tests/test_properties.py parametrizes the brute-force cross-check
    # over the knob).
    win_arrays = base.where(n >= L).select("id", hashes.alias("hs"))
    if materialize:
        win_arrays = win_arrays.localCheckpoint(eager=False)
    wins = win_arrays.select("id", F.posexplode("hs").alias("s", "h"))
    dup = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= 2)
        .select("h")
    )
    dup_starts = (
        wins.join(dup, "h", "left_semi")
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
    )
    res = base.join(dup_starts, "id", "left")
    res = res.withColumn("iv", _merge_window_starts(F.col("ss"), L))
    ivc = F.col("iv")
    gap_starts = F.concat(
        F.array(F.lit(0)), F.transform(ivc, lambda i: i["hi"] + 1)
    )
    gap_ends = F.concat(
        F.transform(ivc, lambda i: i["lo"]), F.array(n.cast("int"))
    )
    cleaned = F.array_join(
        F.zip_with(gap_starts, gap_ends, lambda a, b: txt.substr(a + 1, b - a)),
        "",
    )
    n_removed = F.aggregate(
        ivc,
        F.lit(0).cast("bigint"),
        lambda acc, i: acc + (i["hi"] - i["lo"] + 1),
    )
    return res.select(
        "id",
        n.cast("bigint").alias("n_chars"),
        n_removed.alias("n_removed"),
        cleaned.alias("cleaned"),
    )
