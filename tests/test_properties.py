"""Property-based tests (hypothesis) for codec and kernel invariants, plus
batch-checked Spark-vs-python-reference properties for column functions."""

from __future__ import annotations

import random

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from osmesa_spark.sinks import mvt


# ---------------------------------------------------------------------------
# protobuf wire primitives
# ---------------------------------------------------------------------------

@given(st.integers(min_value=0, max_value=2**63 - 1))
def test_varint_round_trip(n):
    buf = mvt._varint(n)
    out, pos = mvt._read_varint(buf, 0)
    assert out == n and pos == len(buf)


@given(st.integers(min_value=-(2**62), max_value=2**62))
def test_zigzag_round_trip(n):
    assert mvt._unzigzag(mvt._zigzag(n)) == n


# ---------------------------------------------------------------------------
# MVT codec
# ---------------------------------------------------------------------------

_tag_values = st.one_of(
    st.integers(min_value=-(2**31), max_value=2**31),
    st.booleans(),
    st.text(max_size=20),
    st.floats(allow_nan=False, allow_infinity=False, width=64),
)

_coord = st.tuples(
    st.integers(min_value=0, max_value=4095),
    st.integers(min_value=0, max_value=4095),
)

_point_feature = st.builds(
    lambda fid, pts, tags: mvt.MvtFeature(
        fid=fid, geom_type=1, points=pts, tags=tags
    ),
    st.one_of(st.none(), st.integers(min_value=0, max_value=2**40)),
    st.lists(_coord, min_size=1, max_size=4),
    st.dictionaries(st.text(min_size=1, max_size=10), _tag_values, max_size=4),
)

# polyline parts: ≥2 vertices, no consecutive duplicates (a zero-length
# LineTo would decode identically but compare unequal)
_line_part = st.lists(_coord, min_size=2, max_size=5).filter(
    lambda p: all(a != b for a, b in zip(p, p[1:]))
)
_line_feature = st.builds(
    lambda fid, parts, tags: mvt.MvtFeature(
        fid=fid, geom_type=2, points=[], tags=tags, parts=parts
    ),
    st.one_of(st.none(), st.integers(min_value=0, max_value=2**40)),
    st.lists(_line_part, min_size=1, max_size=3),
    st.dictionaries(st.text(min_size=1, max_size=10), _tag_values, max_size=4),
)

# open rings: ≥3 distinct vertices, first != last
_ring = st.lists(_coord, min_size=3, max_size=6, unique=True)
_poly_feature = st.builds(
    lambda fid, parts, tags: mvt.MvtFeature(
        fid=fid, geom_type=3, points=[], tags=tags, parts=parts
    ),
    st.one_of(st.none(), st.integers(min_value=0, max_value=2**40)),
    st.lists(_ring, min_size=1, max_size=3),
    st.dictionaries(st.text(min_size=1, max_size=10), _tag_values, max_size=4),
)

_features = st.lists(
    st.one_of(_point_feature, _line_feature, _poly_feature), max_size=5
)


@settings(max_examples=50, deadline=None)
@given(st.dictionaries(st.text(min_size=1, max_size=8), _features, min_size=1, max_size=3))
def test_mvt_codec_round_trip(layers):
    out = mvt.decode_tile(mvt.encode_tile(layers))
    assert set(out) == set(layers)
    for name, feats in layers.items():
        got = out[name]
        assert len(got) == len(feats)
        for a, b in zip(feats, got):
            assert a.fid == b.fid
            assert a.geom_type == b.geom_type
            assert a.points == b.points
            assert a.parts == b.parts
            assert set(a.tags) == set(b.tags)
            for k, v in a.tags.items():
                if isinstance(v, float):
                    assert abs(b.tags[k] - v) < 1e-12 or b.tags[k] == v
                else:
                    assert b.tags[k] == v


# ---------------------------------------------------------------------------
# ring stitching
# ---------------------------------------------------------------------------

@settings(max_examples=50, deadline=None)
@given(
    st.integers(min_value=4, max_value=12),
    st.integers(min_value=1, max_value=4),
    st.randoms(use_true_random=False),
)
def test_stitch_reassembles_split_ring(n_verts, n_cuts, rng):
    from osmesa_spark.operators.geometry import _stitch_rings

    # build a closed ring of n unique vertices
    ring = [(float(i), float(i * i % 7)) for i in range(n_verts)]
    ring.append(ring[0])
    # cut into k contiguous segments (each ≥2 points, overlapping endpoints)
    cuts = sorted(rng.sample(range(1, n_verts), min(n_cuts, n_verts - 1)))
    bounds = [0] + cuts + [n_verts]
    segments = [ring[a : b + 1] for a, b in zip(bounds, bounds[1:])]
    rng.shuffle(segments)
    segments = [s[::-1] if rng.random() < 0.5 else s for s in segments]
    out = _stitch_rings(segments)
    assert len(out) == 1
    got = out[0]
    assert got[0] == got[-1]
    assert set(got) == set(ring)
    assert len(got) == len(ring)


# ---------------------------------------------------------------------------
# Spark column functions vs python references (one batch, many cases)
# ---------------------------------------------------------------------------

def _py_winnow(hashes: list[int], w: int = 4) -> list[int]:
    if not hashes:
        return []
    if len(hashes) < w:
        return [min(hashes)]
    seen, out = set(), []
    for i in range(len(hashes) - w + 1):
        m = min(hashes[i : i + w])
        if m not in seen:
            seen.add(m)
            out.append(m)
    return out


def test_winnow_matches_python_reference(spark):
    from pyspark.sql import functions as F

    from osmesa_spark.functions.text import winnow_fingerprints
    from osmesa_spark.operators.dedup import MINHASH_PRIME, shingle_hashes_sql

    rng = random.Random(7)
    words = ["alpha", "beta", "gamma", "delta", "eps", "zeta", "eta"]
    texts = [
        " ".join(rng.choice(words) for _ in range(rng.randint(0, 30)))
        for _ in range(200)
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)], "i long, t string")
    hashes = F.expr(shingle_hashes_sql("`t`", 3))
    got = {
        r.i: list(r.fp)
        for r in df.select("i", winnow_fingerprints(hashes, 4).alias("fp")).collect()
    }

    import hashlib

    def py_hashes(text):
        toks = []
        cur = ""
        for ch in text.lower():
            if ch.isalnum():
                cur += ch
            elif cur:
                toks.append(cur)
                cur = ""
        if cur:
            toks.append(cur)
        sh = [" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)] if len(toks) >= 3 else []
        return [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16) % MINHASH_PRIME
            for s in sh
        ]

    for i, t in enumerate(texts):
        expected = sorted(set(_py_winnow(py_hashes(t), 4)))
        assert sorted(set(got[i])) == expected, f"case {i}: {t!r}"


def _near_twin_corpus(
    spark, seed: int, n: int = 40, length: int = 40, vocab: int = 60
):
    """Seeded random docs over a small vocabulary, every third one with a
    near-twin that differs in one or two words, plus one exact copy."""
    rng = random.Random(seed)
    words = [f"w{i}" for i in range(vocab)]
    rows = []
    for i in range(n):
        toks = [rng.choice(words) for _ in range(length)]
        rows.append((i, " ".join(toks)))
        if i % 3 == 0:
            twin = list(toks)
            for _ in range(1 + i % 2):
                twin[rng.randrange(length)] = rng.choice(words)
            rows.append((1000 + i, " ".join(twin)))
    rows.append((2000, rows[0][1]))
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_banded_pairs_match_python_banding(spark):
    """The banded kernel's two document callers against Python banding
    over their collected fingerprints: simhash blocks on the top prefix
    bits and keeps Hamming ≤ max_hamming; uncapped LSH pairs every two
    docs that agree on all rows of any band."""
    from osmesa_spark.operators import dedup as dd

    docs = _near_twin_corpus(spark, 5)
    sh = {
        r.doc_id: r.sh
        for r in docs.select("doc_id", dd.simhash64("text", 60).alias("sh"))
        .collect()
    }
    ids = sorted(sh)
    same_block = {
        (a, b): bin(sh[a] ^ sh[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if sh[a] >> 56 == sh[b] >> 56
    }
    want = {(a, b, h) for (a, b), h in same_block.items() if h <= 8}
    got = {
        (r.id_a, r.id_b, r.hamming)
        for r in dd.simhash_dedup(docs, prefix_bits=4, max_hamming=8).collect()
    }
    assert got == want
    assert any(h > 0 for _, _, h in want), "no accepted pair at Hamming > 0"
    assert len(want) < len(same_block), "no same-block pair rejected"

    sigs = dd.minhash_signatures(docs)
    sig = {r.id: list(r.sig) for r in sigs.collect()}
    ids = sorted(sig)
    want = {
        (a, b)
        for i, a in enumerate(ids)
        for b in ids[i + 1:]
        if any(sig[a][k : k + 4] == sig[b][k : k + 4] for k in range(0, 16, 4))
    }
    got = {
        (r.id_a, r.id_b)
        for r in dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4).collect()
    }
    assert got == want
    assert any(sig[a] != sig[b] for a, b in want), "only identical signatures"


def test_posting_pairs_match_python_tfidf_cosine(spark):
    """The posting-list kernel against a Python tf·idf cosine: norms over
    every term, dot products over the terms with df ≤ max_df only, pairs
    kept at cos ≥ threshold. A stop-word in every doc exercises the
    prune."""
    import math
    import re
    from collections import Counter

    from osmesa_spark.operators.dedup import sparse_cosine_pairs

    docs = _near_twin_corpus(spark, 8, length=12, vocab=200)
    rows = [(r.doc_id, "the " + r.text) for r in docs.collect()]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tf = {i: Counter(re.findall("[a-z0-9]+", t.lower())) for i, t in rows}
    df_ = Counter(w for c in tf.values() for w in c)
    n = len(tf)
    wt = {i: {w: c[w] * math.log(n / df_[w]) for w in c} for i, c in tf.items()}
    nrm = {i: math.sqrt(sum(x * x for x in v.values())) for i, v in wt.items()}
    max_df, threshold = 10, 0.5
    ids = sorted(wt)
    cos = {}
    for i, a in enumerate(ids):
        for b in ids[i + 1:]:
            shared = [
                w for w in wt[a] if w in wt[b] and df_[w] <= max_df
            ]
            if shared:
                dot = sum(wt[a][w] * wt[b][w] for w in shared)
                cos[(a, b)] = dot / max(nrm[a] * nrm[b], 1e-12)
    want = {k: v for k, v in cos.items() if v >= threshold}
    got = {
        (r.id_a, r.id_b): r.cos
        for r in sparse_cosine_pairs(
            docs, max_df=max_df, threshold=threshold
        ).collect()
    }
    assert set(got) == set(want)
    assert all(abs(got[k] - want[k]) <= 1e-6 for k in want)
    assert df_["the"] > max_df
    assert any(v < 1 - 1e-9 for v in want.values()), "only identical docs"
    assert len(want) < len(cos), "no posting-list pair rejected"


def test_zorder_bijective(spark):
    from pyspark.sql import functions as F

    from osmesa_spark.functions import geo

    bits = 7
    n = 1 << bits
    df = spark.range(n * n).select(
        (F.col("id") % n).alias("c"), (F.col("id") / n).cast("long").alias("r")
    )
    z = df.select(geo.zorder(F.col("c"), F.col("r"), bits=bits).alias("z"))
    assert z.distinct().count() == n * n  # injective on the full domain
    mn, mx = z.agg(F.min("z"), F.max("z")).first()
    assert mn == 0 and mx == n * n - 1  # and onto [0, 4^bits)


def _cc_reference(edges: list[tuple[int, int]]) -> dict[int, int]:
    """node -> min id reachable through `edges`; self-loop-only nodes label
    themselves (the connected_components contract)."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in list(parent)}


def test_connected_components_chain_and_cliques(spark):
    """connected_components (star kernel since r5) must close chains and
    keep disjoint cliques separate."""
    from osmesa_spark.operators.dedup import connected_components

    # chain 0-1-2-...-9 (diameter 9), disjoint pair (100,101), triangle
    pairs = (
        [(i, i + 1) for i in range(9)]
        + [(100, 101)]
        + [(200, 201), (201, 202), (200, 202)]
    )
    df = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {
        (r["node"], r["component_id"])
        for r in connected_components(df).collect()
    }
    expect = (
        {(i, 0) for i in range(10)}
        | {(100, 100), (101, 100)}
        | {(i, 200) for i in (200, 201, 202)}
    )
    assert got == expect


def test_connected_components_matches_union_find(spark):
    """Randomized reference check: components from the Spark operator must
    equal a driver-side union-find on the same edges (3 seeded graphs of
    different shapes, disjoint id ranges, one Spark job)."""
    import random

    from osmesa_spark.operators.dedup import connected_components

    edges: list[tuple[int, int]] = []
    for seed, (base, n, m) in enumerate(
        [(0, 40, 25), (1000, 60, 90), (5000, 30, 15)]
    ):
        rng = random.Random(seed)
        edges += [
            (base + rng.randrange(n), base + rng.randrange(n))
            for _ in range(m)
        ]

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r["node"]: r["component_id"]
        for r in connected_components(df).collect()
    }
    assert got == _cc_reference(edges)


@pytest.mark.parametrize("seed", [0, 1])
def test_connected_components_driver_matches_distributed(
    spark, monkeypatch, seed
):
    """The driver finish and the distributed propagation/star path give the
    same labels on a seeded random graph: a 2,000-link chain, stars and
    disjoint cliques over shuffled (also negative) ids, with duplicate and
    reversed edges, self-loops and self-loop-only nodes. The budget is set
    to the graph's exact edge count for the driver run and one below it
    for the distributed run, so both sides of the boundary are taken."""
    import random

    from osmesa_spark.operators import dedup as dd

    rng = random.Random(seed)
    ids = iter(rng.sample(range(-10**12, 10**12), 3000))
    chain = [next(ids) for _ in range(2001)]
    edges = list(zip(chain, chain[1:]))
    for _ in range(rng.randint(3, 6)):
        hub = next(ids)
        edges += [(hub, next(ids)) for _ in range(rng.randint(2, 40))]
    for _ in range(rng.randint(3, 6)):
        k = [next(ids) for _ in range(rng.randint(2, 9))]
        edges += [(a, b) for i, a in enumerate(k) for b in k[i + 1:]]
    edges += rng.sample(edges, 50) + [(b, a) for a, b in rng.sample(edges, 50)]
    edges += [(v, v) for v in rng.sample(chain, 5)]
    edges += [(v, v) for v in (next(ids), next(ids))]
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, "id_a long, id_b long")

    propagation = dd._cc_propagation_labels
    runs = []

    def spy(raw, max_rounds):
        runs.append(max_rounds)
        return propagation(raw, max_rounds)

    monkeypatch.setattr(dd, "_cc_propagation_labels", spy)
    got = {}
    for budget, distributed in ((len(edges), False), (len(edges) - 1, True)):
        monkeypatch.setattr(dd, "_CC_DRIVER_EDGES", budget)
        runs.clear()
        out = dd.connected_components(df).collect()
        assert bool(runs) == distributed
        got[distributed] = {r.node: r.component_id for r in out}
        assert len(got[distributed]) == len(out)
    assert got[False] == got[True] == _cc_reference(edges)


def test_scrub_pii_redacts(spark):
    from pyspark.sql import functions as F

    from osmesa_spark.functions.text import scrub_pii

    rows = [
        ("contact john.doe+spam@example.co.uk today", "contact <EMAIL> today"),
        ("call +1 (555) 123-4567 now", "call <PHONE> now"),
        ("mail a@b.io or ring 020 7946 09581", "mail <EMAIL> or ring <PHONE>"),
        ("no pii here", "no pii here"),
    ]
    df = spark.createDataFrame(rows, "text string, expect string")
    got = df.select(scrub_pii("text").alias("got"), "expect").collect()
    for r in got:
        assert r["got"] == r["expect"]


def test_pack_assignment_budget_invariant(spark):
    """Within any pack, total tokens stay under budget + the largest single
    document (the offset-bucket rule's worst case); packs are deterministic."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators.curation import pack_assignment

    docs = spark.range(0, 500).select(
        F.col("id").alias("doc_id"),
        # texts of 1..40 whitespace tokens
        F.concat_ws(" ", F.array_repeat(F.lit("w"), (F.col("id") % 40 + 1).cast("int"))).alias("text"),
    )
    budget = 64
    packed = pack_assignment(docs, budget=budget)
    agg = packed.groupBy("pack_id").agg(
        F.sum("n_tokens").alias("tot"), F.max("n_tokens").alias("mx")
    )
    bad = agg.where(F.col("tot") >= budget + F.col("mx")).count()
    assert bad == 0
    # deterministic across runs
    a = sorted((r["id"], r["pack_id"]) for r in packed.collect())
    b = sorted((r["id"], r["pack_id"]) for r in pack_assignment(docs, budget=budget).collect())
    assert a == b


def test_asof_join_edge_semantics(spark):
    """Equal-time right rows are visible (<=), ties break to max value,
    probes with no prior right row get null, keys don't leak."""
    from osmesa_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 50), (3, 20, 100), (4, 5, 100)],
        "event_id long, t long, k long",
    ).selectExpr("event_id", "k AS user_id", "t AS ts")
    right = spark.createDataFrame(
        [(100, 10, 7), (100, 10, 9), (100, 8, 5), (50, 11, 1)],
        "k long, t long, v long",
    ).selectExpr("k AS user_id", "t AS ts", "v AS click_id")
    got = {
        r["event_id"]: r["asof_click_id"]
        for r in asof_join(
            left, right, key="user_id", time_col="ts", value_cols=["click_id"]
        ).collect()
    }
    assert got == {
        1: 9,     # equal-time rows visible; tie at t=10 breaks to max (9)
        2: None,  # right row at t=11 is in the future
        3: 9,     # carried forward past the last right row
        4: None,  # before any right row
    }


def test_asof_join_null_values_and_row_atomicity(spark):
    """A genuinely-NULL right-side value must NOT resolve to an older
    non-null value, and multiple value columns must all come from the SAME
    right row (no field mixing across tied rows)."""
    from osmesa_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 20, 1), (2, 5, 1)], "event_id long, ts long, user_id long"
    )
    right = spark.createDataFrame(
        # t=10: non-null (7, 'a'); t=15 (later, wins): NULL v, 'b'
        # t=4 ties: (1,'x') vs (2,'w') — max struct is (2,'w'); both fields
        # must come from that one row
        [
            (1, 10, 7, "a"),
            (1, 15, None, "b"),
            (1, 4, 1, "x"),
            (1, 4, 2, "w"),
        ],
        "user_id long, ts long, v long, tag string",
    )
    rows = {
        r["event_id"]: (r["asof_v"], r["asof_tag"])
        for r in asof_join(
            left, right, key="user_id", time_col="ts",
            value_cols=["v", "tag"],
        ).collect()
    }
    assert rows[1] == (None, "b"), "NULL right value leaked an older value"
    assert rows[2] == (2, "w"), "tied rows mixed fields across rows"


def test_approx_count_distinct_accuracy(spark):
    """HLL++ estimate within the configured 2% rsd (loose 5% assert) of
    exact distinct counts on the events table — checked both through the
    registry query's emitted invariant column and independently against
    this test's own exact/approx aggregation."""
    from pyspark.sql import functions as F

    from osmesa_spark import queries as Q
    from tests.conftest import SF_CORRECT

    rows = (
        Q.registry()["user_cardinality_approx"]
        .spark(spark, SF_CORRECT)
        .collect()
    )
    assert rows and all(r["hll_within_5pct"] for r in rows)
    both = {
        r["event_type"]: (r["approx"], r["exact"])
        for r in Q._t(spark, SF_CORRECT, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
            F.countDistinct("user_id").alias("exact"),
        )
        .collect()
    }
    for k, (a, e) in both.items():
        assert abs(a - e) <= max(1, 0.05 * e), (k, a, e)


def test_kmeans_separates_obvious_blobs(spark):
    """Two well-separated blobs -> 2 effective clusters, every member of a
    blob in the same cluster, and assignments are run-deterministic."""
    from osmesa_spark.operators.similarity import kmeans_lloyd

    rng = random.Random(7)
    rows = []
    for i in range(40):
        center = 0.0 if i % 2 == 0 else 10.0
        rows.append((i, [center + rng.uniform(-0.5, 0.5) for _ in range(4)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    out = {r["vec_id"]: r["cluster"] for r in kmeans_lloyd(df, k=2, iters=3).collect()}
    blob0 = {out[i] for i in range(0, 40, 2)}
    blob1 = {out[i] for i in range(1, 40, 2)}
    assert len(blob0) == 1 and len(blob1) == 1 and blob0 != blob1

    again = {r["vec_id"]: r["cluster"] for r in kmeans_lloyd(df, k=2, iters=3).collect()}
    assert again == out


def test_asof_join_differential_vs_pandas(spark):
    """Differential check against pandas merge_asof (an independent
    backward-asof implementation) on randomized inputs with unique right
    (key, time) pairs — including NULL right values, which must carry
    through as NULL (not resolve to older rows)."""
    import random as _random

    import pandas as pd

    rng = _random.Random(1234)
    for _ in range(5):
        keys = [1, 2, 3]
        left_rows = [
            (i, rng.choice(keys), rng.randint(0, 50))
            for i in range(40)
        ]
        right_pairs = set()
        right_rows = []
        for j in range(30):
            k, t = rng.choice(keys), rng.randint(0, 50)
            if (k, t) in right_pairs:
                continue
            right_pairs.add((k, t))
            v = None if rng.random() < 0.3 else rng.randint(100, 999)
            right_rows.append((k, t, v))
        left = spark.createDataFrame(
            left_rows, "event_id long, k long, t long"
        )
        right = spark.createDataFrame(
            right_rows, "k long, t long, v long"
        )
        from osmesa_spark.operators.asof import asof_join

        got = {
            r["event_id"]: r["asof_v"]
            for r in asof_join(
                left, right, key="k", time_col="t", value_cols=["v"]
            ).collect()
        }
        lp = pd.DataFrame(left_rows, columns=["event_id", "k", "t"]).sort_values("t")
        rp = pd.DataFrame(right_rows, columns=["k", "t", "v"]).sort_values("t")
        merged = pd.merge_asof(
            lp, rp, on="t", by="k", direction="backward",
            allow_exact_matches=True,
        )
        want = {
            int(r.event_id): (None if pd.isna(r.v) else int(r.v))
            for r in merged.itertuples()
        }
        assert got == want


def test_lsh_max_bucket_cap(spark):
    """max_bucket bounds degenerate buckets (the 100 TB boilerplate-collision
    guard): over-cap buckets emit linear full-signature star edges instead
    of O(n²) pairs, so the identical clique stays connected at n-1 edges."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    rows = [(i, "identical boilerplate text repeated") for i in range(20)]
    rows += [(100 + i, f"unique document number {i} with words") for i in range(5)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(df, num_hashes=16)
    uncapped = lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
    assert uncapped.count() >= 20 * 19 // 2  # the clique pairs exist
    capped = lsh_candidate_pairs(
        sigs, bands=4, rows_per_band=4, max_bucket=10
    )
    got = [(r["id_a"], r["id_b"]) for r in capped.collect()]
    # every band-bucket of the clique is over cap → exactly the 19 star
    # edges (min id 0 → each other member), never the 190 clique pairs
    assert sorted(got) == [(0, i) for i in range(1, 20)]


def test_remove_duplicated_spans_hand_case(spark):
    from osmesa_spark.operators.dedup import remove_duplicated_spans

    shared = "the quick brown fox jumps"  # 5 words, shared verbatim
    docs = [
        (1, f"alpha beta {shared} gamma delta epsilon zeta"),
        (2, f"one two three {shared} four five six seven"),
        (3, "totally unique text with no overlap whatsoever here"),
        (4, "tiny doc"),  # < 5 words: no grams, nothing removable
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    out = {
        r.id: r
        for r in remove_duplicated_spans(df, "text", "doc_id").collect()
    }
    # the shared 5-gram (and only it) is duplicated: exactly its 5 words
    # vanish from both holders, surrounding words survive
    assert out[1].n_removed == 5
    assert out[1].cleaned == "alpha beta gamma delta epsilon zeta"
    assert out[2].n_removed == 5
    assert out[2].cleaned == "one two three four five six seven"
    assert out[3].n_removed == 0
    assert out[3].cleaned == "totally unique text with no overlap whatsoever here"
    assert out[4].n_removed == 0 and out[4].n_words == 2
    assert out[4].cleaned == "tiny doc"


def test_remove_duplicated_spans_within_doc_repeat(spark):
    from osmesa_spark.operators.dedup import remove_duplicated_spans

    # the same 5-gram twice WITHIN one doc is also a duplicate (df counts
    # occurrences, not holders)
    rep = "a b c d e"
    df = spark.createDataFrame(
        [(1, f"x {rep} y z w v u {rep} q")], "doc_id int, text string"
    )
    (row,) = remove_duplicated_spans(df, "text", "doc_id").collect()
    assert row.n_removed == 10
    assert row.cleaned == "x y z w v u q"


def test_bloom_new_rows_exact_vs_antijoin(spark):
    import pyspark.sql.functions as F

    from osmesa_spark.operators.dedup import bloom_new_rows

    prior = spark.range(0, 3000).select(
        F.concat(F.lit("k"), (F.col("id") % 2000).cast("string")).alias("h")
    )
    incoming = spark.range(1500, 4500).select(
        F.col("id").alias("rid"),
        F.concat(F.lit("k"), F.col("id").cast("string")).alias("h"),
    )
    got = bloom_new_rows(incoming, prior, "h", fpp=0.05)
    # exact semantics regardless of Bloom false positives: keys 2000-4499
    assert {r.rid for r in got.collect()} == set(range(2000, 4500))
    # schema passes through untouched
    assert got.columns == ["rid", "h"]


def test_bloom_bitmap_fpp_bounded(spark):
    import pyspark.sql.functions as F
    import numpy as np

    from osmesa_spark.operators.dedup import (
        _bloom_params,
        _bloom_positions,
        bloom_bitmap,
    )

    n = 2000
    m, k = _bloom_params(n, 0.01)
    prior = spark.range(0, n).select(
        F.concat(F.lit("v"), F.col("id").cast("string")).alias("h")
    )
    bitmap = bloom_bitmap(prior, "h", m, k)
    # members always hit; non-members hit at ~fpp (allow 5x headroom)
    probe = spark.range(0, 4 * n).select(
        F.col("id").alias("pid"),
        _bloom_positions(
            F.concat(F.lit("v"), F.col("id").cast("string")), m, k
        ).alias("pos"),
    ).collect()
    hits = 0
    for r in probe:
        pos = np.asarray(r.pos, dtype=np.uint64)
        hit = bool(
            (
                (bitmap[pos >> np.uint64(6)] >> (pos & np.uint64(63)))
                & np.uint64(1)
            ).all()
        )
        if r.pid < n:
            assert hit, f"member {r.pid} missed the filter"
        elif hit:
            hits += 1
    assert hits / (3 * n) < 0.05, f"fpp {hits / (3 * n):.3f} way over target"


def test_lm_nll_matches_hand_model(spark):
    import math

    from osmesa_spark.operators.textops import lm_nll_scores

    docs = [
        (1, "the cat sat on the mat"),
        (2, "the cat sat on the hat"),
        (3, "zx qv pw zx"),
    ]
    df = spark.createDataFrame(docs, "doc_id int, text string")
    got = {r.id: r for r in lm_nll_scores(df, "doc_id", "text").collect()}

    # hand-build the same add-0.5 bigram model
    toks = {i: t.split() for i, t in docs}
    c_ab, c_a, vocab = {}, {}, set()
    for ws in toks.values():
        vocab.update(ws)
        for a, b in zip(ws, ws[1:]):
            c_ab[(a, b)] = c_ab.get((a, b), 0) + 1
            c_a[a] = c_a.get(a, 0) + 1
    V = len(vocab)
    for i, ws in toks.items():
        lps = [
            math.log((c_ab[(a, b)] + 0.5) / (c_a[a] + 0.5 * V))
            for a, b in zip(ws, ws[1:])
        ]
        assert got[i].n_bigrams == len(lps)
        assert abs(got[i].nll - round(-sum(lps) / len(lps), 6)) < 1e-9
    # the natural-language docs share mass; gibberish with unseen pairs
    # (all singleton bigrams over rare unigrams) scores strictly worse
    assert got[3].nll > got[1].nll and got[3].nll > got[2].nll


def test_c4_line_filter_rules(spark):
    from osmesa_spark.operators.textops import c4_line_filter

    doc = "\n".join([
        "This line is long enough and ends properly.",   # keep
        "Too short.",                                     # < 5 words
        "This line has no terminal punctuation at all",   # no ./!/?
        'A quoted ending also counts as terminal here."', # keep
        "Enable javascript to view this site properly.",  # boilerplate
        "We use cookie banners to annoy every visitor.",  # boilerplate
        "function f() { return 1; } is clearly code.",    # braces
        "Lorem ipsum dolor sit amet consectetur filler.", # boilerplate
        "Questions make perfectly good line endings too?" # keep
    ])
    df = spark.createDataFrame(
        [(1, doc), (2, "no line survives this doc")], "doc_id int, text string"
    )
    rows = {r.id: r for r in c4_line_filter(df, "doc_id", "text").collect()}
    assert 2 not in rows  # zero kept lines -> doc dropped
    r = rows[1]
    assert r.n_lines == 9 and r.n_kept == 3
    assert r.cleaned.splitlines() == [
        "This line is long enough and ends properly.",
        'A quoted ending also counts as terminal here."',
        "Questions make perfectly good line endings too?",
    ]


def test_connected_components_star_differential(spark):
    """large-star/small-star vs union-find ground truth on graph shapes
    chosen to break min-label propagation: a 400-link chain (diameter 400
    — propagation at 25 rounds CANNOT finish it; the star algorithm must),
    cliques, random sparse graphs, singleton pairs."""
    import random

    from osmesa_spark.operators.dedup import connected_components_star

    rng = random.Random(7)
    edges = []
    # 400-node chain with shuffled ids (worst case for label propagation)
    chain_ids = rng.sample(range(10_000, 99_999), 400)
    edges += list(zip(chain_ids, chain_ids[1:]))
    # two cliques
    k1 = rng.sample(range(1000, 2000), 8)
    k2 = rng.sample(range(3000, 4000), 6)
    edges += [(a, b) for i, a in enumerate(k1) for b in k1[i + 1:]]
    edges += [(a, b) for i, a in enumerate(k2) for b in k2[i + 1:]]
    # random sparse component + isolated pair + self-dup noise
    sparse = rng.sample(range(5000, 6000), 50)
    edges += [(rng.choice(sparse), rng.choice(sparse)) for _ in range(60)]
    edges += [(7001, 7002), (8_000, 8_000)]

    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {
        r.node: r.component_id
        for r in connected_components_star(df).collect()
    }
    # self-loop-only 8000 labels itself
    assert got == _cc_reference(edges)


def test_connected_components_star_round_bound_and_raise(spark):
    """O(log n): a 400-link chain must close within 12 alternating
    rounds (propagation would need 400); exhausting max_iterations
    without reaching the star fixpoint must raise, not silently return
    non-star edges."""
    import pytest

    from osmesa_spark.operators.dedup import connected_components_star

    chain = [(i, i + 1) for i in range(400)]
    df = spark.createDataFrame(chain, "id_a long, id_b long")
    got = {
        r.node: r.component_id
        for r in connected_components_star(df, max_iterations=12).collect()
    }
    assert got == {i: 0 for i in range(401)}
    with pytest.raises(RuntimeError, match="star fixpoint"):
        connected_components_star(df, max_iterations=1)


def test_pq_train_matches_per_subspace_kmeans(spark):
    """pq_train's multi-subspace kernel must produce, per subspace, exactly
    the codebook kmeans_lloyd trains on the sliced sub-vectors (same seeds,
    same rounding, same update rounds) — the property the SQL oracle's
    per-subspace _KMEANS_SQL replay relies on."""
    import random as _random

    import numpy as np

    from osmesa_spark.operators.dedup import _portable_hash
    from osmesa_spark.operators.similarity import pq_train

    from pyspark.sql import functions as F

    rng = _random.Random(13)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(60)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    m, k, iters, seed = 2, 3, 3, 29
    books = pq_train(df, m=m, k=k, iters=iters, seed=seed)
    assert len(books) == m

    # reference: run the scalar recurrence in numpy off the same seed rows
    seeds = (
        df.select(
            "embedding",
            _portable_hash(F.col("vec_id").cast("string"), seed).alias("h"),
            "vec_id",
        )
        .orderBy("h", "vec_id")
        .limit(k)
        .collect()
    )
    X = np.array([r["embedding"] for r in df.orderBy("vec_id").collect()])
    ds = 8 // m
    for s in range(m):
        C = np.array([r["embedding"][s * ds:(s + 1) * ds] for r in seeds])
        cids = np.arange(k)
        for _ in range(iters - 1):
            Xs = X[:, s * ds:(s + 1) * ds]
            D = np.round(((Xs[:, None] - C[None]) ** 2).sum(-1), 6)
            a = D.argmin(1)
            keep = sorted(set(a.tolist()))
            C = np.array([np.round(Xs[a == i].mean(0), 6) for i in keep])
            cids = cids[keep]
        got = books[s]
        assert [c for c, _ in got] == [int(c) for c in cids], f"sub {s} cids"
        np.testing.assert_allclose(
            np.array([v for _, v in got]), C, rtol=0, atol=1e-12,
            err_msg=f"sub {s} centroids",
        )


def test_knn_pq_beats_random_on_blobs(spark):
    """ADC ranking must be a genuine approximation of L2: on two separated
    blobs every query's PQ top-3 stays inside its own blob."""
    import random as _random

    from osmesa_spark.operators.similarity import knn_pq

    rng = _random.Random(5)
    rows = []
    for i in range(40):
        center = 0.0 if i % 2 == 0 else 10.0
        rows.append((i, [center + rng.uniform(-0.5, 0.5) for _ in range(8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    qs = df.where("vec_id < 4")
    out = knn_pq(df, qs, k=3, m=2, k_centroids=4, iters=3).collect()
    assert len(out) == 12
    for r in out:
        assert r["query_id"] % 2 == r["neighbor_id"] % 2, (
            "PQ neighbor crossed blobs"
        )


def test_bpe_train_matches_python_reference(spark):
    """bpe_train_merges must replay the classic Sennrich dynamics: pair
    counting (overlapping adjacents, weighted by word count), argmax with
    (count, lhs, rhs) tie-break, greedy left-to-right merge — checked
    against a transparent pure-Python trainer on a corpus whose repeated
    runs ('aaaa') exercise the overlap edge the fold must get right."""
    from collections import Counter

    from osmesa_spark.operators.textops import bpe_train_merges

    docs = [
        "low low lower lowest newer new",
        "wider wide new newer newer aaaa aaa",
        "banana bandana aaaa",
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(docs)],
                               "doc_id long, text string")

    # reference trainer
    words = Counter(w for t in docs for w in t.split())
    vocab = {w: list(w) for w in words}

    def merge(syms, a, b):
        out = []
        for x in syms:
            if out and out[-1] == a and x == b:
                out[-1] = a + b
            else:
                out.append(x)
        return out

    expected = []
    for r in range(8):
        pc = Counter()
        for w, syms in vocab.items():
            for i in range(len(syms) - 1):
                pc[(syms[i], syms[i + 1])] += words[w]
        (a, b), c = min(pc.items(), key=lambda kv: (-kv[1], kv[0]))
        expected.append((r, a, b, c))
        vocab = {w: merge(s, a, b) for w, s in vocab.items()}

    got = [
        (r["merge_rank"], r["lhs"], r["rhs"], r["pair_count"])
        for r in bpe_train_merges(df, n_merges=8)
        .orderBy("merge_rank").collect()
    ]
    assert got == expected


def test_mixture_sample_binding_stratum_and_determinism(spark):
    """mixture_sample keeps the binding stratum (min n_s/w_s) WHOLE, holds
    every other stratum near its target proportion of the achieved corpus,
    drops unlisted strata, and is rerun-deterministic."""
    from osmesa_spark.operators.curation import mixture_sample

    rows = (
        [(i, "big") for i in range(400)]
        + [(1000 + i, "small") for i in range(40)]
        + [(2000 + i, "other") for i in range(25)]
    )
    df = spark.createDataFrame(rows, "doc_id long, lang string")
    # T = min(400/0.5, 40/0.5) = 80 -> 'small' binding (kept whole),
    # 'big' sampled at 0.5*80/400 = 10%
    from pyspark.sql import functions as F

    out = mixture_sample(df, "lang", {"big": 0.5, "small": 0.5})
    got = {r["lang"]: r["cnt"] for r in
           out.groupBy("lang").agg(F.count("*").alias("cnt")).collect()}
    assert "other" not in got, "unlisted stratum must drop"
    assert got["small"] == 40, "binding stratum must be kept whole"
    # binomial tolerance around 40: ±3σ ≈ ±18
    assert 22 <= got["big"] <= 58, got
    again = sorted(r["doc_id"] for r in out.collect())
    assert again == sorted(r["doc_id"] for r in
                           mixture_sample(df, "lang",
                                          {"big": 0.5, "small": 0.5})
                           .collect())


def test_cms_never_undercounts_and_supersets(spark):
    """Count-min law on a skewed corpus: every key's estimate >= its true
    count, and the heavy-hitter set is a SUPERSET of the true heavy
    hitters (one-sided error)."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators import sketches as sk

    rows = (
        [(f"hot{i % 3}",) for i in range(300)]
        + [(f"cold{i}",) for i in range(200)]
    )
    df = spark.createDataFrame(rows, "k string")
    sketch = sk.cms_build(df, "k", depth=4, width=64)
    est = sk.cms_estimate(
        df.select("k").distinct(), sketch, "k", depth=4, width=64
    )
    exact = df.groupBy("k").agg(F.count(F.lit(1)).alias("true_cnt"))
    j = est.join(exact, "k")
    assert j.where(F.col("est_count") < F.col("true_cnt")).count() == 0
    hh = {
        r["k"]
        for r in sk.cms_heavy_hitters(df, "k", min_count=100,
                                      depth=4, width=64).collect()
    }
    true_hh = {r["k"] for r in exact.where("true_cnt >= 100").collect()}
    assert true_hh <= hh


def test_cms_estimate_unseen_keys_zero(spark):
    """Point-estimate contract for keys ABSENT from the build corpus:
    a never-seen key must come back with est_count 0 (left-join + coalesce
    semantics, mirroring the streaming SketchTable.estimates), not be
    silently dropped or over-estimated on partially-present cells."""
    from osmesa_spark.operators import sketches as sk

    build = spark.createDataFrame([("a",), ("b",), ("a",)], "k string")
    sketch = sk.cms_build(build, "k", depth=4, width=64)
    # tiny width=64 sketch over 2 keys: most cells are empty, so a probe
    # key will typically hash at least one of its 4 cells to an absent
    # counter — min(coalesce(cnt,0)) floors it at the truth
    probes = spark.createDataFrame(
        [("a",), ("never_seen_1",), ("never_seen_2",)], "k string"
    )
    est = {
        r["k"]: r["est_count"]
        for r in sk.cms_estimate(probes, sketch, "k",
                                 depth=4, width=64).collect()
    }
    assert set(est) == {"a", "never_seen_1", "never_seen_2"}
    assert est["a"] >= 2  # never undercounts
    # width 64, 6 occupied cells max: P(all 4 cells of an unseen key
    # collide) is negligible for these fixed test keys — both estimate 0
    assert est["never_seen_1"] == 0
    assert est["never_seen_2"] == 0


@pytest.mark.parametrize("trainer", ["kmeans_lloyd", "pq_train"])
def test_kmeans_rejects_bad_iters(spark, trainer):
    """iters < 1 leaves no round for the caller's assignment, so the one
    Lloyd trainer (pq_train, under kmeans_lloyd) must refuse it up front
    instead of silently returning the seed rows."""
    from osmesa_spark.operators import similarity as sim

    df = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [1.0] * 4)], "vec_id long, embedding array<double>"
    )
    with pytest.raises(ValueError, match="iters"):
        getattr(sim, trainer)(df, k=2, iters=0)


def test_null_vector_gets_no_codebook_cell(spark):
    """A NULL embedding arriving at a frozen codebook (the append and
    serving paths) has no distances: no cluster, no PQ code, and as a
    query no probe rows — never the first or last cell by accident."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators import similarity as sim

    book = [(0, [0.0, 1.0]), (1, [1.0, 0.0]), (3, [2.0, 2.0])]
    df = spark.createDataFrame(
        [(1, [0.1, 0.9]), (2, None), (3, [2.0, 1.9]), (4, [1.0, 0.1])],
        "vec_id long, embedding array<double>",
    )
    assigned = sim.kmeans_assign(df, book)
    assert dict(map(tuple, assigned.collect())) == {1: 0, 2: None, 3: 3, 4: 1}
    codes = dict(map(tuple, sim.pq_encode(df, [book]).collect()))
    assert codes == {1: [0], 2: [None], 3: [3], 4: [1]}
    lists = assigned.join(
        df.select("vec_id", F.col("embedding").alias("v")), "vec_id"
    )
    probed = sim.ivf_probe_frozen(lists, df, book, k=2, nprobe=2)
    assert {r["query_id"] for r in probed.collect()} == {1, 3, 4}


def test_knn_ivfpq_respects_blobs(spark):
    """IVF-PQ on two separated blobs: the coarse quantizer must route each
    query to its own blob's inverted list, so every neighbor shares the
    query's blob; residual-ADC ranking then stays within it."""
    import random as _random

    from osmesa_spark.operators.similarity import knn_ivfpq

    rng = _random.Random(9)
    rows = []
    for i in range(60):
        center = 0.0 if i % 2 == 0 else 50.0
        rows.append((i, [center + rng.uniform(-1, 1) for _ in range(8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = knn_ivfpq(
        df, df.where("vec_id < 4"), k=3, coarse_k=2, m=2, pq_k=4, iters=3
    ).collect()
    assert len(out) == 12
    for r in out:
        assert r["query_id"] % 2 == r["neighbor_id"] % 2, (
            "IVF-PQ neighbor crossed coarse clusters"
        )


@settings(max_examples=25, deadline=None)
@given(st.randoms(use_true_random=False))
def test_bpe_merge_fold_fuzz_vs_python(bpe_fuzz_spark, rng):
    """Fuzz the greedy merge fold (the heart of both BPE training and
    inference) against the transparent python reference: random short
    words over a 2-letter alphabet maximize overlapping-run edge cases
    ('aaaa' + merge (a,a)), random merge pair each example."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators.textops import _bpe_apply_merge

    spark = bpe_fuzz_spark
    words = [
        "".join(rng.choice("ab") for _ in range(rng.randint(1, 8)))
        for _ in range(20)
    ]
    a, b = rng.choice("ab"), rng.choice("ab")

    def py_merge(w):
        out = []
        for ch in w:
            if out and out[-1] == a and ch == b:
                out[-1] = a + b
            else:
                out.append(ch)
        return out

    df = spark.createDataFrame([(i, w) for i, w in enumerate(words)],
                               "i long, w string")
    got = {
        r["i"]: list(r["m"])
        for r in df.select(
            "i", _bpe_apply_merge(F.split("w", ""), a, b).alias("m")
        ).collect()
    }
    for i, w in enumerate(words):
        assert got[i] == py_merge(w), (w, a, b)


def test_weighted_sample_prefers_heavy_and_is_deterministic(spark):
    """Efraimidis-Spirakis: an overwhelming weight is always selected, a
    vanishing weight never is, and the sample is rerun-stable."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators.curation import weighted_sample

    rows = [(i, 10.0) for i in range(50)] + [(100, 1e9), (101, 1e-9)]
    df = spark.createDataFrame(rows, "doc_id long, w double")
    got = {r["doc_id"] for r in
           weighted_sample(df, F.col("w"), n=20).collect()}
    assert 100 in got, "overwhelming weight must be sampled"
    assert 101 not in got, "vanishing weight must not be sampled"
    again = {r["doc_id"] for r in
             weighted_sample(df, F.col("w"), n=20).collect()}
    assert got == again


def test_bpe_and_mixture_degenerate_inputs(spark):
    """Operators must degrade, not crash, on degenerate corpora: BPE on an
    empty/wordless corpus learns zero merges; mixture targets naming only
    absent strata produce an empty (not failing) sample."""
    from pyspark.sql import functions as F  # noqa: F401

    from osmesa_spark.operators.curation import mixture_sample
    from osmesa_spark.operators.textops import bpe_train_merges

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert bpe_train_merges(empty, n_merges=4).count() == 0

    wordless = spark.createDataFrame(
        [(1, "!!! ???"), (2, "...")], "doc_id long, text string"
    )
    assert bpe_train_merges(wordless, n_merges=4).count() == 0

    docs = spark.createDataFrame(
        [(1, "en"), (2, "en")], "doc_id long, lang string"
    )
    out = mixture_sample(docs, "lang", {"zz": 1.0})
    assert out.count() == 0


def test_knn_ivfpq_nprobe_reaches_second_cell(spark):
    """Multi-probe: a query whose own coarse cell holds fewer than k other
    members can only fill its top-k by probing the next-nearest cell —
    nprobe=1 must return the short list, nprobe=2 the full one."""
    import random as _random

    from osmesa_spark.operators.similarity import knn_ivfpq

    rng = _random.Random(11)
    rows = []
    # tiny blob at 0 (3 members incl. the query), big blob at 30
    for i in range(3):
        rows.append((i, [0.0 + rng.uniform(-0.5, 0.5) for _ in range(8)]))
    for i in range(3, 40):
        rows.append((i, [30.0 + rng.uniform(-0.5, 0.5) for _ in range(8)]))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    q = df.where("vec_id = 0")
    one = knn_ivfpq(df, q, k=5, coarse_k=2, m=2, pq_k=4, iters=3, nprobe=1)
    two = knn_ivfpq(df, q, k=5, coarse_k=2, m=2, pq_k=4, iters=3, nprobe=2)
    n1, n2 = one.count(), two.count()
    assert n1 == 2, f"own cell has only 2 other members, got {n1}"
    assert n2 == 5, f"second probe should fill to k=5, got {n2}"
    # the 2 own-cell members must still rank first (ADC within the near
    # cell is far smaller than across blobs)
    top2 = {r["neighbor_id"] for r in two.where("rank <= 2").collect()}
    assert top2 == {1, 2}


def test_random_projection_preserves_cosine(spark):
    """JL lemma sanity on the embeddings fixture: cosine in the 16-dim
    projected space tracks full-dim cosine (bounded distortion), and the
    RP top-k probe recalls a solid fraction of the exact neighbors —
    the compression is useful, not just shaped right."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators import similarity as sim

    e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    signs = sim.rp_signs(64, d_out=16, seed=41)
    p = sim.random_projection(e, signs)
    joined = (
        e.alias("a").join(e.alias("b"), F.col("a.vec_id") + 250 == F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ia"), F.col("b.vec_id").alias("ib"),
            F.expr(
                sim._cosine_sql("`a`.`embedding`", "`b`.`embedding`")
            ).alias("c"),
        )
    )
    pj = (
        p.alias("a").join(p.alias("b"), F.col("a.vec_id") + 250 == F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("ia"),
            F.expr(sim._cosine_sql("`a`.`rp`", "`b`.`rp`")).alias("pc"),
        )
    )
    rows = joined.join(pj, "ia").select("c", "pc").collect()
    assert len(rows) >= 100
    err = [abs(r["c"] - r["pc"]) for r in rows]
    # sign-RP at d_out=16: typical distortion ~1/sqrt(16); mean must be
    # well under random (≈0.5 for unrelated cosines) and bounded overall
    assert sum(err) / len(err) < 0.25, sum(err) / len(err)

    q = e.where(F.col("vec_id") < 8)
    bf = sim.knn_bruteforce(e, q, k=5).select("query_id", "neighbor_id")
    rp = sim.knn_rp(e, q, signs, k=5).select("query_id", "neighbor_id")
    hits16 = bf.join(rp, ["query_id", "neighbor_id"]).count()
    # random guessing recalls ~5/500 = 1%; require ≥ 10% aggregate
    assert hits16 >= 4, hits16
    # and the JL scaling direction: doubling d_out must not lose recall
    signs32 = sim.rp_signs(64, d_out=32, seed=41)
    rp32 = sim.knn_rp(e, q, signs32, k=5).select("query_id", "neighbor_id")
    hits32 = bf.join(rp32, ["query_id", "neighbor_id"]).count()
    assert hits32 >= hits16, (hits16, hits32)


def test_doc_chunking_covers_every_token(spark):
    """Chunking invariants on random corpora: every chunk is ≤ max_len
    tokens, consecutive chunks overlap by exactly max_len − stride tokens
    (except the short tail), and concatenating the stride-prefix of each
    chunk plus the full last chunk reassembles the document — no token
    lost or duplicated beyond the declared overlap."""
    import random as _r

    from osmesa_spark import queries as Q
    from tests.conftest import SF_CORRECT

    rng = _r.Random(13)
    words = [f"w{i}" for i in range(40)]
    rows = [
        (i, " ".join(rng.choice(words) for _ in range(rng.randint(1, 300))))
        for i in range(60)
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    # run the same expression pipeline the registry query uses, but emit
    # chunk TEXT for direct checking
    from pyspark.sql import functions as F

    from osmesa_spark.functions.text import word_tokens

    max_len, stride = 64, 48
    toks = word_tokens("text")
    n = F.size(F.col("t"))
    n_chunks = F.greatest(
        F.ceil((n - F.lit(max_len)).cast("double") / F.lit(stride)),
        F.lit(0),
    ).cast("int") + F.lit(1)
    got = (
        docs.select("doc_id", toks.alias("t"))
        .where(F.size("t") > 0)
        .select(
            "doc_id", "t",
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no"),
        )
        .select(
            "doc_id", "chunk_no",
            F.slice("t", F.col("chunk_no") * stride + 1, max_len).alias("c"),
        )
        .collect()
    )
    by_doc: dict[int, dict[int, list[str]]] = {}
    for r in got:
        by_doc.setdefault(r["doc_id"], {})[r["chunk_no"]] = list(r["c"])
    for doc_id, text in rows:
        toks_py = text.split()
        chunks = by_doc[doc_id]
        ks = sorted(chunks)
        assert ks == list(range(len(ks)))
        assert all(len(chunks[k]) <= max_len for k in ks)
        # reassembly: stride prefix of every chunk + tail of the last
        rebuilt: list[str] = []
        for k in ks[:-1]:
            rebuilt.extend(chunks[k][:stride])
        rebuilt.extend(chunks[ks[-1]])
        assert rebuilt == toks_py, doc_id
        # declared overlap between consecutive chunks
        for a, b in zip(ks, ks[1:]):
            assert chunks[a][stride:] == chunks[b][: max_len - stride] or (
                len(chunks[a]) < max_len  # tail chunk started early
            )


def test_leakage_safe_split_invariants(spark):
    """(1) No dup-graph edge ever straddles two splits; (2) docs outside
    every cluster get exactly the dataset_split assignment; (3) adding a
    pair that merges two clusters re-lands the merged family on ONE side."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators.curation import dataset_split, leakage_safe_split
    from osmesa_spark.operators.dedup import connected_components

    docs = spark.range(0, 300).select(F.col("id").alias("doc_id"))
    # chain 0-1-2, clique {10,11,12}, pair {20,21}; everything else isolated
    pairs = spark.createDataFrame(
        [(0, 1), (1, 2), (10, 11), (10, 12), (11, 12), (20, 21)],
        "id_a long, id_b long",
    )
    comp = connected_components(pairs)
    out = leakage_safe_split(docs, comp)

    # (1) both endpoints of every pair share a split
    e = (
        pairs.join(out.select(F.col("doc_id").alias("id_a"),
                              F.col("split").alias("sa")), "id_a")
        .join(out.select(F.col("doc_id").alias("id_b"),
                         F.col("split").alias("sb")), "id_b")
    )
    assert e.where(F.col("sa") != F.col("sb")).count() == 0

    # (2) isolated docs = per-doc assignment
    clustered = {r["node"] for r in comp.collect()}
    base = {r["doc_id"]: r["split"]
            for r in dataset_split(docs).collect()}
    for r in out.collect():
        if r["doc_id"] not in clustered:
            assert r["split"] == base[r["doc_id"]]
            assert r["group_key"] == str(r["doc_id"])

    # (3) merging chain{0,1,2} with pair{20,21} gives one shared split
    merged = connected_components(
        pairs.union(spark.createDataFrame([(2, 20)], "id_a long, id_b long"))
    )
    out2 = leakage_safe_split(docs, merged)
    fam = out2.where(F.col("doc_id").isin([0, 1, 2, 20, 21]))
    assert fam.select("split").distinct().count() == 1
    assert fam.select("group_key").distinct().count() == 1

    # (4) NON-NUMERIC string ids: unclustered docs must still match
    # dataset_split's string-hash assignment, never fall through a null
    # bigint cast into the last split
    sdocs = spark.createDataFrame(
        [("doc-aa",), ("doc-bb",), ("doc-cc",), ("u-1",), ("u-2",)],
        "doc_id string",
    )
    sout = {r["doc_id"]: (r["split"], r["group_key"])
            for r in leakage_safe_split(
                sdocs, comp.limit(0).selectExpr(
                    "cast(node as string) node", "component_id")
            ).collect()}
    sbase = {r["doc_id"]: r["split"] for r in dataset_split(sdocs).collect()}
    assert {s for s, _ in sout.values()} != {"test"}
    for did, (split, gk) in sout.items():
        assert split == sbase[did]
        assert gk == did


def test_shard_manifest_merge_homomorphism(spark):
    """manifest(A ∪ B) == merge(manifest(A), manifest(B)) for disjoint
    batches — the incremental-ingest contract (no rescan on append)."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators.curation import (
        merge_manifests,
        shard_assignment,
        shard_manifest,
    )

    def docs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("text of doc "), F.col("id")).alias("text"),
        )

    a, b = docs(0, 300), docs(300, 520)
    union = docs(0, 520)
    m_inc = merge_manifests(
        shard_manifest(shard_assignment(a, 8)),
        shard_manifest(shard_assignment(b, 8)),
    )
    m_full = shard_manifest(shard_assignment(union, 8))
    inc = sorted(map(tuple, m_inc.collect()))
    full = sorted(map(tuple, m_full.collect()))
    assert inc == full


def test_event_funnel_ordering_semantics(spark):
    """Stage counts honor STRICT event-time ordering: a click before the
    first view doesn't count, a purchase before the first qualifying
    click doesn't count, ties (same timestamp) don't advance the funnel."""
    import datetime as dt

    from osmesa_spark import queries as Q

    base = dt.datetime(2024, 1, 1)

    def ev(eid, uid, typ, minutes):
        return (eid, base + dt.timedelta(minutes=minutes), uid, typ, 0.0, "")

    rows = [
        # u1: full ordered funnel
        ev(1, 1, "view", 0), ev(2, 1, "click", 5), ev(3, 1, "purchase", 9),
        # u2: click BEFORE view, then purchase — click doesn't qualify,
        # so neither does the purchase
        ev(4, 2, "click", 0), ev(5, 2, "view", 5), ev(6, 2, "purchase", 9),
        # u3: purchase before its click — reaches view+click only
        ev(7, 3, "view", 0), ev(8, 3, "purchase", 2), ev(9, 3, "click", 4),
        # u4: click at the SAME instant as the view — strict < blocks it
        ev(10, 4, "view", 0), ev(11, 4, "click", 0),
        # u5: never views
        ev(12, 5, "click", 0), ev(13, 5, "purchase", 5),
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string",
    )
    import tempfile, os
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "events.parquet"))
        # reuse the other sf tables untouched; only events is read
        for t in ("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "documents", "embeddings"):
            src = f"/root/testdata/sf0.001/{t}.parquet"
            os.symlink(src, os.path.join(d, f"{t}.parquet"))
        out = Q.registry()["event_funnel"].spark(spark, d).collect()[0]
    assert (out["n_view"], out["n_view_click"], out["n_full_funnel"]) == (4, 2, 1)


def test_token_budget_plan_waterfill_invariants(spark):
    """On a skewed source distribution: tiny sources saturate at exactly
    4 epochs, the giant absorbs the redistributed budget below the cap,
    and the allocation conserves the total T = 3.5x corpus tokens."""
    import os
    import tempfile

    from pyspark.sql import functions as F

    from osmesa_spark import queries as Q

    rows = []
    did = 0
    for src in ("a", "b", "c"):          # 10 tokens each
        rows.append((did, " ".join(["w"] * 10), "en", src, 10)); did += 1
    for _ in range(10):                   # source d: 10 x 1000 tokens
        rows.append((did, " ".join(["w"] * 1000), "en", "d", 1000)); did += 1
    df = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    with tempfile.TemporaryDirectory() as d:
        df.write.parquet(os.path.join(d, "documents.parquet"))
        got = {r["source"]: r.asDict()
               for r in Q.registry()["token_budget_plan"].spark(spark, d).collect()}
    # W = 10030, T = 35105: a/b/c saturate at 4 epochs (40 tokens each),
    # d gets the remaining 34985 = 3.4985 epochs
    for s in ("a", "b", "c"):
        assert got[s]["saturated"] and got[s]["epochs"] == 4.0
        assert got[s]["alloc_tokens"] == 40.0
    assert not got["d"]["saturated"]
    assert got["d"]["alloc_tokens"] == 34985.0
    assert abs(got["d"]["epochs"] - 3.4985) < 1e-9
    assert sum(r["alloc_tokens"] for r in got.values()) == 35105.0


def test_lsh_max_bucket_bounds_degenerate_buckets(spark):
    """A degenerate LSH bucket (many identical docs) must NOT explode into
    O(n²) candidates when capped — over-cap buckets route through exact
    full-signature star edges, so (1) the candidate count is linear,
    (2) the identical family is still fully connected after CC, and
    (3) docs pairing only through healthy buckets are unaffected."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators import dedup as dd

    boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 4
    rows = [(i, boiler) for i in range(40)]  # one degenerate family
    rows += [
        (100, "a genuinely unique document about spark partitioning and joins"),
        (101, "a genuinely unique document about spark partitioning and joins!"),
        (200, "totally unrelated text with nothing shared across the corpus"),
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = dd.minhash_signatures(docs, num_hashes=16)

    uncapped = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4)
    capped = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=10)
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_un >= 40 * 39 // 2  # quadratic without the cap
    assert n_cap <= 39 + 5  # star edges + the healthy near-dup pairs

    # the identical family stays ONE component under the cap
    comp = dd.connected_components(capped)
    fam = comp.where(F.col("node") < 40)
    assert fam.count() == 40
    assert fam.select("component_id").distinct().count() == 1

    # healthy-bucket pairs survive untouched
    cap_pairs = {(r["id_a"], r["id_b"]) for r in capped.collect()}
    un_pairs = {(r["id_a"], r["id_b"]) for r in uncapped.collect()}
    assert ((100, 101) in cap_pairs) == ((100, 101) in un_pairs)
    assert not any(200 in p for p in cap_pairs)


def test_phash_max_bucket_bounds_degenerate_buckets(spark):
    """phash_pairs twin of the LSH cap: a fingerprint-identical family
    bigger than max_bucket yields linear hamming-0 star edges, not O(n²)
    pairs, and an independent near-dup pair still surfaces."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators import multimodal as mm

    boiler = "the quick brown fox jumps over the lazy dog " * 8
    rows = [(i * 3, boiler) for i in range(30)]  # image-kind ids, same body
    rows += [(900, boiler[:-10] + "lazy cat xx")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    uncapped = mm.phash_pairs(docs, max_hamming=11)
    capped = mm.phash_pairs(docs, max_hamming=11, max_bucket=5)
    n_un, n_cap = uncapped.count(), capped.count()
    assert n_un >= 30 * 29 // 2
    # 29 star edges for the family + (family rep, 900) near-dup pairs
    assert n_cap <= 29 + 31

    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in capped.collect()}
    fam_edges = {p for p in got if p[0] < 900 and p[1] < 900}
    assert all(got[p] == 0 for p in fam_edges)
    # star connectivity: every family member reachable from the min id
    nodes = {n for p in fam_edges for n in p}
    assert nodes == {i * 3 for i in range(30)}


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(min_value=-2000, max_value=6000),
            st.integers(min_value=-2000, max_value=6000),
        ),
        min_size=2,
        max_size=8,
    )
)
def test_clip_polyline_invariants(pts):
    """Liang-Barsky polyline clip: every output vertex inside the box,
    every part ≥2 vertices, no consecutive duplicates, and every INTERIOR
    input segment (both endpoints strictly inside) survives verbatim in
    some part."""
    from osmesa_spark.sinks.updater import _clip_polyline

    parts = _clip_polyline(pts)
    for part in parts:
        assert len(part) >= 2
        for (x, y) in part:
            assert 0 <= x <= 4096 and 0 <= y <= 4096
        assert all(a != b for a, b in zip(part, part[1:]))
    interior_segs = [
        (a, b)
        for a, b in zip(pts, pts[1:])
        if all(0 < c < 4096 for c in (*a, *b)) and a != b
    ]
    joined = [seg for part in parts for seg in zip(part, part[1:])]
    for a, b in interior_segs:
        assert (a, b) in joined, (a, b)


@settings(max_examples=60, deadline=None)
@given(
    st.integers(min_value=-2000, max_value=5000),
    st.integers(min_value=-2000, max_value=5000),
    st.integers(min_value=1, max_value=7000),
    st.integers(min_value=1, max_value=7000),
)
def test_clip_ring_rect_exact(x0, y0, w, h):
    """Sutherland–Hodgman on an axis-aligned rectangle: the clipped ring's
    area must equal the EXACT rectangle∩box intersection area (integer
    geometry — no rounding slack), empty iff the intersection is
    degenerate."""
    from osmesa_spark.sinks import mvt
    from osmesa_spark.sinks.updater import _clip_ring

    x1, y1 = x0 + w, y0 + h
    ring = [(x0, y0), (x1, y0), (x1, y1), (x0, y1)]
    out = _clip_ring(ring)
    iw = min(x1, 4096) - max(x0, 0)
    ih = min(y1, 4096) - max(y0, 0)
    expect = iw * ih if (iw > 0 and ih > 0) else 0
    if expect == 0:
        assert out == []
    else:
        assert len(out) >= 3
        assert abs(mvt.ring_area2(out)) == 2 * expect
        for (x, y) in out:
            assert 0 <= x <= 4096 and 0 <= y <= 4096


def test_paragraph_dedup_first_seen_wins_and_blank_structural(spark):
    """CCNet paragraph dedup semantics on a hand-built corpus: the
    corpus-wide first occurrence (min (doc, idx)) of a duplicated
    paragraph survives, every later copy is excised, blank lines are
    never deduped, and normalization is lower+trim."""
    from osmesa_spark.operators.dedup import dedup_paragraphs

    rows = [
        # doc 1: banner + unique + blank + banner again (intra-doc dup)
        (1, "COOKIE BANNER\nalpha\n\ncookie banner"),
        # doc 2: same banner (case/space variant) + unique
        (2, "  cookie Banner \nbeta"),
        # doc 3: only blanks and a unique line
        (3, "\n\ngamma"),
        # doc 4: exact copy of doc 2's unique line
        (4, "beta"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {
        r["id"]: r
        for r in dedup_paragraphs(df, "doc_id", "text").collect()
    }
    # doc 1 keeps its first banner copy, drops the intra-doc repeat
    assert out[1]["n_paras"] == 4 and out[1]["n_kept"] == 3
    assert out[1]["cleaned"] == "COOKIE BANNER\nalpha\n"
    # doc 2's banner variant normalizes equal -> dropped; beta survives
    # (doc 2 < doc 4 so doc 2 is beta's first occurrence)
    assert out[2]["n_kept"] == 1 and out[2]["cleaned"] == "beta"
    # blanks are structural: kept verbatim, never hashed
    assert out[3]["n_kept"] == 3 and out[3]["cleaned"] == "\n\ngamma"
    # doc 4's beta is the later copy -> excised entirely
    assert out[4]["n_kept"] == 0 and out[4]["cleaned"] == ""


def test_dsir_weights_tilt_toward_target(spark):
    """DSIR log importance weights must rank docs that share the target
    sample's vocabulary above docs that don't, give exactly 0 to empty
    docs, and be invariant to row order (deterministic hashing + fits)."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators.curation import dsir_weights

    rows = [
        # target sample: clean prose vocabulary
        (1, "the quick brown fox jumps over the lazy dog", "tgt"),
        (2, "a quick brown dog naps under the warm sun", "tgt"),
        # raw: one prose-like doc, one spam doc, one empty doc
        (3, "the brown fox and the brown dog", "raw"),
        (4, "buy cheap pills casino jackpot winner click now", "raw"),
        (5, "", "raw"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "src"])
    out = {
        r["id"]: r["logw"]
        for r in dsir_weights(df, F.col("src") == "tgt").collect()
    }
    assert out[3] > out[4], "prose doc must outscore spam under a prose target"
    assert out[5] == 0.0, "empty doc has weight exactly 0"
    # row-order invariance
    out2 = {
        r["id"]: r["logw"]
        for r in dsir_weights(
            df.orderBy(F.col("doc_id").desc()), F.col("src") == "tgt"
        ).collect()
    }
    assert out == out2


@pytest.mark.parametrize("materialize", [True, False])
def test_char_span_excision_matches_bruteforce(spark, materialize):
    """Char-level ExactSubstr excision vs a brute-force Python oracle on a
    corpus with cross-doc shares, a periodic self-overlapping run, a
    too-short doc and a fully-unique doc: every covered character (member
    of any ≥2-occurrence L-window) must be excised, residue order
    preserved. Parametrized over the storage/recompute knob — the
    checkpointed and lineage-recompute plans must be value-identical."""
    from collections import Counter

    from osmesa_spark.operators.dedup import remove_duplicated_spans_char

    L = 10
    docs = [
        (1, "AAAAABBBBBCCCCCDDDDDunique-tail-one-xyzw"),
        (2, "AAAAABBBBBCCCCCDDDDDdifferent-tail-22222"),
        (3, "totally distinct body with no repeats at all 12345"),
        (4, "short"),
        (5, "P" * 30),
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    got = {
        r["id"]: r
        for r in remove_duplicated_spans_char(
            df, min_len=L, materialize=materialize
        ).collect()
    }
    counts = Counter(
        t[i : i + L] for _, t in docs for i in range(len(t) - L + 1)
    )
    for did, t in docs:
        cov = [False] * len(t)
        for i in range(max(0, len(t) - L + 1)):
            if counts[t[i : i + L]] >= 2:
                for j in range(i, i + L):
                    cov[j] = True
        want = "".join(ch for ch, c in zip(t, cov) if not c)
        r = got[did]
        assert r["n_chars"] == len(t)
        assert r["n_removed"] == sum(cov)
        assert r["cleaned"] == want


def test_lr_quality_train_separates_and_handles_empty(spark):
    """The in-engine LR trainer must separate a linearly separable corpus
    (prose vocab vs spam vocab) within its fixed 3 rounds, give an empty
    doc the bias-only score, and be invariant to row order (integer-exact
    gradients + 9dp steps make training deterministic)."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators.textops import lr_quality_train

    rows = []
    for i in range(20):
        rows.append(
            (i, "the quick brown fox jumps over lazy dog again today", True)
        )
        rows.append(
            (100 + i, "buy cheap pills casino jackpot winner click now", False)
        )
    rows.append((500, "", False))
    df = spark.createDataFrame(rows, ["doc_id", "text", "is_good"])
    out = lr_quality_train(df, F.col("is_good")).collect()
    good = [r for r in out if r["id"] < 100]
    bad = [r for r in out if 100 <= r["id"] < 500]
    assert min(r["p"] for r in good) > max(r["p"] for r in bad)
    assert all(r["pred"] for r in good) and not any(r["pred"] for r in bad)
    empty = next(r for r in out if r["id"] == 500)
    assert empty["n_tokens"] == 0 and 0.0 < empty["p"] < 1.0
    out2 = lr_quality_train(
        df.orderBy(F.col("doc_id").desc()), F.col("is_good")
    ).collect()
    assert {(r["id"], r["p"]) for r in out} == {(r["id"], r["p"]) for r in out2}


def test_lr_frozen_serving_matches_training_scores(spark):
    """lr_train_weights + lr_score (the frozen-model serving pair) must
    reproduce lr_quality_train's scores exactly, and score UNSEEN docs
    sensibly under the frozen model (prose-vocab doc above 0.5, spam-vocab
    doc below)."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators.textops import (
        lr_quality_train,
        lr_score,
        lr_train_weights,
    )

    rows = []
    for i in range(20):
        rows.append(
            (i, "the quick brown fox jumps over lazy dog again today", True)
        )
        rows.append(
            (100 + i, "buy cheap pills casino jackpot winner click now", False)
        )
    df = spark.createDataFrame(rows, ["doc_id", "text", "is_good"])
    a = {
        (r["id"], r["p"])
        for r in lr_quality_train(df, F.col("is_good")).collect()
    }
    w, b0 = lr_train_weights(df, F.col("is_good"))
    b = {(r["id"], r["p"]) for r in lr_score(df, w, b0).collect()}
    assert a == b
    unseen = spark.createDataFrame(
        [(900, "the brown dog jumps today"), (901, "cheap casino pills now")],
        ["doc_id", "text"],
    )
    got = {r["id"]: r for r in lr_score(unseen, w, b0).collect()}
    assert got[900]["pred"] and not got[901]["pred"]


def test_dedup_ops_never_drop_null_text_rows(spark):
    """Operators that promise one output row per input doc must honor it
    for null texts (treated as empty), and the LR trainer must fail loudly
    on an empty corpus instead of dividing by zero."""
    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType, StringType, StructField, StructType,
    )

    from osmesa_spark.operators.dedup import (
        dedup_paragraphs,
        remove_duplicated_spans_char,
    )
    from osmesa_spark.operators.textops import lr_quality_train

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    df = spark.createDataFrame(
        [(1, "hello\nworld"), (2, None), (3, "")], schema
    )
    p = {r["id"]: r for r in dedup_paragraphs(df).collect()}
    assert set(p) == {1, 2, 3}
    assert p[2]["cleaned"] == "" and p[2]["n_paras"] == 1
    c = {r["id"]: r for r in remove_duplicated_spans_char(df).collect()}
    assert set(c) == {1, 2, 3}
    assert c[2]["cleaned"] == "" and c[2]["n_chars"] == 0

    with pytest.raises(ValueError, match="no rows"):
        lr_quality_train(df.where(F.lit(False)), F.lit(True)).collect()


def test_capped_lsh_survives_degenerate_bucket_flood(spark):
    """Direct evidence for the max_bucket cap's 100 TB claim (VERDICT r8
    #8): flood the sf0.1 corpus with 10k IDENTICAL boilerplate docs — the
    real-world failure mode (empty/boilerplate text collapsing into one
    LSH bucket per band) that uncapped would materialize one reducer-side
    10k-id array and ~50M useless candidate pairs (10k·9999/2 per band).
    With the default-on cap the flood must cost EXACTLY its linear
    star-route edges (9,999: each member to the min-id representative of
    its full-signature group) on top of the base corpus's candidates, and
    wall time must stay in the base run's regime, not the quadratic one."""
    import time

    from pyspark.sql import functions as F

    from osmesa_spark import queries as Q
    from osmesa_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )

    base = Q._t(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    boiler = "lorem boilerplate footer text repeated verbatim on every page "
    flood = spark.range(10_000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit(boiler * 4).alias("text"),
    )

    def run(df):
        t0 = time.perf_counter()
        n = lsh_candidate_pairs(
            minhash_signatures(df), max_bucket=1000
        ).count()
        return n, time.perf_counter() - t0

    n_base, t_base = run(base)
    n_flood, t_flood = run(base.unionByName(flood))

    extra = n_flood - n_base
    # the flood contributes its 9,999 star edges; a handful more is
    # tolerated for base docs whose bucket happened to go over-cap too
    assert 9_999 <= extra <= 10_050, (
        f"flood added {extra} candidates (base {n_base}, flooded {n_flood})"
        f" — the cap is not bounding the degenerate bucket"
    )
    # quadratic behavior is the measured 245 s uncapped blow-up (PLANS.md
    # r9 flood experiment); linear routing keeps the flooded run within a
    # small multiple of the base run. The margin must absorb full-suite
    # conditions: after ~250 tests of shared-session state the same run
    # measured 37.2 s (vs ~15 s isolated) with base still at 2.1 s, so a
    # tight t_base-relative bound flakes on ambient GC/scheduler load
    # while remaining ~6x below the quadratic regime. Keep the separation
    # wide instead: linear ≲ 40 s even under load, quadratic ≥ 245 s.
    assert t_flood < t_base * 6 + 30, (
        f"flooded run {t_flood:.1f}s vs base {t_base:.1f}s — "
        f"not the linear-cost regime"
    )


def test_group_topk_salted_matches_window(spark):
    """The skew-safe two-phase per-group top-K must return EXACTLY the
    plain window's kept rows (ranks included) on a skewed frame — one hot
    group dwarfing the others plus a group smaller than K — for several
    salt widths. Phase 1 may never discard a global winner (any global
    top-K row is in its salt bucket's local top-K by construction)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from osmesa_spark.operators.curation import group_topk_salted

    hot = spark.range(5_000).select(
        F.col("id").alias("doc_id"),
        F.lit("hot").alias("source"),
        (F.pmod(F.xxhash64("id"), F.lit(997)) / 997.0).alias("quality"),
    )
    cold = spark.range(90).select(
        (F.col("id") + 1_000_000).alias("doc_id"),
        F.concat(
            F.lit("cold"), F.pmod(F.col("id"), F.lit(3)).cast("string")
        ).alias("source"),
        (F.pmod(F.xxhash64("id", F.lit(1)), F.lit(997)) / 997.0).alias(
            "quality"
        ),
    )
    tiny = spark.range(5).select(  # group smaller than K
        (F.col("id") + 2_000_000).alias("doc_id"),
        F.lit("tiny").alias("source"),
        F.lit(0.5).alias("quality"),
    )
    df = hot.unionByName(cold).unionByName(tiny).localCheckpoint()
    order = [F.col("quality").desc(), F.col("doc_id")]
    w = Window.partitionBy("source").orderBy(*order)
    want = sorted(
        map(
            tuple,
            df.withColumn("rank", F.row_number().over(w).cast("int"))
            .where(F.col("rank") <= 40)
            .collect(),
        )
    )
    for n_salt in (1, 4, 16):
        got = sorted(
            map(
                tuple,
                group_topk_salted(
                    df, 40, "source", order, n_salt=n_salt
                ).collect(),
            )
        )
        assert got == want, f"n_salt={n_salt}: salted != window"


def test_capped_phash_survives_identical_media_flood(spark):
    """The phash LSH cap's flood evidence, mirroring the minhash one: 5k
    media docs with IDENTICAL payloads (one fingerprint, over-cap in every
    band) must cost exactly their 4,999 hamming-0 star edges on top of the
    base corpus's pairs — never the ~12.5M quadratic bucket expansion —
    and true duplicates must survive the cap (the star edges ARE the
    duplicate evidence, connecting every member to the min-id rep)."""
    import time

    from pyspark.sql import functions as F

    from osmesa_spark import queries as Q
    from osmesa_spark.operators import multimodal as mm

    base = (
        Q._t(spark, "/root/testdata/sf0.1", "documents")
        .where(F.col("doc_id") % 3 == 0)
        .select("doc_id", "text")
    )
    flood = spark.range(5_000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit("identical synthetic payload body for the phash flood").alias(
            "text"
        ),
    )

    def run(df):
        t0 = time.perf_counter()
        n = mm.phash_pairs(df, max_hamming=3, max_bucket=500).count()
        return n, time.perf_counter() - t0

    n_base, t_base = run(base)
    n_flood, t_flood = run(base.unionByName(flood))
    extra = n_flood - n_base
    assert 4_999 <= extra <= 5_050, (
        f"flood added {extra} pairs (base {n_base}, flooded {n_flood})"
    )
    assert t_flood < t_base * 4 + 5, (
        f"flooded {t_flood:.1f}s vs base {t_base:.1f}s — not linear routing"
    )


def test_sparse_cosine_survives_stopword_flood(spark):
    """The max_df claim of the inverted-index cosine join, flood-tested
    like its LSH siblings: 20k docs sharing ubiquitous boilerplate tokens
    (every token df=20k ≫ max_df) must contribute ZERO posting-list rows —
    the O(N²)-per-hot-term join surface the prune exists to prevent — so
    the pair set and wall time stay at the base corpus's. The flood docs
    are exact duplicates and belong to the exact/minhash tiers; pruning
    only ever LOWERS similarity (norms keep every term), never invents
    pairs."""
    import time

    from pyspark.sql import functions as F

    from osmesa_spark import queries as Q
    from osmesa_spark.operators.dedup import sparse_cosine_pairs

    base = Q._t(spark, "/root/testdata/sf0.1", "documents").select(
        "doc_id", "text"
    )
    flood = spark.range(20_000).select(
        (F.col("id") + 10_000_000).alias("doc_id"),
        F.lit(
            "cookie policy accept decline privacy terms contact about home"
        ).alias("text"),
    )

    def run(df):
        t0 = time.perf_counter()
        got = sorted(
            map(
                tuple,
                sparse_cosine_pairs(df, max_df=100, threshold=0.6).collect(),
            )
        )
        return got, time.perf_counter() - t0

    base_pairs, t_base = run(base)
    flood_pairs, t_flood = run(base.unionByName(flood))
    # every flood token's df exceeds max_df, so the flood cannot appear in
    # any pair NOR change the base pairs' membership (idf shifts with
    # corpus size, but no flood doc survives into the index)
    flood_ids = {i for pair in flood_pairs for i in pair[:2]}
    assert not any(i >= 10_000_000 for i in flood_ids), (
        "flood docs leaked into the pruned index"
    )
    assert len(flood_pairs) == len(base_pairs)
    assert t_flood < t_base * 4 + 5, (
        f"flooded {t_flood:.1f}s vs base {t_base:.1f}s"
    )


def test_blocklist_join_matches_literal_fold(spark):
    """The broadcast-join blocklist twin (large-lexicon path) must agree
    row-for-row with the literal IN fold, including zero-hit docs (the
    left-join coalesce) and null/empty text."""
    from pyspark.sql import functions as F

    from osmesa_spark.functions.text import blocklist_flags
    from osmesa_spark.operators.textops import blocklist_filter_join

    rows = [
        (1, "the slow dog and the big slow cat"),
        (2, "clean text with no hits at all"),
        (3, ""),
        (4, None),
        (5, "spam spam spam"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    terms = ["slow", "big", "spam", "nsfw"]
    lit = df.select(
        "doc_id", blocklist_flags("text", terms).alias("f")
    ).select("doc_id", "f.n_tokens", "f.n_blocked", "f.blocked_frac",
             "f.keep")
    jn = blocklist_filter_join(df, terms)
    a = sorted(map(tuple, lit.collect()))
    b = sorted(map(tuple, jn.collect()))
    assert a == b
    by_id = {r[0]: r for r in a}
    assert by_id[1][2] == 3 and by_id[1][4] is False  # slow, big, slow
    assert by_id[2][2] == 0 and by_id[2][4] is True
    assert by_id[5][2] == 3 and by_id[5][4] is False


def test_dedup_lines_within_doc_order_and_edges(spark):
    """First occurrence wins, original order preserved; single-line,
    all-duplicate, empty and null docs survive."""
    from osmesa_spark.operators.textops import dedup_lines_within_doc

    rows = [
        (1, "a\nb\na\nc\nb\na"),
        (2, "x\nx\nx"),
        (3, "only"),
        (4, ""),
        (5, None),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in dedup_lines_within_doc(df).collect()}
    assert got[1]["text_dedup"] == "a\nb\nc"
    assert (got[1]["n_lines"], got[1]["n_kept"]) == (6, 3)
    assert got[2]["text_dedup"] == "x" and got[2]["n_kept"] == 1
    assert got[3]["text_dedup"] == "only"
    # empty / null text: split('') is [''] -> one (empty) line, kept
    assert got[4]["n_lines"] == 1 and got[4]["text_dedup"] == ""
    assert got[5]["n_lines"] == 1 and got[5]["text_dedup"] == ""


def test_domain_reweight_nll_tilts_toward_hard_domains(spark):
    """DoReMi step sanity: weights sum to 1; a gibberish (high-NLL) source
    is upweighted relative to its base share while the fluent source is
    downweighted; eta=0 degenerates to base shares exactly."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators.textops import domain_reweight_nll

    fluent = [(i, "the cat sat on the mat and the cat sat again", "easy")
              for i in range(40)]
    # distinct token soup per doc -> unseen bigrams, high smoothed NLL
    hard = [(100 + i, f"zq{i}x w{i}k v{i}m r{i}t p{i}b n{i}c", "hard")
            for i in range(40)]
    df = spark.createDataFrame(fluent + hard, ["doc_id", "text", "source"])

    out = {r["source"]: r for r in domain_reweight_nll(df).collect()}
    assert set(out) == {"easy", "hard"}
    total_w = sum(r["weight"] for r in out.values())
    assert abs(total_w - 1.0) < 1e-5
    assert out["hard"]["mean_nll"] > out["easy"]["mean_nll"]
    assert out["hard"]["weight"] > out["hard"]["base_share"]
    assert out["easy"]["weight"] < out["easy"]["base_share"]

    flat = {r["source"]: r for r in domain_reweight_nll(df, eta=0.0).collect()}
    for s in ("easy", "hard"):
        assert flat[s]["weight"] == flat[s]["base_share"]


def test_source_js_divergence_bounds_and_extremes(spark):
    """JSD invariants: identical distributions -> 0; disjoint vocabularies
    -> no shared row (jsd = ln2 by convention); partial overlap lands
    strictly inside (0, ln2)."""
    import math

    from osmesa_spark.operators.textops import source_js_divergence

    rows = (
        [(i, "alpha beta gamma delta", "s_same1") for i in range(10)]
        + [(100 + i, "alpha beta gamma delta", "s_same2") for i in range(10)]
        + [(200 + i, "omega psi chi phi", "s_disjoint") for i in range(10)]
        + [(300 + i, "alpha beta omega psi", "s_half") for i in range(10)]
    )
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {(r["source_a"], r["source_b"]): r["jsd"]
           for r in source_js_divergence(df).collect()}
    ln2 = math.log(2.0)
    assert out[("s_same1", "s_same2")] == 0.0
    # fully disjoint vocab: no shared words -> pair absent (jsd = ln2)
    assert ("s_disjoint", "s_same1") not in out
    for pair, jsd in out.items():
        assert -1e-9 <= jsd <= ln2 + 1e-9, f"{pair}: {jsd}"
    assert 0.0 < out[("s_half", "s_same1")] < ln2
    assert 0.0 < out[("s_disjoint", "s_half")] < ln2


def test_prototypicality_prunes_easy_fraction_per_cluster(spark):
    """SSL-prototypes invariants: exactly floor(frac*n_c) marked per
    cluster; every pruned example is at least as prototypical (cos to own
    centroid) as every kept one in its cluster."""
    import math
    import random

    from osmesa_spark.operators.similarity import prototypicality

    rnd = random.Random(11)
    rows = []
    for i in range(120):
        blob = i % 3
        base = [0.0] * 8
        base[blob] = 1.0
        vec = [b + rnd.uniform(-0.2, 0.2) for b in base]
        rows.append((i, vec))
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = prototypicality(df, k=3, iters=2, prune_frac=0.25).collect()
    by_cluster: dict[int, list] = {}
    for r in out:
        by_cluster.setdefault(r["cluster"], []).append(r)
    assert sum(len(v) for v in by_cluster.values()) == 120
    for cid, members in by_cluster.items():
        n_c = len(members)
        pruned = [r for r in members if not r["keep"]]
        kept = [r for r in members if r["keep"]]
        assert len(pruned) == math.floor(0.25 * n_c), (cid, n_c, len(pruned))
        if pruned and kept:
            assert min(p["cos_c"] for p in pruned) >= max(
                k_["cos_c"] for k_ in kept
            ) - 1e-9


def test_density_census_plants_and_isolates(spark):
    """A planted tight clump must come out core with n_neighbors =
    clump_size-1; a far-away isolated point must report 0 neighbors and
    not be core (the left-join zero-fill path)."""
    import random

    from osmesa_spark.operators.similarity import density_census, lsh_planes

    rnd = random.Random(5)
    clump = [
        (i, [1.0 + rnd.uniform(-0.01, 0.01) for _ in range(8)])
        for i in range(6)
    ]
    # orthogonal-ish singleton: negative mirror in a different octant
    iso = [(99, [(-1.0) ** d * 5.0 for d in range(8)])]
    df = spark.createDataFrame(
        clump + iso, "vec_id long, embedding array<double>"
    )
    out = {r["vec_id"]: r for r in density_census(
        df, lsh_planes(8, n_planes=4, seed=3), radius_cos=0.9, min_pts=2
    ).collect()}
    assert len(out) == 7
    for i in range(6):
        assert out[i]["n_neighbors"] == 5 and out[i]["is_core"], out[i]
    assert out[99]["n_neighbors"] == 0 and not out[99]["is_core"]


def test_decontaminate_spans_char_matches_bruteforce(spark):
    """Cross-check the distributed window-hash decontamination against a
    brute-force python reference: covered chars = union of all >=L-char
    exact substrings shared with any eval doc."""
    from osmesa_spark.operators.dedup import decontaminate_spans_char

    L = 8
    evals = [(100, "SECRETEVALPASSAGEHERE"), (101, "another hidden answer")]
    trains = [
        (1, "prefix SECRETEVALPASSAGEHERE suffix"),      # full overlap
        (2, "xx EVALPASSAGE yy"),                         # >=L partial
        (3, "completely clean text with no overlap"),
        (4, "another hidden answer another hidden answer"),
        (5, "short"),                                     # < L, untouched
        (6, None),                                        # null survives
    ]
    train_df = spark.createDataFrame(trains, ["doc_id", "text"])
    eval_df = spark.createDataFrame(evals, ["doc_id", "text"])
    got = {r["id"]: r for r in decontaminate_spans_char(
        train_df, eval_df, min_len=L
    ).collect()}
    assert len(got) == 6

    ev_windows = set()
    for _, t in evals:
        for i in range(len(t) - L + 1):
            ev_windows.add(t[i:i + L])
    for did, t in trains:
        covered = set()
        if t and len(t) >= L:
            for i in range(len(t) - L + 1):
                if t[i:i + L] in ev_windows:
                    covered.update(range(i, i + L))
        r = got[did]
        assert r["n_covered"] == len(covered), (did, r, len(covered))
        assert r["contaminated"] == (len(covered) > 0)
        assert r["n_chars"] == (len(t) if t else 0)


def test_mmr_select_diversifies_and_degenerates_to_topk(spark):
    """MMR invariants: lambda=1 is plain relevance top-k; with redundant
    near-duplicates of the best item, lambda<1 must skip the duplicate in
    favor of a diverse runner-up."""
    from osmesa_spark.operators.similarity import mmr_select

    q = [1.0, 0.0, 0.0, 0.0]
    rows = [
        (1, [0.99, 0.1, 0.0, 0.0]),   # best match
        (2, [0.99, 0.11, 0.0, 0.0]),  # near-duplicate of 1
        (3, [0.6, 0.8, 0.0, 0.0]),    # diverse, decent relevance
        (4, [0.0, 0.0, 1.0, 0.0]),    # orthogonal to query
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    topk = mmr_select(df, q, k=3, lam=1.0).collect()
    assert [r["vec_id"] for r in topk] == [1, 2, 3]  # pure relevance order

    div = mmr_select(df, q, k=3, lam=0.5).collect()
    ids = [r["vec_id"] for r in div]
    # greedy trace at lam=0.5: 1 first; then the orthogonal 4 (score 0)
    # beats both the near-dup 2 (~0.5-0.5 = ~0) and the correlated 3
    # (negative margin); the near-dup is demoted to last
    assert ids == [1, 4, 2], f"unexpected MMR order {ids}"
    assert ids[1] != 2, "near-duplicate must not be picked second"

    # k larger than the corpus: stops early, no crash
    assert mmr_select(df, q, k=10, lam=0.7).count() == 4


def test_zipf_fit_recovers_planted_exponent(spark):
    """Plant a corpus whose word frequencies follow freq(rank) =
    C * rank^-0.8 exactly; the OLS fit must recover slope ~ -0.8 and a
    perfect-fit intercept ln(C)."""
    from osmesa_spark.operators.textops import zipf_fit

    C = 512
    words = []
    for rank in range(1, 41):
        freq = max(1, round(C * rank ** -0.8))
        words.extend([f"w{rank:03d}"] * freq)
    # one big doc carrying the whole distribution
    df = spark.createDataFrame(
        [(1, " ".join(words), "xx")], ["doc_id", "text", "lang"]
    )
    out = zipf_fit(df, top_n=40).collect()
    assert len(out) == 1
    r = out[0]
    assert r["n_terms"] == 40
    assert abs(r["slope"] - (-0.8)) < 0.05, r["slope"]
    import math
    assert abs(r["intercept"] - math.log(C)) < 0.15, r["intercept"]


def test_dedup_lines_within_doc_matches_python_reference(spark):
    """Randomized cross-check: keep-first line dedup against the obvious
    python reference over docs drawn from a tiny line alphabet (maximizes
    collision density, including all-dup and no-dup extremes)."""
    import random

    from osmesa_spark.operators.textops import dedup_lines_within_doc

    rnd = random.Random(71)
    alphabet = ["a", "bb", "c c", "", "dd d", "e"]
    rows = []
    for did in range(200):
        n = rnd.randint(1, 12)
        rows.append(
            (did, "\n".join(rnd.choice(alphabet) for _ in range(n)))
        )
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {r["doc_id"]: r for r in dedup_lines_within_doc(df).collect()}
    for did, text in rows:
        lines = text.split("\n")
        seen, kept = set(), []
        for l in lines:
            if l not in seen:
                seen.add(l)
                kept.append(l)
        r = got[did]
        assert r["n_lines"] == len(lines)
        assert r["n_kept"] == len(kept)
        assert r["text_dedup"] == "\n".join(kept), (did, text)


def test_multiprobe_recall_dominates_single_probe(spark):
    """Candidate-superset guarantee: per query, multi-probe LSH recall@5
    vs brute force is >= single-probe recall@5 (same planes, same k),
    and at least one query on the sf0.01 fixture actually improves or
    stays at 1.0 overall coverage is sane."""
    from pyspark.sql import functions as F

    from osmesa_spark import queries as Q
    from tests.conftest import SF_CORRECT

    reg = Q.registry()
    single = {
        r["query_id"]: r["recall_at_5"]
        for r in reg["ann_recall_lsh"].spark(spark, SF_CORRECT).collect()
    }
    multi = {
        r["query_id"]: r["recall_at_5"]
        for r in reg["ann_recall_multiprobe"].spark(
            spark, SF_CORRECT
        ).collect()
    }
    assert set(single) == set(multi)
    for qid in single:
        assert multi[qid] >= single[qid] - 1e-9, (
            qid, single[qid], multi[qid]
        )
    assert sum(multi.values()) >= sum(single.values())


def test_knn_label_accuracy_separable_blobs(spark):
    """Planted label-aligned blobs: leave-one-out kNN over LSH buckets
    must predict nearly every label; an isolated vector (unique bucket)
    degrades gracefully to pred_label null / correct false."""
    import random

    from osmesa_spark.operators.similarity import (
        knn_label_accuracy,
        lsh_planes,
    )

    rnd = random.Random(23)
    rows = []
    for i in range(90):
        lbl = i % 3
        base = [0.0] * 8
        base[2 * lbl] = 1.0
        rows.append(
            (i, [b + rnd.uniform(-0.05, 0.05) for b in base], lbl)
        )
    rows.append((999, [(-1.0) ** d * 7.0 for d in range(8)], 7))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )
    out = {r["vec_id"]: r for r in knn_label_accuracy(
        df, lsh_planes(8, n_planes=4, seed=3), k=5
    ).collect()}
    acc = sum(1 for r in out.values() if r["correct"]) / len(out)
    assert acc > 0.9, acc
    blob_rows = [r for i, r in out.items() if i != 999]
    assert all(r["correct"] for r in blob_rows[:10])


def test_collocations_pmi_finds_planted_phrase(spark):
    """A planted rigid phrase ('neural network' always adjacent, its
    words never apart) must outscore a frequent-but-independent pair;
    sub-min-count pairs never appear."""
    import random

    from osmesa_spark.operators.textops import collocations_pmi

    rnd = random.Random(9)
    filler = ["data", "model", "train", "eval", "batch", "loss"]
    rows = []
    for i in range(60):
        words = [rnd.choice(filler) for _ in range(12)]
        words[4:4] = ["neural", "network"]   # rigid collocation
        rows.append((i, " ".join(words)))
    rows.append((999, "rare pair"))          # c_ab = 1 < min_count
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = collocations_pmi(df, min_count=5, top_k=10).collect()
    pairs = [(r["a"], r["b"]) for r in out]
    assert pairs[0] == ("neural", "network"), pairs[:3]
    assert ("rare", "pair") not in pairs
    pmis = [r["pmi"] for r in out]
    assert pmis == sorted(pmis, reverse=True)


def test_embedding_dim_stats_flags_dead_dimension(spark):
    """A constant dimension must report variance 0 / is_dead true; a
    live dimension reports its exact quantized mean and spread."""
    rows = [
        (i, [float(i % 5), 3.25, -1.0 + 0.5 * (i % 3)]) for i in range(40)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    from osmesa_spark.operators.similarity import embedding_dim_stats

    out = {r["dim"]: r for r in embedding_dim_stats(df).collect()}
    assert out[1]["is_dead"] and out[1]["variance"] == 0.0
    assert out[1]["mean"] == 3.25
    assert not out[0]["is_dead"] and out[0]["variance"] > 0
    assert out[2]["min_val"] == -1.0 and out[2]["max_val"] == 0.0


def test_ivf_nprobe_recall_monotone(spark):
    """nprobe monotonicity: recall@5 vs brute force is non-decreasing in
    nprobe, and nprobe = coarse_k recovers brute force exactly (every
    inverted list probed)."""
    from pyspark.sql import functions as F

    from osmesa_spark import queries as Q
    from osmesa_spark.operators import similarity as sim
    from tests.conftest import SF_CORRECT

    e = Q._t(spark, SF_CORRECT, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    bf = {
        (r["query_id"], r["neighbor_id"])
        for r in sim.knn_bruteforce(e, q, k=5).collect()
    }

    def recall(nprobe):
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in sim.knn_ivf_nprobe(
                e, q, k=5, nprobe=nprobe, coarse_k=4, iters=2, seed=29
            ).collect()
        }
        return len(got & bf) / len(bf)

    r1, r2, r4 = recall(1), recall(2), recall(4)
    assert r1 <= r2 + 1e-9 and r2 <= r4 + 1e-9, (r1, r2, r4)
    assert r4 == 1.0, f"nprobe=coarse_k must equal brute force, got {r4}"


def _gopher_rep_reference(text):
    """Python reference for gopher_repetition_flags' exact definitions."""
    import re

    text = text or ""
    lines = text.split("\n")
    from collections import Counter

    lc = Counter(lines)
    dup_lines = [l for l in lines if lc[l] >= 2]
    n_line_chars = sum(len(l) for l in lines)
    dup_line_frac = len(dup_lines) / max(len(lines), 1)
    dup_line_char_frac = (
        sum(len(l) for l in dup_lines) / max(n_line_chars, 1)
    )
    words = re.findall(r"[a-z0-9]+", text.lower())
    tc = max(sum(len(w) for w in words), 1)
    out = {
        "dup_line_frac": round(dup_line_frac, 4),
        "dup_line_char_frac": round(dup_line_char_frac, 4),
    }
    for n in (2, 3, 4):
        grams = [" ".join(words[i:i + n])
                 for i in range(len(words) - n + 1)]
        if not grams:
            out[f"top{n}gram_char_frac"] = 0.0
            continue
        gc = Counter(grams)
        max_c = max(gc.values())
        mode = min(g for g, c in gc.items() if c == max_c)
        out[f"top{n}gram_char_frac"] = round(
            max_c * len(mode.replace(" ", "")) / tc, 4
        )
    for n in range(5, 11):
        grams = [" ".join(words[i:i + n])
                 for i in range(len(words) - n + 1)]
        if not grams:
            out[f"dup{n}gram_char_frac"] = 0.0
            continue
        gc = Counter(grams)
        covered = set()
        for s, g in enumerate(grams):
            if gc[g] >= 2:
                covered.update(range(s, s + n))
        out[f"dup{n}gram_char_frac"] = round(
            sum(len(words[i]) for i in covered) / tc, 4
        )
    return out


def test_gopher_repetition_flags_match_reference(spark):
    """Randomized + crafted docs cross-checked field-by-field against the
    python reference: repeated lines, a rigid repeated phrase (drives the
    dup-n-gram cover), a dominant bigram (drives top-gram), short docs,
    empty and null."""
    import random

    from pyspark.sql import functions as F

    from osmesa_spark.functions.text import gopher_repetition_flags

    rnd = random.Random(31)
    vocab = ["alpha", "bb", "ccc", "dddd", "ee", "f"]
    docs = []
    phrase = "one two three four five six seven"
    for i in range(40):
        ws = [rnd.choice(vocab) for _ in range(rnd.randint(0, 30))]
        if i % 3 == 0:
            ws = ws[:5] + phrase.split() + ws[5:10] + phrase.split()
        docs.append(" ".join(ws))
    docs += [
        "menu\nhome\nmenu\nabout\nmenu",          # repeated lines
        "spam ham " * 20,                          # dominant bigram
        "tiny",
        "",
        None,
    ]
    rows = [(i, d) for i, d in enumerate(docs)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        r["doc_id"]: r["f"]
        for r in df.select(
            "doc_id", gopher_repetition_flags("text").alias("f")
        ).collect()
    }
    for did, text in rows:
        want = _gopher_rep_reference(text)
        g = got[did]
        for key, val in want.items():
            assert abs(g[key] - val) < 1e-9, (did, key, g[key], val, text)
    # crafted expectations
    menus = got[40]
    assert menus["dup_line_frac"] == 0.6 and not menus["r_dup_line"]
    assert got[41]["top2gram_char_frac"] > 0.4
    assert not got[41]["r_top2gram"] and not got[41]["keep"]
    assert got[43]["keep"] and got[44]["keep"]  # empty/null pass the gate


def test_quality_source_norm_percentile_invariants(spark):
    """Within-source percentiles are scorer-scale-free: a source whose
    texts are uniformly 'worse' still yields the identical within-source
    percentile ladder, while global percentiles shift — exactly the bias
    the per-source gate removes."""
    from osmesa_spark.operators.curation import quality_source_norm

    rich = [
        (i, "the quick brown fox and the lazy dog for a walk in town "
            * (2 + i % 3), "rich")
        for i in range(12)
    ]
    poor = [
        (100 + i, "zzz qqq " * (30 + (i % 3) * 10), "poor")
        for i in range(12)
    ]
    df = spark.createDataFrame(rich + poor, ["doc_id", "text", "source"])
    out = quality_source_norm(df).collect()
    by_src = {}
    for r in out:
        by_src.setdefault(r["source"], []).append(r)
    # identical multiset of within-source percentiles per source
    for rows in by_src.values():
        pcts = sorted(r["pct_in_source"] for r in rows)
        assert pcts[0] == 0.0 and pcts[-1] == 1.0
    a = sorted(r["pct_in_source"] for r in by_src["rich"])
    b = sorted(r["pct_in_source"] for r in by_src["poor"])
    assert a == b, "within-source ladder must be scale-free"
    # global percentiles separate the sources (rich scores higher)
    mean_g = lambda s: sum(r["pct_global"] for r in by_src[s]) / len(
        by_src[s]
    )
    assert mean_g("rich") > mean_g("poor")
    # the GK-sketch twin tracks the exact VALUE-based global CDF within
    # its 1/grid rank bound (degenerate accuracy => exact order
    # statistics, so the only error is grid discretization)
    n = len(out)
    qs = sorted(r["quality"] for r in out)
    for r in out:
        cume = sum(1 for q in qs if q <= r["quality"]) / n
        assert abs(r["pct_global_gk"] - cume) <= 1 / 256 + 1e-9, (
            r["doc_id"],
            r["pct_global_gk"],
            cume,
        )
    # the within-source median gate keeps half of EACH source
    kept = {s: sum(1 for r in rows if r["keep_src_q50"])
            for s, rows in by_src.items()}
    assert kept["rich"] == kept["poor"] == 6


def test_quality_source_norm_gk_production_regime(spark):
    """The PRODUCTION knobs of the GK column — a real sketch (accuracy ≪
    corpus rows, so GK actually approximates) and a non-default grid —
    must honor the documented rank bound: |pct_global_gk − exact value
    CDF| ≤ 1/gk_grid + n/accuracy (grid discretization + the GK
    one-sided ε·n rank guarantee, ε = 1/accuracy). This is the contract
    a 100 TB deployment relies on when it drops accuracy to trade error
    for memory — the oracle only ever exercises the degenerate-exact
    regime."""
    from osmesa_spark.operators.curation import quality_source_norm

    docs = [
        (i, ("informative words about the town and the fox " * (1 + i % 7))
            + "z" * (i % 13), f"s{i % 3}")
        for i in range(500)
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text", "source"])
    out = quality_source_norm(df, gk_grid=64, gk_accuracy=50).collect()
    n = len(out)
    qs = sorted(r["quality"] for r in out)
    bound = 1 / 64 + n / 50 / n + 1e-9  # 1/grid + eps·n ranks => eps in pct
    worst = 0.0
    for r in out:
        cume = sum(1 for q in qs if q <= r["quality"]) / n
        worst = max(worst, abs(r["pct_global_gk"] - cume))
    assert worst <= bound, (worst, bound)
    # the exact columns are untouched by the sketch knobs
    for r in out:
        assert 0.0 <= r["pct_global"] <= 1.0


def test_density_census_survives_identical_vector_flood(spark):
    """Degenerate-mass defense: 20k IDENTICAL vectors land in one LSH
    bucket no matter the plane count — the naive |bucket|² plan would
    build 4·10⁸ pair rows; the exact identical-collapse plan pays ONE
    distinct row for the whole flood. Counts stay exact (each flood
    member has 19,999 + nearby-base neighbors) and wall time stays in
    the base query's regime."""
    import time

    from pyspark.sql import functions as F

    from osmesa_spark.operators.similarity import (
        density_census,
        lsh_planes,
    )

    planes = lsh_planes(8, n_planes=4, seed=3)
    base = spark.range(200).select(
        F.col("id").alias("vec_id"),
        F.transform(
            F.sequence(F.lit(1), F.lit(8)),
            lambda d: F.round(
                F.sin(F.col("id") * d.cast("double") * 0.7), 6
            ),
        ).alias("embedding"),
    )

    def run(df):
        t0 = time.perf_counter()
        rows = density_census(
            df, planes, radius_cos=0.95, min_pts=2
        ).collect()
        return rows, time.perf_counter() - t0

    _, t_base = run(base)

    flood_vec = [1.0] * 8
    flood = spark.range(20_000).select(
        (F.col("id") + 1_000_000).alias("vec_id"),
        F.array(*[F.lit(1.0)] * 8).alias("embedding"),
    )
    rows, t_flood = run(base.unionByName(flood))
    by_id = {r["vec_id"]: r for r in rows}
    assert len(rows) == 20_200
    # every flood member sees all 19,999 twins (cos = 1.0 >= 0.95)
    flood_counts = {
        r["n_neighbors"] for i, r in by_id.items() if i >= 1_000_000
    }
    assert len(flood_counts) == 1
    (fc,) = flood_counts
    assert fc >= 19_999 and all(
        by_id[i]["is_core"] for i in by_id if i >= 1_000_000
    )
    assert t_flood < t_base * 5 + 10, (
        f"flooded {t_flood:.1f}s vs base {t_base:.1f}s — the collapse "
        f"must keep the join surface at distinct-vector size"
    )


def test_review_regressions_label_types_and_edges(spark):
    """Regression pack for the round-9 self-review findings:
    (1) knn_label_accuracy works with STRING labels (the argmax is
        order-based, never arithmetic negation);
    (2) blocklist_filter_join with an EMPTY lexicon equals
        blocklist_flags(text, []) — keep everything, no crash;
    (3) density_census keeps a null-embedding row (n_neighbors 0) —
        the null-safe join-back;
    (4) mmr_select preserves the caller's id column name and type;
    (5) embedding_dim_stats compares the UNROUNDED variance: a dimension
        with true variance just below 1e-6 is dead, just above is not."""
    import random

    from pyspark.sql import functions as F

    from osmesa_spark.operators.similarity import (
        density_census,
        embedding_dim_stats,
        knn_label_accuracy,
        lsh_planes,
        mmr_select,
    )
    from osmesa_spark.operators.textops import blocklist_filter_join

    rnd = random.Random(7)
    planes = lsh_planes(8, n_planes=4, seed=3)

    # (1) string labels
    rows = []
    for i in range(60):
        lbl = ["cat", "dog", "owl"][i % 3]
        base = [0.0] * 8
        base[2 * (i % 3)] = 1.0
        rows.append((i, [b + rnd.uniform(-0.05, 0.05) for b in base], lbl))
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label string"
    )
    out = knn_label_accuracy(df, planes, k=5).collect()
    acc = sum(1 for r in out if r["correct"]) / len(out)
    assert acc > 0.9 and isinstance(out[0]["pred_label"], str)

    # (2) empty lexicon
    docs = spark.createDataFrame(
        [(1, "any text at all"), (2, None)], ["doc_id", "text"]
    )
    got = {r["doc_id"]: r for r in blocklist_filter_join(docs, []).collect()}
    assert got[1]["n_blocked"] == 0 and got[1]["keep"]
    assert got[2]["n_blocked"] == 0 and got[2]["keep"]

    # (3) null embedding survives the census
    vecs = spark.createDataFrame(
        [(1, [1.0] * 8), (2, [1.0] * 8), (3, None)],
        "vec_id long, embedding array<double>",
    )
    dens = {r["vec_id"]: r for r in density_census(
        vecs, planes, radius_cos=0.9, min_pts=2
    ).collect()}
    assert len(dens) == 3
    assert dens[3]["n_neighbors"] == 0 and not dens[3]["is_core"]
    assert dens[1]["n_neighbors"] == 1

    # (4) custom id column name/type round-trips through MMR
    named = spark.createDataFrame(
        [("a", [1.0, 0.0]), ("b", [0.9, 0.1]), ("c", [0.0, 1.0])],
        "doc_id string, embedding array<double>",
    )
    sel = mmr_select(named, [1.0, 0.0], k=2, id_col="doc_id")
    assert sel.columns == ["rank", "doc_id", "rel", "score"]
    picked = [r["doc_id"] for r in sel.collect()]
    assert picked[0] == "a" and len(picked) == 2

    # (5) unrounded dead-variance threshold
    vals = [0.0005 if i % 2 == 0 else -0.0005 for i in range(40)]
    # population variance = 2.5e-7 < 1e-6 -> dead even though it rounds
    # to 0.000000 at 6dp either way; and a ~4e-6-variance dim is alive
    vals2 = [0.002 if i % 2 == 0 else -0.002 for i in range(40)]
    frame = spark.createDataFrame(
        [(i, [vals[i], vals2[i]]) for i in range(40)],
        "vec_id long, embedding array<double>",
    )
    dims = {r["dim"]: r for r in embedding_dim_stats(frame).collect()}
    assert dims[0]["is_dead"] is True      # var 2.5e-7
    assert dims[1]["is_dead"] is False     # var 4e-6
