"""Coverage for functions/litexpr.py and the SQL-string expression
builders: each expression exists only as a rendered SQL string, so every
builder is pinned to an independent pure-Python (or numpy) replay of its
definition — drift must fail a test, not wait for an oracle-hash miss.

Covers:
  * dlit: bit-exact double literal round-trip through Spark SQL for the
    adversarial set (−0.0, denormals incl. the smallest subnormal, double
    extremes, inf/−inf, NaN) plus seeded random bit patterns;
  * darr / larr round-trips;
  * the similarity builders (_dot_sql, _norm_sql, _cosine_sql,
    _lsh_bucket_sql, _sq_l2_pair_sql, _pq_dists_sql) against Python/numpy
    replays on seeded random vectors;
  * word_tokens_sql / shingles_sql against a Python `re` replay;
  * kmeans_assign (the argmin of one `_pq_dists_sql` row) against the
    numpy replay of the Arrow kernel's rounded-distance argmin;
  * minhash_signatures against a hashlib/md5 Python replay;
  * the let-binding lint: a computed input appears exactly once in every
    builder that feeds it to a higher-order-function lambda (Spark-free).
"""

from __future__ import annotations

import hashlib
import math
import random
import re
import struct

import pytest
from pyspark.sql import functions as F

from osmesa_spark.functions.litexpr import darr, dlit, larr

TRICKY_DOUBLES = [
    0.0,
    -0.0,
    1.0,
    -1.0,
    1 / 3,
    0.1,
    -2.5,
    math.pi,
    5e-324,                      # smallest subnormal
    2.2250738585072014e-308,     # smallest normal
    -2.2250738585072014e-308,
    1.7976931348623157e308,      # largest finite
    -1.7976931348623157e308,
    float("inf"),
    float("-inf"),
    float("nan"),
]


def _bits(x: float) -> int:
    return struct.unpack("<Q", struct.pack("<d", x))[0]


def test_dlit_roundtrips_bit_exactly(spark):
    rng = random.Random(1311)
    xs = list(TRICKY_DOUBLES)
    # seeded random BIT PATTERNS (re-drawn until finite-or-special is
    # irrelevant: any pattern is a valid double; NaN payloads normalize)
    for _ in range(48):
        x = struct.unpack("<d", struct.pack("<Q", rng.getrandbits(64)))[0]
        xs.append(x)
    exprs = [F.expr(dlit(x)).alias(f"c{i}") for i, x in enumerate(xs)]
    row = spark.range(1).select(*exprs).first()
    for i, x in enumerate(xs):
        got = row[f"c{i}"]
        if math.isnan(x):
            assert math.isnan(got), f"x={x!r} -> {got!r}"
        else:
            assert _bits(got) == _bits(x), (
                f"dlit bit drift: {x!r} ({_bits(x):#x}) -> "
                f"{got!r} ({_bits(got):#x})"
            )


def test_darr_and_larr_roundtrip(spark):
    rng = random.Random(7)
    dv = [rng.uniform(-1e6, 1e6) for _ in range(17)] + [-0.0, 5e-324]
    lv = [rng.randrange(-(2**62), 2**62) for _ in range(9)] + [0, -1]
    row = spark.range(1).select(
        F.expr(darr(dv)).alias("d"), F.expr(larr(lv)).alias("l")
    ).first()
    assert [_bits(a) for a in row["d"]] == [_bits(a) for a in dv]
    assert list(row["l"]) == lv


@pytest.fixture(scope="module")
def vec_df(spark):
    rng = random.Random(1307)
    rows = [
        (i, [rng.uniform(-2, 2) for _ in range(16)],
         [rng.uniform(-2, 2) for _ in range(16)])
        for i in range(64)
    ]
    return spark.createDataFrame(
        rows, "id long, a array<double>, b array<double>"
    ).localCheckpoint()


def test_dot_norm_cosine_sql_match_python_replay(vec_df):
    from osmesa_spark.operators.similarity import (
        _cosine_sql,
        _dot_sql,
        _norm_sql,
    )

    rows = vec_df.select(
        "id", "a", "b",
        F.expr(_dot_sql("`a`", "`b`")).alias("dot"),
        F.expr(_norm_sql("`a`")).alias("norm"),
        F.expr(_cosine_sql("`a`", "`b`")).alias("cos"),
    ).collect()
    for r in rows:
        # left-to-right double folds from 0.0, exactly as the SQL aggregate
        dot = 0.0
        for x, y in zip(r["a"], r["b"]):
            dot += x * y
        sa = sb = 0.0
        for x in r["a"]:
            sa += x * x
        for y in r["b"]:
            sb += y * y
        na, nb = math.sqrt(sa), math.sqrt(sb)
        assert r["dot"] == dot, f"id={r['id']}"
        assert r["norm"] == na, f"id={r['id']}"
        assert r["cos"] == dot / max(na * nb, 1e-12), f"id={r['id']}"


def test_word_tokens_and_shingles_sql_match_python_re(spark):
    from osmesa_spark.functions.text import shingles_sql, word_tokens_sql

    rng = random.Random(1409)
    vocab = ["Alpha", "beta", "GAMMA", "d3lta", "42", "x", "e-mail", "it's"]
    seps = [" ", "  ", ", ", "\n", "; ", "--", "\t"]
    texts = ["", "   ", "one", "one two", "one two three", "A, b; C!"]
    for _ in range(60):
        k = rng.randint(0, 12)
        texts.append(
            "".join(rng.choice(vocab) + rng.choice(seps) for _ in range(k))
        )
    df = spark.createDataFrame(list(enumerate(texts)), "id long, t string")
    got = {
        r["id"]: r
        for r in df.select(
            "id",
            F.expr(word_tokens_sql("`t`")).alias("toks"),
            F.expr(shingles_sql("`t`", 2)).alias("sh2"),
            F.expr(shingles_sql("`t`", 3)).alias("sh3"),
        ).collect()
    }
    for i, t in enumerate(texts):
        toks = re.findall(r"[a-z0-9]+", t.lower())
        assert list(got[i]["toks"]) == toks, f"text {t!r}"
        for n, col in ((2, "sh2"), (3, "sh3")):
            want = [" ".join(toks[j:j + n]) for j in range(len(toks) - n + 1)]
            assert list(got[i][col]) == want, f"n={n} text {t!r}"


def test_lsh_bucket_and_sq_l2_sql_match_python_replay(vec_df):
    from osmesa_spark.operators.similarity import (
        _lsh_bucket_sql,
        _sq_l2_pair_sql,
        lsh_planes,
    )

    planes = lsh_planes(16, n_planes=6, seed=97)
    cent = [0.25 * ((i % 5) - 2) for i in range(16)]
    rows = vec_df.select(
        "id", "a",
        F.expr(_lsh_bucket_sql("`a`", planes)).alias("bucket"),
        F.expr(_sq_l2_pair_sql("`a`", darr(cent))).alias("d2"),
    ).collect()
    for r in rows:
        want_bucket = 0
        for i, p in enumerate(planes):
            dot = 0.0
            for x, y in zip(r["a"], p):
                dot += x * y
            if dot > 0:
                want_bucket += 1 << i
        assert r["bucket"] == want_bucket, f"id={r['id']}"
        d2 = 0.0
        for x, c in zip(r["a"], cent):
            d2 += (x - c) * (x - c)
        # Spark round(double, 6) == BigDecimal(repr).setScale(6, HALF_UP)
        from decimal import ROUND_HALF_UP, Decimal

        want = float(
            Decimal(repr(d2)).quantize(Decimal("1e-6"), ROUND_HALF_UP)
        )
        assert r["d2"] == want, f"id={r['id']}: {r['d2']!r} != {want!r}"


def test_pq_dists_and_kmeans_assign_match_numpy_replay(vec_df):
    import numpy as np

    from osmesa_spark.operators.similarity import (
        _pq_dists_sql,
        kmeans_assign,
    )

    rng = random.Random(29)
    book = [
        (cid, [rng.uniform(-1, 1) for _ in range(16)]) for cid in range(4)
    ]
    rows = vec_df.select(
        "id", "a", F.expr(_pq_dists_sql("`a`", book)).alias("dists")
    ).collect()
    C = np.array([c for _, c in book])
    for r in rows:
        want = np.round(
            ((np.array(r["a"])[None, :] - C) ** 2).sum(-1), 6
        )
        got = np.array(r["dists"])
        assert (got == want).all(), f"id={r['id']}"

    assigned = {
        r["id"]: r["cluster"]
        for r in kmeans_assign(
            vec_df, book, id_col="id", vec_col="a"
        ).collect()
    }
    X = np.array(
        [r["a"] for r in vec_df.select("id", "a").orderBy("id").collect()]
    )
    D = np.round(((X[:, None, :] - C[None, :, :]) ** 2).sum(-1), 6)
    want_assign = D.argmin(1)
    for i in range(len(X)):
        assert assigned[i] == want_assign[i], f"id={i}"


def test_minhash_signatures_match_hashlib_replay(spark):
    from osmesa_spark.operators.dedup import (
        MINHASH_PRIME,
        _minhash_coeffs,
        minhash_signatures,
    )

    docs = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "pack my box with five dozen liquor jugs"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "a b c a b c a b c"),
        (4, "one two three"),
    ]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r["id"]: list(r["sig"])
        for r in minhash_signatures(df, num_hashes=16).collect()
    }
    coeffs = _minhash_coeffs(16)
    import re

    for doc_id, text in docs:
        toks = re.findall(r"[a-z0-9]+", text.lower())
        shingles = [
            " ".join(toks[i:i + 3]) for i in range(len(toks) - 2)
        ]
        if not shingles:
            assert doc_id not in got
            continue
        base = [
            int(hashlib.md5(s.encode()).hexdigest()[:15], 16)
            % MINHASH_PRIME
            for s in shingles
        ]
        want = [
            min((a * h + b) % MINHASH_PRIME for h in base)
            for a, b in coeffs
        ]
        assert got[doc_id] == want, f"doc {doc_id}"


def test_hof_builders_let_bind_their_input():
    """A higher-order-function lambda re-evaluates every captured subtree
    per element (r11: 8x on shingles), so each builder that feeds a
    computed input to a lambda must reference it exactly ONCE in the
    rendered string — bound through a one-element array, never captured."""
    from osmesa_spark.functions.text import shingles_sql
    from osmesa_spark.operators.similarity import (
        _argmin_pos_sql,
        _cosine_sql,
        _lsh_bucket_sql,
        _pq_dists_sql,
    )

    sentinel = "CAST(`v_sentinel` AS ARRAY<DOUBLE>)"
    other = "CAST(`w_other` AS ARRAY<DOUBLE>)"
    planes = [[0.5, -0.5, 1.0], [1.0, 0.25, -2.0], [-1.0, 1.0, 0.0]]
    book = [(0, [0.0, 1.0, 2.0]), (1, [1.0, 0.0, -1.0]), (2, [3.0, 3.0, 3.0])]
    rendered = {
        "_cosine_sql(a)": _cosine_sql(sentinel, other),
        "_cosine_sql(b)": _cosine_sql(other, sentinel),
        "_lsh_bucket_sql": _lsh_bucket_sql(sentinel, planes),
        "_pq_dists_sql": _pq_dists_sql(sentinel, book),
        "_argmin_pos_sql": _argmin_pos_sql(sentinel),
        "shingles_sql": shingles_sql(sentinel, 3),
    }
    for name, sql in rendered.items():
        assert sql.count("v_sentinel") == 1, f"{name}: {sql}"
