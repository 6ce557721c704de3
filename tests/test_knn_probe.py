"""Contract of the one kNN probe kernel (`similarity._probe`) across every
top-k probe built on it.

The fixture is small and seeded, and built to hit the kernel's edge cases:
  * duplicated vectors (10 = 11 = 25, 30 = 31), so every probe sees exact
    score ties, whatever its keys;
  * two vectors (37, 38) alone in their label bucket and in their sign
    bucket of the axis-aligned LSH planes, so a query there has fewer
    than k candidates;
  * a query set that overlaps the corpus (self-pairs must go) plus two
    off-corpus queries, one a copy of the duplicated vector 10.

For every probe, each kernel call it makes is captured and replayed
without its bound, which ranks every candidate. Per query: the bounded
ranks run 1..min(k, candidates) and are the head of that full ranking;
the full ranking is ordered by score, ties by neighbor id; no row pairs
a query with itself. `knn_bruteforce` must also equal a numpy top-k
reference.
"""

from __future__ import annotations

import functools

import numpy as np
import pytest
from pyspark.sql import functions as F

from osmesa_spark.operators import similarity as sim

K = 5
DIM = 8
N = 40


class ProbeInputs:
    """What the probe calls take: a corpus, a query set, the vector
    width and the LSH planes and RP signs."""

    def __init__(self, corpus, queries, dim, planes, signs):
        self.corpus, self.queries, self.dim = corpus, queries, dim
        self.planes, self.signs = planes, signs

    @functools.cached_property
    def frozen(self):
        """A trained IVF index: (inverted lists, centroids). The lists are
        checkpointed so the probe plan does not hold the training kernel."""
        assigned, cents = sim.kmeans_lloyd(
            self.corpus, k=4, iters=2, seed=29, emit_vector=True,
            return_centroids=True,
        )
        return assigned.localCheckpoint(), cents


# every public top-k probe over the kernel, one call each
PROBES = {
    "knn_bruteforce": lambda p: sim.knn_bruteforce(p.corpus, p.queries, k=K),
    "knn_l2": lambda p: sim.knn_l2(p.corpus, p.queries, k=K),
    "knn_ivf": lambda p: sim.knn_ivf(p.corpus, p.queries, k=K),
    "ivf_probe_frozen": lambda p: sim.ivf_probe_frozen(
        p.frozen[0], p.queries, p.frozen[1], k=K, nprobe=2
    ),
    "ivf_probe_frozen_unbroadcast": lambda p: sim.ivf_probe_frozen(
        p.frozen[0], p.queries, p.frozen[1], k=K, nprobe=2,
        broadcast_queries=False,
    ),
    "knn_quantized": lambda p: sim.knn_quantized(p.corpus, p.queries, k=K),
    "knn_lsh": lambda p: sim.knn_lsh(p.corpus, p.queries, p.planes, k=K),
    "knn_lsh_multiprobe": lambda p: sim.knn_lsh_multiprobe(
        p.corpus, p.queries, p.planes, k=K
    ),
    "knn_rp": lambda p: sim.knn_rp(p.corpus, p.queries, p.signs, k=K),
    "knn_pq": lambda p: sim.knn_pq(p.corpus, p.queries, k=K),
    "knn_pq_rerank": lambda p: sim.knn_pq_rerank(
        p.corpus, p.queries, k=K, shortlist=12, k_centroids=4
    ),
    "knn_ivfpq": lambda p: sim.knn_ivfpq(p.corpus, p.queries, k=K, nprobe=2),
    "knn_binary_rerank": lambda p: sim.knn_binary_rerank(
        p.corpus, p.queries, k=K, shortlist=8, dim=p.dim
    ),
    "hard_negatives": lambda p: sim.hard_negatives(
        p.corpus, p.queries, k=K, dup_threshold=0.95
    ),
    "knn_label_accuracy": lambda p: sim.knn_label_accuracy(
        p.corpus, p.planes, k=K
    ),
}


def _vectors() -> tuple[np.ndarray, list[int]]:
    rng = np.random.default_rng(1107)
    x = rng.normal(size=(N + 2, DIM)).astype(np.float32)
    x[:, 0] = -np.abs(x[:, 0])  # sign bit 0 clear ...
    x[[37, 38], :2] = np.abs(x[[37, 38], :2])  # ... except for 37 and 38
    x[11] = x[25] = x[10]
    x[31] = x[30]
    x[N] = x[10]  # off-corpus query 100: a copy of the duplicated vector
    labels = [i % 3 for i in range(N)]
    labels[37] = labels[38] = 9
    return x, labels


@pytest.fixture(scope="module")
def inputs(spark):
    x, labels = _vectors()
    rows = [(i, x[i].tolist(), labels[i]) for i in range(N)]
    rows += [(100, x[N].tolist(), 1), (101, x[N + 1].tolist(), 0)]
    df = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    corpus = df.where(F.col("vec_id") < N)
    queries = df.where(F.col("vec_id").isin(0, 10, 30, 37, 100, 101))
    # axis-aligned planes: the bucket is the sign pattern of (x0, x1)
    planes = [[1.0] + [0.0] * (DIM - 1), [0.0, 1.0] + [0.0] * (DIM - 2)]
    return ProbeInputs(corpus, queries, DIM, planes, sim.rp_signs(DIM, d_out=4))


def _rows_by_query(rows) -> dict:
    out: dict = {}
    for r in rows:
        out.setdefault(r["query_id"], []).append(r)
    return {qid: sorted(rs, key=lambda r: r["rank"]) for qid, rs in out.items()}


@pytest.fixture
def kernel_calls(monkeypatch):
    """Every `_probe` call made while the test runs, as (bounded rows,
    unbounded rows, k, ascending)."""
    calls = []
    real = sim._probe

    def spy(corpus, queries, on, score_sql, k, ascending=False, **kw):
        out = real(corpus, queries, on, score_sql, k, ascending, **kw)
        every = real(corpus, queries, on, score_sql, 10**9, ascending, **kw)
        calls.append((out.collect(), every.collect(), k, ascending))
        return out

    monkeypatch.setattr(sim, "_probe", spy)
    return calls


@pytest.mark.parametrize("name", sorted(PROBES))
def test_probe_kernel_contract(inputs, kernel_calls, name):
    out = PROBES[name](inputs).collect()
    assert out, f"{name}: empty result"
    assert kernel_calls, f"{name}: did not run the probe kernel"
    ties = 0
    for bounded, every, k, ascending in kernel_calls:
        got, full = _rows_by_query(bounded), _rows_by_query(every)
        assert set(got) == set(full)
        for qid, rs in got.items():
            assert [r["rank"] for r in rs] == list(
                range(1, min(k, len(full[qid])) + 1)
            ), f"{name}: query {qid} ranks are not 1..min(k, candidates)"
            assert rs == full[qid][: len(rs)], (
                f"{name}: query {qid} top-k is not the head of its ranking"
            )
            assert all(r["neighbor_id"] != qid for r in full[qid]), (
                f"{name}: query {qid} paired with itself"
            )
            for a, b in zip(full[qid], full[qid][1:]):
                sa, sb = a["score"], b["score"]
                assert (sa <= sb) if ascending else (sa >= sb), (
                    f"{name}: query {qid} ranked out of score order"
                )
                if sa == sb:
                    ties += 1
                    assert a["neighbor_id"] < b["neighbor_id"], (
                        f"{name}: query {qid} tie not ordered by neighbor id"
                    )
    assert ties, f"{name}: the fixture produced no score tie to check"
    if name != "knn_label_accuracy":
        id_col = "negative_id" if name == "hard_negatives" else "neighbor_id"
        assert all(r["query_id"] != r[id_col] for r in out)
        ranks = _rows_by_query(out)
        assert all(
            [r["rank"] for r in rs] == list(range(1, len(rs) + 1))
            for rs in ranks.values()
        )


@pytest.mark.parametrize("name", ["knn_ivf", "knn_lsh"])
def test_short_bucket_ranks_what_it_holds(inputs, name):
    """Query 37 shares its label bucket and its sign bucket with 38 only:
    one candidate, so one row at rank 1 — not k rows, not a gap."""
    rows = PROBES[name](inputs).where("query_id = 37").collect()
    assert [(r["neighbor_id"], r["rank"]) for r in rows] == [(38, 1)]


def test_bruteforce_matches_numpy_topk(inputs):
    """knn_bruteforce against a numpy replay: cosine folded left to right
    in double precision like the SQL `aggregate`, rounded to 6 places,
    ranked by (cosine desc, neighbor id)."""
    x, _ = _vectors()
    vecs = {i: x[i].astype(np.float64) for i in range(N)}
    vecs[100], vecs[101] = x[N].astype(np.float64), x[N + 1].astype(np.float64)

    def fold(a, b):
        acc = 0.0
        for u, v in zip(a.tolist(), b.tolist()):
            acc += u * v
        return acc

    def cos(a, b):
        den = max(np.sqrt(fold(a, a)) * np.sqrt(fold(b, b)), 1e-12)
        return round(fold(a, b) / den, 6)

    want = []
    for qid in (0, 10, 30, 37, 100, 101):
        ids = np.array([i for i in range(N) if i != qid])
        scores = np.array([cos(vecs[qid], vecs[i]) for i in ids])
        order = np.lexsort((ids, -scores))[:K]
        want += [(qid, int(ids[j]), r + 1) for r, j in enumerate(order)]
    got = sorted(map(tuple, PROBES["knn_bruteforce"](inputs).collect()))
    assert got == sorted(want)
    # the copy of vector 10 ties at cosine 1.0 with 10, 11 and 25
    assert [n for q, n, r in want if q == 100][:3] == [10, 11, 25]
