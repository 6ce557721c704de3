"""Building-matching analytical job (reference `src/bm/`, SURVEY §2.12).

What the reference computes: given two building datasets, find matching
pairs — spatially co-partition (quadtree of the normalized extent,
`bm/QuadTreePartitioner.scala:11-110`), score candidate pairs inside a
partition with (a) intersection-over-area ratios
(`bm/VolumeMatching.scala:9-24`), (b) greedy CCW vertex pairing + DLT
homography deviation-from-identity (`bm/VertexMatching.scala:10-93`,
`bm/Homography.scala:28-42`), (c) vertex-onto-boundary projection distances
(`bm/VertexProjection.scala:41-90`), keep pairs with combined probability > 0.5
and centroid distance < 0.01 (`bm/BuildingMatching.scala:160-332`).

Spark-first redesign:
  * candidate generation is a **grid-cell equi-join**, not a custom
    partitioner: each polygon emits the (≤4, deduped) quad cells its bbox
    corners land in — pure Column math — and candidates are same-cell pairs
    with centroid distance below the gate. Spark co-partitions both sides
    on the cell key; AQE splits skewed cells. This is the DataFrame analog
    of the reference's quadtree-hash partitioner + per-partition venn.
  * geometry scoring runs in ONE Arrow-batched `mapInPandas` over candidate
    pairs (vertex arrays carried through the join): numpy Sutherland-Hodgman
    convex clip + shoelace areas for volume ratios, SVD homography for the
    vertex score. No per-row Python, no driver collect.
  * the reference's neighborhood "support" matrix (BuildingMatching.scala:
    200-260) IS rebuilt (`with_support`): anchors = already-matched pairs
    in the cell, support = Σ over anchors of centroid-direction-cosine ×
    distance-ratio, normalized per cell, blended (p + q)/2 — as DataFrame
    joins/aggregations instead of the reference's per-partition dense
    triple loop.

Scale: candidate volume is bounded by cell occupancy (quadratic only within
a cell); payload through the shuffle is the vertex arrays (small). At 100 TB
the cell zoom is the knob — deeper zoom → smaller cells → fewer candidates
per cell.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_ZOOM = 14
DEFAULT_DIST = 0.01  # bm/BuildingMatching.scala:258 centroid gate (degrees)


# ---------------------------------------------------------------------------
# candidate generation (Column math)
# ---------------------------------------------------------------------------

def _cell(lon: Column, lat: Column, zoom: int) -> Column:
    """Equirectangular grid cell id at `zoom` (2^zoom cols over 360°)."""
    n = float(1 << zoom)
    cx = F.floor((lon + 180.0) / 360.0 * n).cast("bigint")
    cy = F.floor((lat + 90.0) / 180.0 * n).cast("bigint")
    return cx * int(n) + cy


def with_bbox(df: DataFrame, vertices_col: str = "vertices") -> DataFrame:
    """Derive bbox + centroid columns from an array<struct<x,y>> ring."""
    v = F.col(vertices_col)
    xs = F.transform(v, lambda p: p["x"])
    ys = F.transform(v, lambda p: p["y"])
    return df.select(
        "*",
        F.array_min(xs).alias("minx"),
        F.array_max(xs).alias("maxx"),
        F.array_min(ys).alias("miny"),
        F.array_max(ys).alias("maxy"),
    ).withColumns(
        {
            "cx": (F.col("minx") + F.col("maxx")) / 2.0,
            "cy": (F.col("miny") + F.col("maxy")) / 2.0,
        }
    )


def _with_cells(df: DataFrame, zoom: int) -> DataFrame:
    """Explode the (deduped) quad cells of the four bbox corners — for
    bboxes smaller than a cell this covers every intersected cell (≤4)."""
    cells = F.array_distinct(
        F.array(
            _cell(F.col("minx"), F.col("miny"), zoom),
            _cell(F.col("minx"), F.col("maxy"), zoom),
            _cell(F.col("maxx"), F.col("miny"), zoom),
            _cell(F.col("maxx"), F.col("maxy"), zoom),
        )
    )
    return df.withColumn("cells", cells).withColumn("cell", F.explode("cells"))


def candidate_pairs(
    a: DataFrame,
    b: DataFrame,
    zoom: int = DEFAULT_ZOOM,
    max_dist: float = DEFAULT_DIST,
) -> DataFrame:
    """Same-cell (id_a, id_b) pairs with centroid distance < max_dist;
    vertex arrays of both sides carried through for scoring."""
    from osmesa_spark.util import ensure_parallelism

    # The downstream Python scoring kernel inherits THIS join's output
    # partitioning (broadcast joins preserve the probe side's splits) — a
    # small input scanned as 1-2 splits would serialize it. Spread the
    # probe side before the join: cheaper than re-shuffling the (larger)
    # pair output afterwards. Side b gets the same treatment: its
    # bbox/cell/flatten synthesis otherwise runs in the scan's split
    # count — ONE serial task at fixture scale (r11 stage profile: 1.0 s
    # single-task map stage); a no-op whenever the scan has enough splits.
    a = ensure_parallelism(a, "id")
    b = ensure_parallelism(b, "id")
    # flatten vertices to x/y double arrays BEFORE the cell join: the
    # shuffle then moves two flat double arrays per row instead of an
    # array of structs (lighter serialization, and Arrow later hands the
    # scoring kernel contiguous numerics without a post-join transform)
    aa = _with_cells(with_bbox(a), zoom).select(
        F.col("id").alias("id_a"),
        F.transform("vertices", lambda p: p["x"]).alias("va_x"),
        F.transform("vertices", lambda p: p["y"]).alias("va_y"),
        F.col("cx").alias("cxa"),
        F.col("cy").alias("cya"),
        F.col("cells").alias("cells_a"),
        "cell",
    )
    bb = _with_cells(with_bbox(b), zoom).select(
        F.col("id").alias("id_b"),
        F.transform("vertices", lambda p: p["x"]).alias("vb_x"),
        F.transform("vertices", lambda p: p["y"]).alias("vb_y"),
        F.col("cx").alias("cxb"),
        F.col("cy").alias("cyb"),
        F.col("cells").alias("cells_b"),
        "cell",
    )
    dist2 = (F.col("cxa") - F.col("cxb")) ** 2 + (F.col("cya") - F.col("cyb")) ** 2
    # A pair sharing >1 cell would match once per shared cell. Instead of a
    # dropDuplicates (a second full shuffle of the vertex payloads), each
    # side carries its tiny (≤4) cell array and the pair is kept only in
    # its canonical cell — the smallest shared one. Same distinct-pair set,
    # one shuffle.
    canonical = F.col("cell") == F.array_min(
        F.array_intersect("cells_a", "cells_b")
    )
    # FORCE the shuffle join on the cell key. Both sides are building
    # corpora — corpus-sized by construction — but Catalyst's size
    # estimate sees only the narrow source scan (an 8-byte id column)
    # and not the quad arrays synthesized AFTER it, so at 10× bench
    # scale it picked a BroadcastHashJoin of a million-rect side: wrong
    # at any real scale, and measured SLOWER even where the driver
    # survives it (sf1: SMJ 15.8 s vs broadcast 17.7 s + a driver OOM at
    # default memory; r10 rehearsal). A genuinely-small side belongs to
    # the caller's knowledge, not a width-blind estimate.
    return (
        aa.join(bb.hint("shuffle_merge"), "cell")
        .where(dist2 < max_dist * max_dist)
        .where(canonical)
        .select(
            "id_a",
            "id_b",
            "va_x",
            "va_y",
            "vb_x",
            "vb_y",
            # neighborhood context for the support matrix: canonical cell
            # + both centroids ride along (tiny vs the vertex payload)
            "cell",
            "cxa",
            "cya",
            "cxb",
            "cyb",
        )
    )


# ---------------------------------------------------------------------------
# numpy geometry kernels (executor-side)
# ---------------------------------------------------------------------------

def _shoelace(poly: np.ndarray) -> float:
    x, y = poly[:, 0], poly[:, 1]
    return 0.5 * abs(
        float(np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y))
    )


def _clip_convex(subject: np.ndarray, clip: np.ndarray) -> np.ndarray:
    """Sutherland-Hodgman: clip `subject` by CONVEX `clip` polygon (CCW)."""
    def inside(p, a, b):
        return (b[0] - a[0]) * (p[1] - a[1]) - (b[1] - a[1]) * (p[0] - a[0]) >= 0

    def intersect(p1, p2, a, b):
        d1 = p2 - p1
        d2 = b - a
        denom = d1[0] * d2[1] - d1[1] * d2[0]
        if denom == 0:
            return p2
        t = ((a[0] - p1[0]) * d2[1] - (a[1] - p1[1]) * d2[0]) / denom
        return p1 + t * d1

    output = list(subject)
    n = len(clip)
    for i in range(n):
        if not output:
            return np.empty((0, 2))
        a, b = clip[i], clip[(i + 1) % n]
        input_pts, output = output, []
        prev = input_pts[-1]
        for cur in input_pts:
            if inside(cur, a, b):
                if not inside(prev, a, b):
                    output.append(intersect(prev, cur, a, b))
                output.append(cur)
            elif inside(prev, a, b):
                output.append(intersect(prev, cur, a, b))
            prev = cur
    return np.array(output) if output else np.empty((0, 2))


def _ccw(poly: np.ndarray) -> np.ndarray:
    x, y = poly[:, 0], poly[:, 1]
    signed = np.dot(x, np.roll(y, -1)) - np.dot(np.roll(x, -1), y)
    return poly if signed >= 0 else poly[::-1]


def volume_areas(pa_: np.ndarray, pb: np.ndarray) -> tuple[float, float, float]:
    """(intersection_area, area_a, area_b) via convex clip + shoelace.

    Both polygons are translated to a shared local origin first: shoelace
    terms at absolute coordinates (x·y products ~1e3 canceling to areas
    ~1e-6) lose ~6 digits to cancellation; near the origin the computation
    is exact to double precision. Translation is area-invariant."""
    shift = np.minimum(pa_.min(axis=0), pb.min(axis=0))
    pa_, pb = pa_ - shift, pb - shift
    inter = _clip_convex(_ccw(pa_), _ccw(pb))
    ia = _shoelace(inter) if len(inter) >= 3 else 0.0
    return ia, _shoelace(pa_), _shoelace(pb)


def volume_ratios(pa_: np.ndarray, pb: np.ndarray) -> tuple[float, float]:
    """bm/VolumeMatching.scala:9-24 — intersection area over each area."""
    ia, aa_, ab = volume_areas(pa_, pb)
    return (ia / aa_ if aa_ > 0 else 0.0, ia / ab if ab > 0 else 0.0)


# ---------------------------------------------------------------------------
# batched (all-pairs-at-once) volume kernel
# ---------------------------------------------------------------------------

def _pad_ragged(arrs) -> tuple[np.ndarray, np.ndarray]:
    """Ragged list of 1-D float arrays → (P, V) matrix padded by repeating
    each row's last element, plus the true lengths. Repeated tail vertices
    are geometric no-ops for both shoelace area and convex clipping."""
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
    v = int(lens.max()) if len(lens) else 0
    out = np.zeros((len(arrs), v))
    mask = np.arange(v)[None, :] < lens[:, None]
    out[mask] = np.concatenate([np.asarray(a, dtype=np.float64) for a in arrs])
    idx = np.minimum(np.arange(v)[None, :], np.maximum(lens - 1, 0)[:, None])
    return np.take_along_axis(out, idx, axis=1), lens


def _shoelace_batch(pts: np.ndarray) -> np.ndarray:
    """Absolute shoelace area per row of a padded (P, V, 2) vertex stack."""
    x, y = pts[:, :, 0], pts[:, :, 1]
    return 0.5 * np.abs(
        np.sum(x * np.roll(y, -1, axis=1) - np.roll(x, -1, axis=1) * y, axis=1)
    )


def _ccw_batch(pts: np.ndarray) -> np.ndarray:
    x, y = pts[:, :, 0], pts[:, :, 1]
    signed = np.sum(x * np.roll(y, -1, axis=1) - np.roll(x, -1, axis=1) * y, axis=1)
    return np.where((signed >= 0)[:, None, None], pts, pts[:, ::-1])


def _clip_step_batch(subject: np.ndarray, b0: np.ndarray, b1: np.ndarray) -> np.ndarray:
    """One vectorized Sutherland-Hodgman step: clip every (padded, CCW)
    subject polygon by its pair's half-plane left of b0→b1. Zero-length
    (padding) edges are automatic no-ops: every cross product is 0, so all
    points test inside and no crossing is emitted."""
    p, v = subject.shape[0], subject.shape[1]
    ev = b1 - b0
    rel = subject - b0[:, None, :]
    cross = ev[:, None, 0] * rel[:, :, 1] - ev[:, None, 1] * rel[:, :, 0]
    inside = cross >= 0
    s_prev = np.roll(subject, 1, axis=1)
    c_prev = np.roll(cross, 1, axis=1)
    i_prev = np.roll(inside, 1, axis=1)
    denom = c_prev - cross
    t = np.where(denom != 0, c_prev / np.where(denom == 0, 1.0, denom), 0.0)
    inter = s_prev + (subject - s_prev) * t[:, :, None]
    out = np.empty((p, 2 * v, 2))
    out[:, 0::2] = inter
    out[:, 1::2] = subject
    valid = np.empty((p, 2 * v), dtype=bool)
    valid[:, 0::2] = inside != i_prev
    valid[:, 1::2] = inside
    # stable compaction: valid slots first, original order kept
    order = np.argsort(~valid, axis=1, kind="stable")
    out = np.take_along_axis(out, order[:, :, None], axis=1)
    cnt = valid.sum(axis=1)
    w = min(2 * v, v + 1)  # convex ∩ half-plane adds ≤1 vertex
    out = out[:, :w]
    idx = np.minimum(np.arange(w)[None, :], np.maximum(cnt - 1, 0)[:, None])
    out = np.take_along_axis(out, idx[:, :, None], axis=1)
    out[cnt == 0] = 0.0  # empty → degenerate all-zero polygon (area 0)
    return out


def volume_areas_batch(
    ax: list, ay: list, bx: list, by: list
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(intersection, area_a, area_b) arrays for P polygon pairs given as
    ragged x/y coordinate lists — the vectorized twin of `volume_areas`
    (same local-origin shift, same clip semantics), ~100× the scalar loop."""
    axp, _ = _pad_ragged(ax)
    ayp, _ = _pad_ragged(ay)
    bxp, _ = _pad_ragged(bx)
    byp, _ = _pad_ragged(by)
    pa_ = np.stack([axp, ayp], axis=2)
    pb = np.stack([bxp, byp], axis=2)
    shift = np.minimum(pa_.min(axis=1), pb.min(axis=1))[:, None, :]
    pa_, pb = pa_ - shift, pb - shift
    pa_, pb = _ccw_batch(pa_), _ccw_batch(pb)
    vb = pb.shape[1]
    clipped = pa_
    for e in range(vb):
        clipped = _clip_step_batch(clipped, pb[:, e], pb[:, (e + 1) % vb])
    return _shoelace_batch(clipped), _shoelace_batch(pa_), _shoelace_batch(pb)


def _pair_vertices(pa_: np.ndarray, pb: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Greedy nearest-vertex pairing in CCW order (VertexMatching model)."""
    pa_, pb = _ccw(pa_), _ccw(pb)
    used = np.zeros(len(pb), dtype=bool)
    src, dst = [], []
    for p in pa_:
        d = np.linalg.norm(pb - p, axis=1)
        d[used] = np.inf
        j = int(np.argmin(d))
        if np.isfinite(d[j]):
            used[j] = True
            src.append(p)
            dst.append(pb[j])
    return np.array(src), np.array(dst)


def _hartley_T(pts: np.ndarray) -> np.ndarray:
    """Hartley conditioning transform: centroid to origin, mean vertex
    distance to sqrt(2) (Hartley & Zisserman, 'Multiple View Geometry',
    normalized DLT)."""
    c = pts.mean(axis=0)
    d = np.linalg.norm(pts - c, axis=1).mean()
    s = np.sqrt(2.0) / max(d, 1e-12)
    return np.array([[s, 0, -s * c[0]], [0, s, -s * c[1]], [0, 0, 1.0]])


def homography_deviation(pa_: np.ndarray, pb: np.ndarray) -> float:
    """bm/Homography.scala:28-42 — DLT: homogeneous SVD solve of the
    projective transform mapping paired vertices a→b; deviation is the
    Frobenius distance of the normalized H from identity.

    The DLT runs on Hartley-normalized coordinates and denormalizes the
    recovered H (same homography, well-conditioned solve): the raw system's
    entries scale with u·x ~ coordinate², which at lon/lat magnitudes loses
    ~5 digits of the recovered H — measured 1.4e-4 deviation error on exact
    translated rectangles vs 1.7e-9 normalized."""
    src, dst = _pair_vertices(pa_, pb)
    if len(src) < 4:
        return float("inf")
    ta, tb = _hartley_T(src), _hartley_T(dst)
    sh = (ta @ np.vstack([src.T, np.ones(len(src))]))[:2].T
    dh = (tb @ np.vstack([dst.T, np.ones(len(dst))]))[:2].T
    rows = []
    for (x, y), (u, v) in zip(sh, dh):
        rows.append([-x, -y, -1, 0, 0, 0, u * x, u * y, u])
        rows.append([0, 0, 0, -x, -y, -1, v * x, v * y, v])
    _, _, vt = np.linalg.svd(np.array(rows))
    h = np.linalg.inv(tb) @ vt[-1].reshape(3, 3) @ ta
    if abs(h[2, 2]) < 1e-12:
        return float("inf")
    h = h / h[2, 2]
    return float(np.linalg.norm(h - np.eye(3)))


def vertex_score(pa_: np.ndarray, pb: np.ndarray, scale: float) -> float:
    """Map homography deviation to (0,1]: identity → 1. `scale` normalizes
    coordinate magnitude (deviation is coordinate-scale dependent)."""
    dev = homography_deviation(pa_, pb)
    if not np.isfinite(dev):
        return 0.0
    return 1.0 / (1.0 + dev / max(scale, 1e-12))


def _point_boundary_dists(points: np.ndarray, poly: np.ndarray) -> np.ndarray:
    """Min distance from each point to the polygon's boundary: vectorized
    point-to-segment over all edges at once ((n points) × (m edges))."""
    a = poly
    b = np.roll(poly, -1, axis=0)
    ab = b - a  # (m, 2)
    ap = points[:, None, :] - a[None, :, :]  # (n, m, 2)
    denom = (ab ** 2).sum(-1)  # (m,)
    t = np.clip(
        (ap * ab[None]).sum(-1) / np.where(denom > 0, denom, 1.0), 0.0, 1.0
    )
    proj = a[None] + t[..., None] * ab[None]
    return np.linalg.norm(points[:, None, :] - proj, axis=-1).min(axis=1)


def projection_score(pa_: np.ndarray, pb: np.ndarray, scale: float) -> float:
    """VertexProjection variant (bm/VertexProjection.scala:41-90 model):
    project every vertex of each polygon onto the other's boundary and take
    the worse of the two mean perpendicular distances — identical outlines
    score 1 regardless of vertex count/placement mismatch (the case greedy
    vertex PAIRING penalizes), offset outlines decay with distance."""
    if len(pa_) < 2 or len(pb) < 2:
        return 0.0
    da = float(_point_boundary_dists(pa_, pb).mean())
    db = float(_point_boundary_dists(pb, pa_).mean())
    return 1.0 / (1.0 + max(da, db) / max(scale, 1e-12))


def _point_boundary_dists_batch(P: np.ndarray, Q: np.ndarray) -> np.ndarray:
    """Batched `_point_boundary_dists`: min distance from each of m×np
    points to its pair's polygon boundary. P (m, np, 2), Q (m, nq, 2) →
    (m, np). Same point-to-segment formula, one extra leading axis."""
    a = Q
    b = np.roll(Q, -1, axis=1)
    ab = b - a  # (m, nq, 2)
    ap = P[:, :, None, :] - a[:, None, :, :]  # (m, np, nq, 2)
    denom = (ab ** 2).sum(-1)  # (m, nq)
    t = np.clip(
        (ap * ab[:, None]).sum(-1)
        / np.where(denom > 0, denom, 1.0)[:, None],
        0.0,
        1.0,
    )
    proj = a[:, None] + t[..., None] * ab[:, None]
    return np.linalg.norm(P[:, :, None, :] - proj, axis=-1).min(axis=2)


def _pair_vertices_batch(
    A: np.ndarray, B: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batched `_pair_vertices` for m polygon pairs of UNIFORM shape
    (na, nb): greedy nearest-unused pairing in CCW order, identical
    tie-breaking (first minimal index). Returns (src, dst) of shape
    (m, k, 2), k = min(na, nb)."""
    m, na, _ = A.shape
    nb = B.shape[1]
    k = min(na, nb)
    D = np.linalg.norm(B[:, None, :, :] - A[:, :, None, :], axis=-1)
    used = np.zeros((m, nb), dtype=bool)
    dst = np.empty((m, k, 2))
    rows = np.arange(m)
    for i in range(k):
        d = np.where(used, np.inf, D[:, i, :])
        j = d.argmin(axis=1)
        used[rows, j] = True
        dst[:, i] = B[rows, j]
    return A[:, :k], dst


def _hartley_T_batch(P: np.ndarray) -> np.ndarray:
    """Batched `_hartley_T`: (m, k, 2) → (m, 3, 3)."""
    c = P.mean(axis=1)  # (m, 2)
    d = np.linalg.norm(P - c[:, None], axis=2).mean(axis=1)
    s = np.sqrt(2.0) / np.maximum(d, 1e-12)
    T = np.zeros((len(P), 3, 3))
    T[:, 0, 0] = s
    T[:, 1, 1] = s
    T[:, 0, 2] = -s * c[:, 0]
    T[:, 1, 2] = -s * c[:, 1]
    T[:, 2, 2] = 1.0
    return T


def _apply_T_batch(T: np.ndarray, P: np.ndarray) -> np.ndarray:
    """Apply (m,3,3) conditioning transforms to (m,k,2) points → (m,k,2)."""
    homog = np.concatenate([P, np.ones((*P.shape[:2], 1))], axis=2)
    return np.einsum("mij,mkj->mki", T, homog)[:, :, :2]


def scores_batch(
    polys_a: list, polys_b: list, scale: float = 1.0
) -> tuple[np.ndarray, np.ndarray]:
    """Vertex (DLT-homography) and projection scores for P polygon pairs —
    the batched twin of per-pair `vertex_score`/`projection_score` the
    scoring kernel hot-loops over (per-pair 8×9 SVD + greedy pairing in
    Python was the kernel's dominant cost; batching moves it into one
    LAPACK `gesdd` call per shape group, ~5× the scalar loop end-to-end).
    Pairs are grouped by exact (len_a, len_b) so ragged inputs batch
    without padding artifacts; differential-tested against the scalar
    functions (`test_buildings.py::test_scores_batch_matches_scalar`)."""
    n = len(polys_a)
    pv = np.zeros(n)
    pj = np.zeros(n)
    from collections import defaultdict

    groups: dict[tuple[int, int], list[int]] = defaultdict(list)
    for i, (a, b) in enumerate(zip(polys_a, polys_b)):
        groups[(len(a), len(b))].append(i)
    eye = np.eye(3)
    for (na, nb), idxs in groups.items():
        ii = np.asarray(idxs)
        A = np.stack([polys_a[i] for i in idxs])
        B = np.stack([polys_b[i] for i in idxs])
        if na >= 2 and nb >= 2:
            da = _point_boundary_dists_batch(A, B).mean(axis=1)
            db = _point_boundary_dists_batch(B, A).mean(axis=1)
            pj[ii] = 1.0 / (1.0 + np.maximum(da, db) / max(scale, 1e-12))
        if min(na, nb) < 4:
            continue  # deviation = inf → vertex score 0 (scalar parity)
        src, dst = _pair_vertices_batch(_ccw_batch(A), _ccw_batch(B))
        ta, tb = _hartley_T_batch(src), _hartley_T_batch(dst)
        sh, dh = _apply_T_batch(ta, src), _apply_T_batch(tb, dst)
        m, k = sh.shape[0], sh.shape[1]
        M = np.zeros((m, 2 * k, 9))
        x, y = sh[:, :, 0], sh[:, :, 1]
        u, v = dh[:, :, 0], dh[:, :, 1]
        M[:, 0::2, 0] = -x
        M[:, 0::2, 1] = -y
        M[:, 0::2, 2] = -1.0
        M[:, 0::2, 6] = u * x
        M[:, 0::2, 7] = u * y
        M[:, 0::2, 8] = u
        M[:, 1::2, 3] = -x
        M[:, 1::2, 4] = -y
        M[:, 1::2, 5] = -1.0
        M[:, 1::2, 6] = v * x
        M[:, 1::2, 7] = v * y
        M[:, 1::2, 8] = v
        _, _, vt = np.linalg.svd(M)
        h = np.linalg.inv(tb) @ vt[:, -1, :].reshape(m, 3, 3) @ ta
        h22 = h[:, 2, 2]
        ok = np.abs(h22) >= 1e-12
        h = h / np.where(ok, h22, 1.0)[:, None, None]
        dev = np.linalg.norm(h - eye, axis=(1, 2))
        pv[ii] = np.where(
            ok, 1.0 / (1.0 + dev / max(scale, 1e-12)), 0.0
        )
    return pv, pj


# ---------------------------------------------------------------------------
# the matcher
# ---------------------------------------------------------------------------

_SCORE_SCHEMA = T.StructType(
    [
        T.StructField("id_a", T.LongType()),
        T.StructField("id_b", T.LongType()),
        T.StructField("inter_area", T.DoubleType()),
        T.StructField("area_a", T.DoubleType()),
        T.StructField("area_b", T.DoubleType()),
        T.StructField("p_vol_a", T.DoubleType()),
        T.StructField("p_vol_b", T.DoubleType()),
        T.StructField("p_vertex", T.DoubleType()),
        T.StructField("p_proj", T.DoubleType()),
        T.StructField("p", T.DoubleType()),
        T.StructField("cell", T.LongType()),
        T.StructField("cxa", T.DoubleType()),
        T.StructField("cya", T.DoubleType()),
        T.StructField("cxb", T.DoubleType()),
        T.StructField("cyb", T.DoubleType()),
    ]
)


def score_pairs(pairs: DataFrame, with_vertex: bool = True) -> DataFrame:
    """Arrow-batched scoring of candidate pairs (va/vb vertex arrays).

    `with_vertex=False` skips the DLT-homography vertex score (a per-pair
    8×9 SVD — the kernel's dominant cost) for consumers that only need the
    volume ratios; `p` is then max of the volume ratios alone."""
    from osmesa_spark.session import ship_package

    ship_package(pairs.sparkSession)
    # NOT width-repartitioned before the kernel: an explicit
    # 2×defaultParallelism hash-repartition of the pairs (to undo AQE's
    # byte-based 16-task coalescing, guide §2.5) was tried in r11 and
    # measured 0.85-0.88× — SLOWER at sf0.1 in an interleaved same-session
    # A/B (OPTIMIZATION_r11.md, carried item 3): the extra exchange +
    # stage latency outweighs doubling the kernel's task width while each
    # task is only ~0.5 s. At 100 TB the byte-based coalescing could still
    # pack Python-CPU-dense scoring too coarsely (the r10 tile-sink
    # class); revisit with a real-scale profile before pinning a width.

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            ia, aa_, ab = volume_areas_batch(
                list(pdf["va_x"]), list(pdf["va_y"]),
                list(pdf["vb_x"]), list(pdf["vb_y"]),
            )
            ra = np.where(aa_ > 0, ia / np.where(aa_ > 0, aa_, 1.0), 0.0)
            rb = np.where(ab > 0, ia / np.where(ab > 0, ab, 1.0), 0.0)
            if with_vertex:
                polys_a = [
                    np.column_stack([np.asarray(x), np.asarray(y)])
                    for x, y in zip(pdf["va_x"], pdf["va_y"])
                ]
                polys_b = [
                    np.column_stack([np.asarray(u), np.asarray(v)])
                    for u, v in zip(pdf["vb_x"], pdf["vb_y"])
                ]
                pv, pj = scores_batch(polys_a, polys_b, scale=1.0)
            else:
                pv = np.zeros(len(pdf))
                pj = np.zeros(len(pdf))
            yield pd.DataFrame(
                {
                    "id_a": pdf["id_a"].astype("int64").values,
                    "id_b": pdf["id_b"].astype("int64").values,
                    "inter_area": ia,
                    "area_a": aa_,
                    "area_b": ab,
                    "p_vol_a": ra,
                    "p_vol_b": rb,
                    "p_vertex": pv,
                    "p_proj": pj,
                    "p": np.maximum(np.maximum(np.maximum(ra, rb), pv), pj),
                    "cell": pdf["cell"].astype("int64").values,
                    "cxa": pdf["cxa"].values,
                    "cya": pdf["cya"].values,
                    "cxb": pdf["cxb"].values,
                    "cyb": pdf["cyb"].values,
                }
            )

    return pairs.mapInPandas(kernel, schema=_SCORE_SCHEMA)


def with_support(
    scored: DataFrame,
    anchor_threshold: float = 0.9,
    anchor_pred: Column | None = None,
    materialize_input: bool = True,
) -> DataFrame:
    """Neighborhood "support" matrix (BuildingMatching.scala:200-260):
    for each candidate pair (a, b) in a cell, sum over the cell's ANCHOR
    buildings c (pairs already matched with p >= anchor_threshold — the
    reference's left∩right "middle" set) of

        dot  = (cos∠((a−c), (b−c)) + 1) / 2          # same-direction term
        dist = min(|a−c|/|b−c|, |b−c|/|a−c|)          # same-distance term
        r    = dot · dist

    then normalize by the cell's max support (the reference's per-partition
    matrix max) and blend: p_sup = (p + q_norm) / 2 — BuildingMatching's
    "Compute Probabilities" line (p(i)(j) = (max(p1,p2,p3) + q(i)(j))/2).

    Spark shape: anchors ⋈ candidates is a cell-keyed equi-join (both sides
    co-partitioned; anchor count per cell is small), the support sum is one
    partial-agg shuffle on (cell, id_a, id_b), the normalization a window
    over cell on the already-partitioned aggregate. Pure Column math.
    Cells with no anchors keep q = 0 → p_sup = p/2, matching the
    reference's zero support sum.

    Measured alternative (r7, RE-MEASURED r9): replacing the cell window
    with groupBy(cell).max + broadcast join-back is SLOWER at sf0.1 in
    both flavors — interleaved medians over 3 reps: window 3.65 s,
    checkpoint-the-aggregate + join-back 4.43 s, recompute-the-aggregate +
    join-back 4.02 s. The support aggregate is small (one row per
    candidate pair) and already cell-clustered, so the window's per-cell
    sort is cheap, while the join-back adds a job boundary + broadcast
    round-trip. The window is also the scale-safe shape: partition sizes
    are per-cell candidate counts, bounded by the grid-cell blocking, so
    no cell can become a straggler partition at 100 TB. Keep the window.

    `anchor_pred` overrides the p-threshold anchor rule with an arbitrary
    Column predicate over the scored columns (e.g. an exact integer-area
    criterion immune to cross-engine float-rounding at the threshold).

    `materialize_input` (default on) localCheckpoints `scored` first: it
    feeds BOTH the anchor side and the candidate side of the cell join, and
    without materialization each side re-executes the upstream subtree —
    for a score_pairs input that is the polygon-clipping Arrow kernel run
    twice over every candidate pair. One eager pass stores the scored
    blocks; both sides scan them."""
    from pyspark.sql import Window

    if materialize_input:
        # lazy: the cell join's first map stage materializes the clipping-
        # kernel blocks under the caller's action; cache locks keep the
        # kernel computed once across the anchor and candidate sides
        scored = scored.localCheckpoint(eager=False)
    if anchor_pred is None:
        anchor_pred = F.col("p") >= anchor_threshold
    anchors = scored.where(anchor_pred).select(
        "cell",
        ((F.col("cxa") + F.col("cxb")) / 2.0).alias("kx"),
        ((F.col("cya") + F.col("cyb")) / 2.0).alias("ky"),
    )
    vx, vy = F.col("cxa") - F.col("kx"), F.col("cya") - F.col("ky")
    ux, uy = F.col("cxb") - F.col("kx"), F.col("cyb") - F.col("ky")
    absv = F.sqrt(vx * vx + vy * vy)
    absu = F.sqrt(ux * ux + uy * uy)
    dot = (
        (vx * ux + vy * uy) / F.greatest(absv * absu, F.lit(1e-12)) + 1.0
    ) / 2.0
    dist = F.least(
        absv / F.greatest(absu, F.lit(1e-12)),
        absu / F.greatest(absv, F.lit(1e-12)),
    )
    joined = scored.join(anchors, "cell", "left")
    q = (
        joined.groupBy(
            "cell", "id_a", "id_b", "p", "p_vol_a", "p_vol_b", "p_vertex",
            "p_proj",
        )
        .agg(
            F.sum(
                F.when(F.col("kx").isNotNull(), dot * dist).otherwise(0.0)
            ).alias("q_raw")
        )
    )
    w = Window.partitionBy("cell")
    q_norm = F.when(
        F.max("q_raw").over(w) > 0, F.col("q_raw") / F.max("q_raw").over(w)
    ).otherwise(F.lit(0.0))
    return q.select(
        "cell",
        "id_a",
        "id_b",
        "p_vol_a",
        "p_vol_b",
        "p_vertex",
        "p_proj",
        "p",
        F.round(q_norm, 6).alias("support"),
        F.round((F.col("p") + q_norm) / 2.0, 6).alias("p_sup"),
    )


def building_match(
    a: DataFrame,
    b: DataFrame,
    zoom: int = DEFAULT_ZOOM,
    max_dist: float = DEFAULT_DIST,
    threshold: float = 0.5,
) -> DataFrame:
    """End-to-end match: candidates → scores → p > threshold
    (bm/BuildingMatching.scala:160-332). Inputs: (id: long,
    vertices: array<struct<x:double,y:double>>)."""
    return score_pairs(candidate_pairs(a, b, zoom, max_dist)).where(
        F.col("p") > threshold
    )


def with_quadtree_address(
    df: DataFrame,
    xmin: Column,
    ymin: Column,
    xmax: Column,
    ymax: Column,
    max_divisions: int = 8,
    division_set: set[int] | None = None,
    partitions: int = 4099,
) -> DataFrame:
    """QuadTreePartitioner parity (bm/QuadTreePartitioner.scala:11-110):
    hierarchical quadtree address of a geometry's NORMALIZED bbox — 2 bits
    per division while both bbox corners agree on the quadrant (strict
    `> 0.5` test, exactly the reference's getBits), address accumulating
    only the divisions in `division_set`, then a plain hash partition id
    (`address % partitions`, reference default 4099 — prime, coprime with
    the 4-ary address radix so sibling quads spread).

    Spark-first shape: the reference subclasses RDD Partitioner; here the
    address is a pure COLUMN the engine can `repartition()` / groupBy on —
    the same co-location contract without leaving the DataFrame planner.
    Each division is ONE chained projection (named intermediate columns),
    so the expression tree stays linear in `max_divisions` — Catalyst's
    CollapseProject keeps multiply-referenced non-trivial intermediates
    materialized instead of inlining them exponentially.

    Adds: `qt_address` (bigint), `qt_partition` (int)."""
    division_set = (
        set(range(max_divisions + 1)) if division_set is None else division_set
    )
    out = df.withColumns(
        {
            "__qx0": (xmin + 180.0) / 360.0,
            "__qy0": (ymin + 90.0) / 180.0,
            "__qx1": (xmax + 180.0) / 360.0,
            "__qy1": (ymax + 90.0) / 180.0,
            "qt_address": F.lit(0).cast("bigint"),
            "__qdone": F.lit(False),
        }
    )
    for division in range(max_divisions + 1):
        minb = (F.col("__qx0") > 0.5).cast("int") + (
            F.col("__qy0") > 0.5
        ).cast("int") * 2
        maxb = (F.col("__qx1") > 0.5).cast("int") + (
            F.col("__qy1") > 0.5
        ).cast("int") * 2
        agree = (minb == maxb) & ~F.col("__qdone")
        cols = {
            "__qb": F.when(agree, minb).otherwise(F.lit(-1)),
        }
        out = out.withColumns(cols)
        b = F.col("__qb")
        shift_x = F.when(b % 2 == 1, F.lit(0.5)).otherwise(F.lit(0.0))
        shift_y = F.when(b >= 2, F.lit(0.5)).otherwise(F.lit(0.0))
        step = {
            "__qx0": F.when(b >= 0, (F.col("__qx0") - shift_x) * 2.0)
            .otherwise(F.col("__qx0")),
            "__qy0": F.when(b >= 0, (F.col("__qy0") - shift_y) * 2.0)
            .otherwise(F.col("__qy0")),
            "__qx1": F.when(b >= 0, (F.col("__qx1") - shift_x) * 2.0)
            .otherwise(F.col("__qx1")),
            "__qy1": F.when(b >= 0, (F.col("__qy1") - shift_y) * 2.0)
            .otherwise(F.col("__qy1")),
            "__qdone": F.col("__qdone") | (b < 0),
        }
        if division in division_set:
            step["qt_address"] = F.when(
                b >= 0, F.col("qt_address") * 4 + b.cast("bigint")
            ).otherwise(F.col("qt_address"))
        out = out.withColumns(step)
    return out.withColumn(
        "qt_partition", F.pmod(F.col("qt_address"), F.lit(partitions)).cast("int")
    ).drop("__qx0", "__qy0", "__qx1", "__qy1", "__qb", "__qdone")
