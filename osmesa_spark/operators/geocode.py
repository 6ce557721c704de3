"""Geocode: attach `countries: array<string>` (codes) to point/centroid
features via a broadcast country index.

Reference: vectorpipe `Geocode(df)` (call sites
`src/apps/.../ChangesetStatsCreator.scala:98-114`,
`StreamingChangesetStatsUpdater.scala:113`); the in-repo model is
`src/analytics/.../Countries.scala:43-67` — an STRtree over prepared country
polygons, looked up per feature.

Spark-first design: the country set is tiny (311 rows in the reference's
seed data, `deployment/sql/01-countries.sql`) so it is a **broadcast**
structure, never a shuffle. Three paths:

  * polygon path (default for real borders, no deps): countries as literal
    (code, xs[], ys[]) vertex arrays; TRUE point-in-polygon via an
    even-odd ray-cast (PNPOLY crossing count) written entirely in Column
    HOFs — `F.filter` over the broadcast country array, `F.size(F.filter(
    edge_indices, crossing_test))` per ring — so concave borders resolve
    correctly inside whole-stage codegen with zero Python. An envelope
    pre-check short-circuits rings whose bbox misses the point, the same
    pruning an STRtree gives the reference per lookup.
  * bbox path (envelope-only): containment against (code, xmin..ymax)
    rectangles — exact for rectangular fixtures, a pre-filter otherwise.
  * shapely path (gated): vectorized pandas UDF with an STRtree prepared
    per-executor — activates only when shapely is importable (it is not in
    this container; the pure-Column paths are the tested defaults).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

try:  # optional exact-polygon path
    import shapely  # noqa: F401

    HAVE_SHAPELY = True
except Exception:  # pragma: no cover
    HAVE_SHAPELY = False

BBoxCountries = dict[str, tuple[float, float, float, float]]


def representative_point(geom_col: str) -> tuple[Column, Column]:
    """(lon, lat) of a geometry's representative point: the vertex
    centroid (a point's one vertex) — what every geocode path looks up."""
    n = F.greatest(F.size(geom_col), F.lit(1)).cast("double")

    def mean(field: str) -> Column:
        return (
            F.aggregate(
                F.transform(geom_col, lambda v: v.getField(field)),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / n
        )

    return mean("lon"), mean("lat")


def _country_array(countries: BBoxCountries) -> Column:
    return F.array(
        *[
            F.struct(
                F.lit(code).alias("code"),
                F.lit(float(x0)).alias("xmin"),
                F.lit(float(y0)).alias("ymin"),
                F.lit(float(x1)).alias("xmax"),
                F.lit(float(y1)).alias("ymax"),
            )
            for code, (x0, y0, x1, y1) in sorted(countries.items())
        ]
    )


def lookup_codes(lon: Column, lat: Column, countries: BBoxCountries) -> Column:
    """array<string> of country codes whose bbox contains (lon, lat)."""
    arr = _country_array(countries)
    hits = F.filter(
        arr,
        lambda c: (lon >= c.getField("xmin"))
        & (lon <= c.getField("xmax"))
        & (lat >= c.getField("ymin"))
        & (lat <= c.getField("ymax")),
    )
    return F.transform(hits, lambda c: c.getField("code"))


# polygon countries: code -> ring vertices [(lon, lat), ...] (unclosed; the
# ray-cast wraps the last edge back to vertex 0). The grid path memoizes
# its index per content sentinel (each code, its ring's length and first,
# middle and last vertex): adding, removing or replacing a country or ring
# is seen; editing a ring's vertices in place is not — replace the ring.
PolygonCountries = dict[str, list[tuple[float, float]]]


def _polygon_array(countries: PolygonCountries) -> Column:
    """Literal array of (code, xs, ys, xmin, ymin, xmax, ymax) structs —
    the broadcast country index with a precomputed envelope per ring."""
    rows = []
    for code, ring in sorted(countries.items()):
        xs = [float(x) for x, _ in ring]
        ys = [float(y) for _, y in ring]
        rows.append(
            F.struct(
                F.lit(code).alias("code"),
                F.array(*[F.lit(x) for x in xs]).alias("xs"),
                F.array(*[F.lit(y) for y in ys]).alias("ys"),
                F.lit(min(xs)).alias("xmin"),
                F.lit(min(ys)).alias("ymin"),
                F.lit(max(xs)).alias("xmax"),
                F.lit(max(ys)).alias("ymax"),
            )
        )
    return F.array(*rows)


def point_in_ring(lon: Column, lat: Column, c: Column) -> Column:
    """Even-odd ray-cast (PNPOLY, W. Randolph Franklin's formulation): a
    rightward ray from the point crosses edge (i, i+1) iff the edge spans
    the point's latitude half-open ((yi > lat) != (yj > lat)) and the
    edge's x at that latitude lies strictly right of the point. Odd
    crossing count = inside. Correct for concave rings; boundary points
    follow the half-open rule (left/bottom in, right/top out)."""
    xs, ys = c.getField("xs"), c.getField("ys")
    n = F.size(xs)
    idx = F.sequence(F.lit(1), n)  # 1-based edge start; wraps n -> 1

    def crossing(i: Column) -> Column:
        j = F.when(i == n, F.lit(1)).otherwise(i + 1)
        xi, yi = F.element_at(xs, i), F.element_at(ys, i)
        xj, yj = F.element_at(xs, j), F.element_at(ys, j)
        return ((yi > lat) != (yj > lat)) & (
            lon < (xj - xi) * (lat - yi) / (yj - yi) + xi
        )

    return F.size(F.filter(idx, crossing)) % 2 == 1


def lookup_codes_polygon(
    lon: Column, lat: Column, countries: PolygonCountries
) -> Column:
    """array<string> of country codes whose POLYGON contains (lon, lat) —
    envelope pre-check first (cheap rejection, the STRtree analogue), then
    the ray-cast only on envelope hits. Pure Column expressions; the
    broadcast country array is a plan literal."""
    arr = _polygon_array(countries)
    hits = F.filter(
        arr,
        lambda c: (lon >= c.getField("xmin"))
        & (lon <= c.getField("xmax"))
        & (lat >= c.getField("ymin"))
        & (lat <= c.getField("ymax"))
        & point_in_ring(lon, lat, c),
    )
    return F.transform(hits, lambda c: c.getField("code"))


# ---------------------------------------------------------------------------
# coarse-grid cell index — the STRtree moral equivalent, at scale
# ---------------------------------------------------------------------------
#
# The literal-array paths above carry every vertex in the PLAN; at the
# reference's real complexity (311 multipolygons, thousands of vertices —
# Countries.scala:17-33 resource load, :43-67 STRtree) that explodes the
# expression tree and re-tests every country per point. The grid index
# precomputes, once on the driver:
#
#   cell -> (sure:  codes whose ring wholly contains the cell — no
#                   ray-cast needed at lookup,
#            cand:  packed (code, xs, ys, envelope) polygons whose ring
#                   BOUNDARY may cross the cell — ray-cast only these)
#
# shipped as two small broadcast DataFrames (vertices are DATA, not plan
# literals; cells → candidate-set id, set id → packed rings, so each ring
# ships once per distinct country combination rather than once per boundary
# cell) and equi-joined on the point's cell id then the set id: two
# broadcast hash joins, no row fan-out (candidates ride in one array
# column), no re-aggregation shuffle, and interior points resolve with zero
# vertex work. Lookup cost is O(vertices of boundary-crossing candidates)
# instead of O(all countries); the parquet-backed index is memoized by
# content fingerprint (build once per country-set version).


def _pnpoly_np(px: float, py: float, xs, ys) -> bool:
    """Driver-side PNPOLY — the same half-open crossing rule as
    `point_in_ring`, for classifying grid-cell centers."""
    import numpy as np

    xi, yi = np.asarray(xs), np.asarray(ys)
    xj, yj = np.roll(xi, -1), np.roll(yi, -1)
    spans = (yi > py) != (yj > py)
    with np.errstate(divide="ignore", invalid="ignore"):
        cx = (xj - xi) * (py - yi) / (yj - yi) + xi
    return bool(np.count_nonzero(spans & (px < cx)) % 2)


def build_grid_index(
    countries: PolygonCountries, nx: int = 72, ny: int = 36
) -> dict:
    """cell id -> {'sure': [codes], 'cand': [country keys]} over an
    nx × ny lon/lat grid. A cell is 'cand' for a country when some ring
    edge's bbox overlaps it (conservative superset of boundary-crossing
    cells); envelope cells untouched by any edge are uniformly inside or
    outside, so the cell center decides 'sure' membership."""
    import numpy as np

    dx, dy = 360.0 / nx, 180.0 / ny
    cells: dict[int, dict] = {}

    def cix(x: float) -> int:
        return min(max(int((x + 180.0) // dx), 0), nx - 1)

    def ciy(y: float) -> int:
        return min(max(int((y + 90.0) // dy), 0), ny - 1)

    for code in sorted(countries):
        ring = countries[code]
        xs = np.array([x for x, _ in ring], dtype=float)
        ys = np.array([y for _, y in ring], dtype=float)
        xj, yj = np.roll(xs, -1), np.roll(ys, -1)
        touched: set[tuple[int, int]] = set()
        for x0, y0, x1, y1 in zip(
            np.minimum(xs, xj), np.minimum(ys, yj),
            np.maximum(xs, xj), np.maximum(ys, yj),
        ):
            for ix in range(cix(x0), cix(x1) + 1):
                for iy in range(ciy(y0), ciy(y1) + 1):
                    touched.add((ix, iy))
        for ix in range(cix(xs.min()), cix(xs.max()) + 1):
            for iy in range(ciy(ys.min()), ciy(ys.max()) + 1):
                cell = ix * ny + iy
                if (ix, iy) in touched:
                    entry = cells.setdefault(cell, {"sure": [], "cand": []})
                    entry["cand"].append(code)
                else:
                    cx_ = -180.0 + (ix + 0.5) * dx
                    cy_ = -90.0 + (iy + 0.5) * dy
                    if _pnpoly_np(cx_, cy_, xs, ys):
                        entry = cells.setdefault(
                            cell, {"sure": [], "cand": []}
                        )
                        entry["sure"].append(code)
    return {"nx": nx, "ny": ny, "cells": cells}


def _index_fingerprint(
    countries: PolygonCountries, nx: int, ny: int
) -> str:
    import hashlib

    h = hashlib.sha256()
    h.update(f"{nx}x{ny}|v2".encode())
    for code in sorted(countries):
        h.update(code.encode())
        h.update(repr(countries[code]).encode())
    return h.hexdigest()[:20]


def _grid_index(
    spark, countries: PolygonCountries, nx: int, ny: int
) -> tuple[dict, str]:
    """(index, fingerprint), memoized per content sentinel (see
    PolygonCountries). Both are pure Python over every country vertex
    (~0.8 s for the 311-country set), and geocode_grid runs per bench rep
    and per micro-batch. Stored together, so the on-disk parquet index is
    never looked up under another country set's fingerprint."""
    from osmesa_spark.util import ctx_memo

    sentinel = tuple(
        (code, len(r), tuple(tuple(r[i]) for i in (0, len(r) // 2, -1)))
        for code, r in sorted(countries.items())
    )
    return ctx_memo(
        spark.sparkContext, ("grid_index", nx, ny, sentinel),
        lambda: (
            build_grid_index(countries, nx, ny),
            _index_fingerprint(countries, nx, ny),
        ),
    )


def grid_index_frames(
    spark, countries: PolygonCountries, index: dict, fingerprint: str | None = None
):
    """The broadcast side of the grid geocode, two-level and
    parquet-backed:

      cells: (cell, sure: array<string>, set_id)  — tiny
      cands: (set_id, cand: array<struct<code, xs, ys, envelope>>)

    Cells sharing the same candidate-country combination share one
    `set_id`, so each ring ships ONCE per distinct combination instead of
    once per boundary cell (~6× less broadcast payload at real-world
    fan-out). The frames are written as parquet under a content
    fingerprint and read back, which (a) skips the py4j row pickling a
    createDataFrame of ~1M vertices costs (measured 5.6 s for the
    311-country index) and (b) memoizes across invocations and sessions —
    the build-once driver cost a real deployment would pay once per
    country-set version."""
    import os
    import tempfile

    import pyarrow as pa
    import pyarrow.parquet as _pq

    fp = fingerprint or _index_fingerprint(countries, index["nx"], index["ny"])
    # cache root under the user's HOME (falling back to a 0700 temp dir):
    # a predictable world-writable /tmp path could be pre-created by
    # another local user — either planting a crafted index at the
    # fingerprint path or making the directory unwritable. A home-rooted
    # cache (mode 0700 on first create) is owned by us by construction.
    home = os.path.expanduser("~")
    if home and home != "~" and os.access(home, os.W_OK):
        base = os.path.join(home, ".cache", "osmesa_spark", "grid_index")
    else:  # pragma: no cover - no usable home (some service accounts)
        base = os.path.join(
            tempfile.gettempdir(),
            f"osmesa_grid_index_{os.getuid() if hasattr(os, 'getuid') else 'u'}",
        )
    os.makedirs(base, mode=0o700, exist_ok=True)
    d = os.path.join(base, fp)
    if not os.path.exists(os.path.join(d, "cands.parquet")):
        set_ids: dict[tuple, int] = {}
        cell_rows = []
        for cell, entry in sorted(index["cells"].items()):
            key = tuple(sorted(entry["cand"]))
            sid = set_ids.setdefault(key, len(set_ids))
            cell_rows.append((cell, sorted(entry["sure"]), sid))
        cand_type = pa.list_(
            pa.struct(
                [
                    ("code", pa.string()),
                    ("xs", pa.list_(pa.float64())),
                    ("ys", pa.list_(pa.float64())),
                    ("xmin", pa.float64()),
                    ("ymin", pa.float64()),
                    ("xmax", pa.float64()),
                    ("ymax", pa.float64()),
                ]
            )
        )

        def packed(codes: tuple) -> list[dict]:
            out = []
            for code in codes:
                ring = countries[code]
                xs = [float(x) for x, _ in ring]
                ys = [float(y) for _, y in ring]
                out.append(
                    {
                        "code": code, "xs": xs, "ys": ys,
                        "xmin": min(xs), "ymin": min(ys),
                        "xmax": max(xs), "ymax": max(ys),
                    }
                )
            return out

        tmp = d + ".tmp" + str(os.getpid())
        os.makedirs(tmp, exist_ok=True)
        _pq.write_table(
            pa.table(
                {
                    "cell": pa.array(
                        [c for c, _, _ in cell_rows], pa.int64()
                    ),
                    "sure": pa.array(
                        [s for _, s, _ in cell_rows],
                        pa.list_(pa.string()),
                    ),
                    "set_id": pa.array(
                        [i for _, _, i in cell_rows], pa.int64()
                    ),
                }
            ),
            os.path.join(tmp, "cells.parquet"),
        )
        _pq.write_table(
            pa.table(
                {
                    "set_id": pa.array(
                        sorted(set_ids.values()), pa.int64()
                    ),
                    "cand": pa.array(
                        [
                            packed(k)
                            for k, _ in sorted(
                                set_ids.items(), key=lambda kv: kv[1]
                            )
                        ],
                        cand_type,
                    ),
                }
            ),
            os.path.join(tmp, "cands.parquet"),
        )
        try:
            os.replace(tmp, d)
        except OSError:  # concurrent builder won the race — use theirs
            import shutil

            shutil.rmtree(tmp, ignore_errors=True)
    # explicit schemas: the fixed index layout is known, and schema
    # inference costs one footer-reading Spark job per read — two jobs on
    # EVERY geocode_grid construction (bench reps, oracle runs) for
    # metadata that never changes
    cand_sql = (
        "array<struct<code:string,xs:array<double>,ys:array<double>,"
        "xmin:double,ymin:double,xmax:double,ymax:double>>"
    )
    return (
        spark.read.schema(
            "cell bigint, sure array<string>, set_id bigint"
        ).parquet(os.path.join(d, "cells.parquet")),
        spark.read.schema(f"set_id bigint, cand {cand_sql}").parquet(
            os.path.join(d, "cands.parquet")
        ),
    )


def lookup_cell(lon: Column, lat: Column, nx: int, ny: int) -> Column:
    dx, dy = 360.0 / nx, 180.0 / ny
    ix = F.least(
        F.greatest(F.floor((lon + 180.0) / dx), F.lit(0)), F.lit(nx - 1)
    )
    iy = F.least(
        F.greatest(F.floor((lat + 90.0) / dy), F.lit(0)), F.lit(ny - 1)
    )
    return (ix * ny + iy).cast("bigint")


def geocode_grid(
    features: DataFrame,
    countries: PolygonCountries,
    geom_col: str = "geom",
    out_col: str = "countries",
    nx: int = 72,
    ny: int = 36,
) -> DataFrame:
    """Scale path of `geocode_polygons` — identical results, different
    plan: broadcast cell-index join + ray-cast over the cell's candidate
    array only. Zero shuffles beyond the broadcast; interior cells skip
    vertex work entirely."""
    from osmesa_spark.util import ensure_parallelism

    spark = features.sparkSession
    # the ray-cast over boundary-cell candidates is the CPU-heavy stage,
    # and broadcast joins preserve the probe side's splits — a one-file
    # input would run it as a single task (measured 6.8 s -> 0.9 s on the
    # 311-country / 100k-point bench when spread over local[32]); the
    # guard no-ops on streaming inputs. `features` is usually the stats
    # chain's way reconstruction (shuffles), which the guard sizes from
    # its file-scan bytes without running it, so the caller's action is
    # the only pass over that lineage
    features = ensure_parallelism(features)
    index, fp = _grid_index(spark, countries, nx, ny)
    cells_df, cands_df = grid_index_frames(spark, countries, index, fp)

    cx, cy = representative_point(geom_col)
    empty_s = F.array().cast("array<string>")
    lon, lat = F.col("__gx"), F.col("__gy")
    hits = F.filter(
        F.col("__cand"),
        lambda c: (lon >= c.getField("xmin"))
        & (lon <= c.getField("xmax"))
        & (lat >= c.getField("ymin"))
        & (lat <= c.getField("ymax"))
        & point_in_ring(lon, lat, c),
    )
    return (
        features.withColumn("__gx", cx)
        .withColumn("__gy", cy)
        .withColumn("__cell", lookup_cell(F.col("__gx"), F.col("__gy"), nx, ny))
        .join(
            F.broadcast(
                cells_df.select(
                    F.col("cell").alias("__cell"),
                    F.col("sure").alias("__sure"),
                    F.col("set_id").alias("__set"),
                )
            ),
            "__cell",
            "left",
        )
        .join(
            F.broadcast(
                cands_df.select(
                    F.col("set_id").alias("__set"),
                    F.col("cand").alias("__cand"),
                )
            ),
            "__set",
            "left",
        )
        .withColumn(
            out_col,
            F.array_sort(
                F.concat(
                    F.coalesce(F.col("__sure"), empty_s),
                    F.coalesce(
                        F.transform(hits, lambda c: c.getField("code")),
                        empty_s,
                    ),
                )
            ),
        )
        .drop("__gx", "__gy", "__cell", "__set", "__sure", "__cand")
    )


# Literal-vs-grid dispatch threshold: below it the whole country set inlines
# into whole-stage codegen (fastest at fixture scale — measured 0.65s vs
# 1.5s for the grid join on the 4-country fixture at sf0.1); above it the
# literal plan blows up and the broadcast grid index wins. 2048 vertices ≈
# 4k double literals, comfortably inside janino limits.
GRID_THRESHOLD_VERTICES = 2048
GRID_THRESHOLD_COUNTRIES = 32


def geocode_polygons_auto(
    features: DataFrame,
    countries: PolygonCountries,
    geom_col: str = "geom",
    out_col: str = "countries",
) -> DataFrame:
    """Adaptive polygon geocode: inlined literal ray-cast for small country
    sets, broadcast coarse-grid index (`geocode_grid`) at real-world
    complexity. Results are identical (equivalence-tested); only the plan
    differs — the same small-dim-vs-big-dim call Spark itself makes with
    the broadcast threshold."""
    big = len(countries) > GRID_THRESHOLD_COUNTRIES or (
        sum(len(r) for r in countries.values()) > GRID_THRESHOLD_VERTICES
    )
    if big:
        return geocode_grid(features, countries, geom_col, out_col)
    return geocode_polygons(features, countries, geom_col, out_col)


def geocode(
    features: DataFrame,
    countries: BBoxCountries,
    geom_col: str = "geom",
    out_col: str = "countries",
) -> DataFrame:
    """Attach country codes using the feature's first vertex (points) /
    vertex centroid (lines, rings) — the reference geocodes representative
    points too (Countries.scala lookup by coordinate)."""
    return features.withColumn(
        out_col, lookup_codes(*representative_point(geom_col), countries)
    )


def geocode_polygons(
    features: DataFrame,
    countries: PolygonCountries,
    geom_col: str = "geom",
    out_col: str = "countries",
) -> DataFrame:
    """Polygon-exact twin of `geocode`: representative point (first vertex /
    vertex centroid) against true country rings via the Column ray-cast."""
    return features.withColumn(
        out_col,
        lookup_codes_polygon(*representative_point(geom_col), countries),
    )


def is_polygon_countries(countries: dict) -> bool:
    """Polygon form: values are vertex lists [(lon, lat), ...]; bbox form:
    4-float tuples."""
    v = next(iter(countries.values()), None)
    return bool(v) and isinstance(v[0], (list, tuple))


def geocode_countries(
    features: DataFrame, countries: dict | None
) -> DataFrame:
    """`countries` for the stats pipelines, batch and streaming: bbox
    rectangles (code → (x0, y0, x1, y1)) go through `geocode`; TRUE
    polygon rings (code → [(lon, lat), ...], concave-safe ray-cast —
    Countries.scala parity) through `geocode_polygons_auto`, which picks
    the literal or the grid plan by complexity (identical results; the
    grid's stream-static broadcast join is supported on streams too);
    None attaches an empty array."""
    if countries is None:
        return features.withColumn(
            "countries", F.array().cast("array<string>")
        )
    if is_polygon_countries(countries):
        return geocode_polygons_auto(features, countries)
    return geocode(features, countries)


# ---------------------------------------------------------------------------
# countries.geojson resource loading (S14) — Countries.scala:17-33 parity
# ---------------------------------------------------------------------------

def keyhole_ring(
    rings: list[list[tuple[float, float]]]
) -> list[tuple[float, float]]:
    """Merge multiple rings (exterior(s) + holes) into ONE ring that is
    even-odd EQUIVALENT to the ring set, so every existing single-ring
    code path (Column ray-cast, numpy PNPOLY, grid classifier) handles
    multipolygons and holes unchanged — the classic keyhole construction:

      each ring is closed explicitly; rings after the first are bridged
      from the first ring's start vertex with out-and-back edges. A
      rightward ray crosses a bridge segment the same way in both
      directions, so each bridge contributes 0 mod 2 to the crossing
      parity; the final wrap edge is degenerate (a0 → a0, zero-span).

    Hence parity(keyhole) == XOR over rings of parity(ring): points inside
    an exterior are in (1 crossing set), points also inside a hole are out
    (2 sets), disjoint multipolygon parts each count once. Boundary
    behavior on the bridge lines themselves is measure-zero, the same
    class as the ray-cast's half-open edge rule."""
    norm = []
    for r in rings:
        r = [(float(x), float(y)) for x, y in r]
        if len(r) >= 2 and r[0] == r[-1]:
            r = r[:-1]
        if len(r) >= 3:
            norm.append(r)
    if not norm:
        raise ValueError("keyhole_ring: no ring with >= 3 vertices")
    if len(norm) == 1:
        return norm[0]
    a0 = norm[0][0]
    out = list(norm[0]) + [norm[0][0]]
    for r in norm[1:]:
        out += list(r) + [r[0], a0]
    return out


def load_countries_geojson(path: str) -> PolygonCountries:
    """Parse a countries GeoJSON FeatureCollection (the reference loads
    `countries.geojson` from resources, Countries.scala:17-33) into the
    {code: ring} form every geocode path consumes. Codes come from the
    ADM0_A3 / ISO_A3 / id property chain the reference uses. Polygon
    holes and MultiPolygon parts are folded through `keyhole_ring`, so
    real-world borders (archipelagos, enclaves) geocode correctly on both
    the literal and the grid path with no special cases."""
    import json as _json

    def _pick_code(props: dict, feat: dict) -> str | None:
        # Natural Earth marks disputed/unassigned codes as "-99"; treat
        # those (and blanks) as missing so the chain falls through instead
        # of collapsing several features onto one sentinel key.
        for cand in (
            props.get("ADM0_A3"),
            props.get("ISO_A3"),
            props.get("code"),
            feat.get("id"),
        ):
            if cand is None:
                continue
            cand = str(cand).strip()
            if cand and cand != "-99":
                return cand
        return None

    with open(path) as f:
        fc = _json.load(f)
    raw: dict[str, list] = {}
    for feat in fc.get("features", []):
        props = feat.get("properties") or {}
        code = _pick_code(props, feat)
        geom = feat.get("geometry") or {}
        gtype, coords = geom.get("type"), geom.get("coordinates")
        if not code or not coords:
            continue
        if gtype == "Polygon":
            rings = coords
        elif gtype == "MultiPolygon":
            rings = [ring for poly in coords for ring in poly]
        else:
            continue
        # duplicate codes (several features sharing one admin code) merge:
        # keyhole parity is XOR over rings, so concatenating both features'
        # ring lists before the fold yields the union of disjoint parts
        raw.setdefault(str(code), []).extend(
            [[(p[0], p[1]) for p in ring] for ring in rings]
        )
    out: PolygonCountries = {
        code: keyhole_ring(rings) for code, rings in raw.items()
    }
    if not out:
        raise ValueError(f"no polygon features in {path}")
    return out
