"""OSM-domain registry queries — the reference-parity pipelines run against
deterministic FIXTURES.md-shaped synthetic data (osmesa_spark.datagen,
seed 42) materialized under the repo at import time, so both the Spark side
and the DuckDB oracle read the exact same parquet.

These give the driver's correctness gate direct coverage of:
  * preprocess validity windows (W1/W2 family)         → osm_node_validity
  * snapshot-as-of validity filter                     → osm_snapshot_asof
  * way reconstruction w/ temporal join (J5+J6+A6)     → osm_way_reconstruction
  * TRUE UTM planar areas (Snyder series, §2.8 geo)    → osm_utm_area
  * the full changeset-stats pipeline (P5/P6+A1+J3/J4) → osm_changeset_stats
  * geocode point-in-polygon ray-cast, concave (J10)   → osm_geocode
  * geocode GRID-index dispatch (the at-scale path)     → osm_geocode_grid
  * hashtag extraction + merge_sets (§2.8 string)      → osm_hashtags
  * vector-grid tile pyramid (G1-G5)                   → osm_tile_pyramid
  * per-user faceted footprint pyramid (Footprint)     → osm_user_footprint
  * the 4 rollup materialized views (A15/W3)           → osm_*_statistics
  * multipolygon member resolution + ring assembly     → osm_relation_*
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmesa_spark import datagen
from osmesa_spark.functions.text import changeset_hashtags
from osmesa_spark.operators import geometry as G
from osmesa_spark.operators import preprocess as P
from osmesa_spark.operators.stats import changeset_stats
from osmesa_spark.util import ctx_memo, path_stamp

_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
FIXTURE_DIR = os.path.join(_REPO_ROOT, ".fixtures", "osm_v3")
_HISTORY = os.path.join(FIXTURE_DIR, "history.parquet")
_CHANGESETS = os.path.join(FIXTURE_DIR, "changesets.parquet")
_N_ELEMENTS = 2000


def ensure_fixtures() -> None:
    if not (os.path.exists(_HISTORY) and os.path.exists(_CHANGESETS)):
        datagen.write_fixtures(FIXTURE_DIR, n_elements=_N_ELEMENTS, seed=42)


ensure_fixtures()


def _history(spark: SparkSession) -> DataFrame:
    ensure_fixtures()
    # schema-memoized read: skips the per-call footer-inference job every
    # osm_* query construction was paying (see queries._read_parquet)
    from osmesa_spark.queries import _read_parquet

    return _read_parquet(spark, _HISTORY)


def _changesets(spark: SparkSession) -> DataFrame:
    ensure_fixtures()
    from osmesa_spark.queries import _read_parquet

    return _read_parquet(spark, _CHANGESETS)


# ---------------------------------------------------------------------------
# SQL fragments shared by the oracles (DuckDB; map access is (tags['k'])[1])
# ---------------------------------------------------------------------------

_NV_CTE = f"""
    nv AS (
        SELECT id, version, lat, lon, visible, timestamp,
               LEAD(timestamp) OVER (PARTITION BY id ORDER BY version) AS valid_until
        FROM read_parquet('{_HISTORY}') WHERE type = 'node')
"""

# reconstructable way versions: resolved vertex count + first/last vertex
_WAYVERT_CTE = f"""
    wx AS (
        SELECT w.id AS way_id, w.version AS way_version, w.timestamp AS wts,
               w.tags AS wtags, w.changeset AS wcs, w.visible AS wvisible,
               u.ref, u.pos
        FROM read_parquet('{_HISTORY}') w,
             LATERAL (SELECT unnest(w.nds) AS ref,
                             generate_subscripts(w.nds, 1) AS pos) u
        WHERE w.type = 'way'),
    wv AS (
        SELECT way_id, way_version,
               ANY_VALUE(wtags) AS wtags, ANY_VALUE(wcs) AS wcs,
               ANY_VALUE(wvisible) AS wvisible,
               COUNT(*) AS nverts,
               SUM(nv.lon) AS clon, SUM(nv.lat) AS clat,
               ARG_MIN(nv.lon, pos) AS flon, ARG_MIN(nv.lat, pos) AS flat,
               ARG_MAX(nv.lon, pos) AS llon, ARG_MAX(nv.lat, pos) AS llat
        FROM wx JOIN nv ON wx.ref = nv.id
             AND nv.timestamp <= wx.wts
             AND wx.wts < COALESCE(nv.valid_until, TIMESTAMP '9999-01-01')
        WHERE nv.lon IS NOT NULL AND nv.lat IS NOT NULL AND nv.visible
        GROUP BY way_id, way_version
        HAVING COUNT(*) >= 2)
"""

_IS_AREA_SQL = """
    (lower(COALESCE((wtags['area'])[1], '')) = 'yes'
     OR (((wtags['building'])[1] IS NOT NULL AND lower((wtags['building'])[1]) <> 'no')
         OR (wtags['landuse'])[1] IS NOT NULL
         OR (wtags['natural'])[1] IS NOT NULL
         OR (wtags['leisure'])[1] IS NOT NULL)
        AND lower(COALESCE((wtags['area'])[1], '')) <> 'no')
"""


def osm_node_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    nodes = P.preprocess_nodes(_history(spark))
    return nodes.select(
        "id",
        F.col("version").cast("int").alias("version"),
        F.floor(F.unix_timestamp("validUntil")).cast("bigint").alias("valid_until_s"),
    )


OSM_NODE_VALIDITY_SQL = f"""
    WITH {_NV_CTE}
    SELECT id, version::INT AS version,
           FLOOR(epoch(valid_until))::BIGINT AS valid_until_s
    FROM nv
"""


def osm_way_reconstruction(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _history(spark)
    recon = G.reconstruct_way_geometries(P.preprocess_ways(h), P.preprocess_nodes(h))
    return recon.select(
        "id",
        F.col("version").cast("int").alias("version"),
        F.size("geom").alias("nverts"),
        F.col("geomType").alias("geom_type"),
    )


OSM_WAY_RECONSTRUCTION_SQL = f"""
    WITH {_NV_CTE}, {_WAYVERT_CTE}
    SELECT way_id AS id, way_version::INT AS version, nverts::INT AS nverts,
           CASE WHEN nverts >= 4 AND flon = llon AND flat = llat
                     AND {_IS_AREA_SQL}
                THEN 'Polygon' ELSE 'LineString' END AS geom_type
    FROM wv
"""


def osm_geometry_validity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometry QA report over reconstructed way versions — the
    data-quality audit run before trusting area/length rollups: degenerate
    geometries (< 2 resolved vertices), closed rings (Polygon under the
    area rule), closed-but-linear rings (roundabout shape: closed, not
    area-tagged), open lines. One projection over the reconstruction
    output, one 4-row class aggregation with vertex-count averages."""
    h = _history(spark)
    recon = G.reconstruct_way_geometries(
        P.preprocess_ways(h), P.preprocess_nodes(h)
    )
    n = F.size("geom")
    closed = (n >= 2) & (
        F.element_at("geom", 1) == F.element_at("geom", -1)
    )
    cls = (
        F.when(n < 2, "a_degenerate")
        .when(F.col("geomType") == "Polygon", "b_closed_ring")
        .when(closed & (n >= 4), "c_closed_line")
        .otherwise("d_open_line")
    )
    return (
        recon.select(cls.alias("validity_class"), n.alias("nverts"))
        .groupBy("validity_class")
        .agg(
            F.count(F.lit(1)).alias("n_way_versions"),
            F.round(F.avg("nverts"), 2).alias("avg_nverts"),
        )
        .orderBy("validity_class")
    )


OSM_GEOMETRY_VALIDITY_SQL = f"""
    WITH {_NV_CTE}, {_WAYVERT_CTE}
    SELECT validity_class,
           COUNT(*)::BIGINT AS n_way_versions,
           ROUND(AVG(nverts), 2) AS avg_nverts
    FROM (
        SELECT nverts,
               CASE WHEN nverts < 2 THEN 'a_degenerate'
                    WHEN nverts >= 4 AND flon = llon AND flat = llat
                         AND {_IS_AREA_SQL}
                    THEN 'b_closed_ring'
                    WHEN nverts >= 4 AND flon = llon AND flat = llat
                    THEN 'c_closed_line'
                    ELSE 'd_open_line' END AS validity_class
        FROM wv) t
    GROUP BY validity_class ORDER BY validity_class
"""


_COVER_ZOOM = 4  # fixture ways span ~60° — zoom 4 gives real multi-tile fans


def osm_way_tile_cover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-element MVT updater's PRE-ENCODE DataFrame (G11 fan-out,
    updater/package.scala:182-208 `tile()`): every reconstructed way
    version fanned to each (tx, ty) its geometry's bbox covers at zoom 4,
    through the SAME `diffs_with_tiles` operator `update_tiles` groups on
    — covering keys and vertex counts are the grouped-shuffle payload the
    executor-side clip consumes. Pure Column Web-Mercator pixel math +
    two explode(sequence(lo, hi)) fans; the oracle replays bbox→pixel→
    tile-range via min/max-vertex monotonicity + generate_series."""
    from osmesa_spark.sinks import updater as U

    h = _history(spark)
    recon = G.reconstruct_way_geometries(
        P.preprocess_ways(h), P.preprocess_nodes(h)
    )
    keyed = U.diffs_with_tiles(
        recon.select(F.lit(0).alias("sequence"), "*"), zoom=_COVER_ZOOM
    )
    return keyed.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("version").cast("int").alias("version"),
        F.col("zoom").cast("int").alias("zoom"),
        F.col("tx").cast("bigint").alias("tx"),
        F.col("ty").cast("bigint").alias("ty"),
        F.size("px").cast("int").alias("nverts"),
    )


def _way_tile_cover_sql() -> str:
    n = 1 << _COVER_ZOOM
    scale = float(n * 4096)
    hi = n * 4096 - 1
    max_lat = 85.05112877980659
    ux = "((({0}) + 180.0) / 360.0)"
    clat = f"RADIANS(LEAST(GREATEST(({{0}}), -{max_lat}), {max_lat}))"
    uy = (
        f"((1.0 - LN(TAN({clat}) + 1.0/COS({clat})) / PI()) / 2.0)"
    )

    def px(expr: str) -> str:
        return (
            f"LEAST(GREATEST(FLOOR({ux.format(expr)} * {scale}), 0), {hi})"
            f"::BIGINT"
        )

    def py(expr: str) -> str:
        return (
            f"LEAST(GREATEST(FLOOR({uy.format(expr)} * {scale}), 0), {hi})"
            f"::BIGINT"
        )

    # lon→pixel-x is increasing, lat→pixel-y is DEcreasing: the pixel bbox
    # of the vertex set is the pixel transform of the lon/lat bbox with the
    # y bounds swapped (floor/clamp are monotone)
    return f"""
    WITH {_NV_CTE},
    wx AS (
        SELECT w.id AS way_id, w.version AS way_version, w.timestamp AS wts,
               u.ref
        FROM read_parquet('{_HISTORY}') w,
             LATERAL (SELECT unnest(w.nds) AS ref) u
        WHERE w.type = 'way'),
    wb AS (
        SELECT way_id, way_version, COUNT(*) AS nverts,
               MIN(nv.lon) AS lonmin, MAX(nv.lon) AS lonmax,
               MIN(nv.lat) AS latmin, MAX(nv.lat) AS latmax
        FROM wx JOIN nv ON wx.ref = nv.id
             AND nv.timestamp <= wx.wts
             AND wx.wts < COALESCE(nv.valid_until, TIMESTAMP '9999-01-01')
        WHERE nv.lon IS NOT NULL AND nv.lat IS NOT NULL AND nv.visible
        GROUP BY way_id, way_version
        HAVING COUNT(*) >= 2),
    tr AS (
        SELECT way_id, way_version, nverts,
               {px('lonmin')} // 4096 AS txmin,
               {px('lonmax')} // 4096 AS txmax,
               {py('latmax')} // 4096 AS tymin,
               {py('latmin')} // 4096 AS tymax
        FROM wb),
    fx AS (
        SELECT way_id, way_version, nverts, tymin, tymax,
               unnest(generate_series(txmin, txmax)) AS tx
        FROM tr)
    SELECT way_id AS id, way_version::INT AS version,
           {_COVER_ZOOM}::INT AS zoom, tx::BIGINT AS tx,
           unnest(generate_series(tymin, tymax))::BIGINT AS ty,
           nverts::INT AS nverts
    FROM fx
    """


_PYR_ZOOMS = (2, 3, 4)


def osm_way_tile_cover_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MULTI-ZOOM updater fan-out (the TileUpdater CLI's min..max-zoom
    range, updater/TileUpdater.scala:36-50): one reconstructed-way frame
    fanned to its covering tiles at zooms 2..4 through the same per-zoom
    union `update_tiles` plans — all levels in ONE query, the shape that
    rides a single (zoom, tx, ty) shuffle at write time. The recon subtree
    feeds one consumer per zoom, so it is localCheckpointed once (the
    materialized-kernel discipline)."""
    from osmesa_spark.sinks import updater as U

    h = _history(spark)
    recon = G.reconstruct_way_geometries(
        P.preprocess_ways(h), P.preprocess_nodes(h)
    ).select(F.lit(0).alias("sequence"), "*").localCheckpoint(eager=False)
    keyed = U.diffs_with_tiles(recon, zoom=_PYR_ZOOMS[0])
    for z in _PYR_ZOOMS[1:]:
        keyed = keyed.unionByName(U.diffs_with_tiles(recon, zoom=z))
    return keyed.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("version").cast("int").alias("version"),
        F.col("zoom").cast("int").alias("zoom"),
        F.col("tx").cast("bigint").alias("tx"),
        F.col("ty").cast("bigint").alias("ty"),
        F.size("px").cast("int").alias("nverts"),
    )


def _way_tile_cover_pyramid_sql() -> str:
    max_lat = 85.05112877980659
    ux = "((({0}) + 180.0) / 360.0)"
    clat = f"RADIANS(LEAST(GREATEST(({{0}}), -{max_lat}), {max_lat}))"
    uy = f"((1.0 - LN(TAN({clat}) + 1.0/COS({clat})) / PI()) / 2.0)"

    def px(expr: str, scale: float, hi: int) -> str:
        return (
            f"LEAST(GREATEST(FLOOR({ux.format(expr)} * {scale}), 0), {hi})"
            f"::BIGINT"
        )

    def py(expr: str, scale: float, hi: int) -> str:
        return (
            f"LEAST(GREATEST(FLOOR({uy.format(expr)} * {scale}), 0), {hi})"
            f"::BIGINT"
        )

    level_ctes, level_selects = [], []
    for z in _PYR_ZOOMS:
        n = 1 << z
        scale = float(n * 4096)
        hi = n * 4096 - 1
        level_ctes.append(f"""
    tr{z} AS (
        SELECT way_id, way_version, nverts,
               {px('lonmin', scale, hi)} // 4096 AS txmin,
               {px('lonmax', scale, hi)} // 4096 AS txmax,
               {py('latmax', scale, hi)} // 4096 AS tymin,
               {py('latmin', scale, hi)} // 4096 AS tymax
        FROM wb),
    fx{z} AS (
        SELECT way_id, way_version, nverts, tymin, tymax,
               unnest(generate_series(txmin, txmax)) AS tx
        FROM tr{z})""")
        level_selects.append(f"""
    SELECT way_id AS id, way_version::INT AS version,
           {z}::INT AS zoom, tx::BIGINT AS tx,
           unnest(generate_series(tymin, tymax))::BIGINT AS ty,
           nverts::INT AS nverts
    FROM fx{z}""")
    return f"""
    WITH {_NV_CTE},
    wx AS (
        SELECT w.id AS way_id, w.version AS way_version, w.timestamp AS wts,
               u.ref
        FROM read_parquet('{_HISTORY}') w,
             LATERAL (SELECT unnest(w.nds) AS ref) u
        WHERE w.type = 'way'),
    wb AS (
        SELECT way_id, way_version, COUNT(*) AS nverts,
               MIN(nv.lon) AS lonmin, MAX(nv.lon) AS lonmax,
               MIN(nv.lat) AS latmin, MAX(nv.lat) AS latmax
        FROM wx JOIN nv ON wx.ref = nv.id
             AND nv.timestamp <= wx.wts
             AND wx.wts < COALESCE(nv.valid_until, TIMESTAMP '9999-01-01')
        WHERE nv.lon IS NOT NULL AND nv.lat IS NOT NULL AND nv.visible
        GROUP BY way_id, way_version
        HAVING COUNT(*) >= 2),{",".join(level_ctes)}
    {" UNION ALL ".join(level_selects)}
    """


def osm_utm_area(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Planar ring areas via the TRUE UTM pipeline (transformLatLngToUtm +
    shoelace, stats/package.scala:17-32,49-60) next to the spherical-excess
    substitution — per polygon way version: order-of-magnitude of the UTM
    m² area and the UTM/spherical ratio (3 dp). The oracle replays the
    identical Snyder series in SQL; rounded outputs absorb libm ULP noise."""
    from osmesa_spark.functions import geo

    h = _history(spark)
    wg = G.reconstruct_way_geometries(P.preprocess_ways(h), P.preprocess_nodes(h))
    polys = wg.where(F.col("geomType") == "Polygon")
    utm = geo.ring_area_m2_utm("geom")
    sph = geo.ring_area_m2("geom")
    return polys.select(
        "id",
        F.col("version").cast("int").alias("version"),
        F.size("geom").alias("nverts"),
        F.floor(F.log10(F.greatest(utm, F.lit(1e-9))))
        .cast("int")
        .alias("area_mag"),
        F.round(utm / sph, 3).alias("utm_sph_ratio"),
    ).where(sph > 1e-6)


def _utm_sql_parts(lon: str, lat: str, lon0: str) -> tuple[str, str]:
    """DuckDB scalar SQL for UTM (easting, northing) — the same Snyder
    series geo.utm_easting/utm_northing evaluate Column-side, with the
    identical coefficient literals."""
    from osmesa_spark.functions import geo

    phi = f"radians({lat})"
    sinp, cosp, tanp = f"sin({phi})", f"cos({phi})", f"tan({phi})"
    n = f"({geo.WGS84_A!r} / sqrt(1.0 - {geo.WGS84_E2!r} * {sinp} * {sinp}))"
    t = f"({tanp} * {tanp})"
    c = f"({geo.WGS84_EP2!r} * {cosp} * {cosp})"
    a = f"(radians({lon} - {lon0}) * {cosp})"
    easting = (
        f"(0.9996 * {n} * ({a} + (1.0 - {t} + {c}) * pow({a}, 3) / 6.0"
        f" + (5.0 - 18.0 * {t} + {t} * {t} + 72.0 * {c} - "
        f"{58.0 * geo.WGS84_EP2!r}) * pow({a}, 5) / 120.0) + 500000.0)"
    )
    m = (
        f"({geo.WGS84_A!r} * ({geo._M0!r} * {phi} - {geo._M2!r} * sin(2.0 * {phi})"
        f" + {geo._M4!r} * sin(4.0 * {phi}) - {geo._M6!r} * sin(6.0 * {phi})))"
    )
    northing = (
        f"(0.9996 * ({m} + {n} * {tanp} * ({a} * {a} / 2.0"
        f" + (5.0 - {t} + 9.0 * {c} + 4.0 * {c} * {c}) * pow({a}, 4) / 24.0"
        f" + (61.0 - 58.0 * {t} + {t} * {t} + 600.0 * {c} - "
        f"{330.0 * geo.WGS84_EP2!r}) * pow({a}, 6) / 720.0)))"
    )
    return easting, northing


def _osm_utm_area_sql() -> str:
    from osmesa_spark.functions import geo

    easting, northing = _utm_sql_parts("p.lon", "p.lat", "lon0")
    r2_half = geo.EARTH_RADIUS_M * geo.EARTH_RADIUS_M / 2.0
    return f"""
    WITH {_NV_CTE}, {_WAYVERT_CTE},
    wvl AS (
        SELECT way_id, way_version,
               ANY_VALUE(wtags) AS wtags,
               COUNT(*) AS nverts,
               SUM(nv.lon) AS clon,
               ARG_MIN(nv.lon, pos) AS flon, ARG_MIN(nv.lat, pos) AS flat,
               ARG_MAX(nv.lon, pos) AS llon, ARG_MAX(nv.lat, pos) AS llat,
               list(struct_pack(lon := nv.lon, lat := nv.lat) ORDER BY pos)
                   AS verts
        FROM wx JOIN nv ON wx.ref = nv.id
             AND nv.timestamp <= wx.wts
             AND wx.wts < COALESCE(nv.valid_until, TIMESTAMP '9999-01-01')
        WHERE nv.lon IS NOT NULL AND nv.lat IS NOT NULL AND nv.visible
        GROUP BY way_id, way_version
        HAVING COUNT(*) >= 4),
    polys AS (
        SELECT way_id, way_version, nverts, verts,
               (least(greatest(floor((clon / nverts + 180.0) / 6.0) + 1, 1),
                      60) * 6 - 183)::DOUBLE AS lon0
        FROM wvl
        WHERE flon = llon AND flat = llat AND {_IS_AREA_SQL}),
    proj AS (
        SELECT way_id, way_version, nverts,
               list_transform(verts, p -> {easting}) AS xs,
               list_transform(verts, p -> {northing}) AS ys,
               list_transform(range(1, len(verts)), i ->
                   radians(verts[i + 1].lon - verts[i].lon)
                   * (2.0 + sin(radians(verts[i].lat))
                      + sin(radians(verts[i + 1].lat)))) AS sph_terms
        FROM polys),
    areas AS (
        SELECT way_id, way_version, nverts,
               abs(list_sum(list_transform(range(1, len(xs) + 1), i ->
                   xs[i] * ys[(i % len(xs)) + 1]
                   - xs[(i % len(xs)) + 1] * ys[i]))) / 2.0 AS utm_area,
               abs(COALESCE(list_sum(sph_terms), 0.0) * {r2_half!r})
                   AS sph_area
        FROM proj)
    SELECT way_id AS id, way_version::INT AS version, nverts::INT AS nverts,
           floor(log10(greatest(utm_area, 1e-9)))::INT AS area_mag,
           round(utm_area / sph_area, 3) AS utm_sph_ratio
    FROM areas WHERE sph_area > 1e-6
"""


def osm_relation_members(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _history(spark)
    wg = G.reconstruct_way_geometries(P.preprocess_ways(h), P.preprocess_nodes(h))
    m = G.relation_members_resolved(h, wg, resolve_relations=True)
    return m.select(
        F.col("relId").alias("id"),
        F.col("version").cast("int").alias("rel_version"),
        F.col("pos").cast("int").alias("pos"),
        F.col("sub_pos").cast("int").alias("sub_pos"),
        F.col("via_ref").cast("bigint").alias("via_ref"),
        F.col("ref").cast("bigint").alias("ref"),
        "role",
        F.size("way_geom").alias("nverts"),
        F.col("member_closed").alias("closed"),
    )


def osm_relation_members_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _history(spark)
    m = G.relation_members_deep(
        h, h, P.preprocess_nodes(h), resolve_relations=True
    )
    return m.select(
        F.col("relId").alias("id"),
        F.col("version").cast("int").alias("rel_version"),
        F.col("pos").cast("int").alias("pos"),
        F.col("sub_pos").cast("int").alias("sub_pos"),
        F.col("via_ref").cast("bigint").alias("via_ref"),
        F.col("ref").cast("bigint").alias("ref"),
        "role",
        F.size("way_geom").alias("nverts"),
        F.col("member_closed").alias("closed"),
    )


# way-version validity windows come from ALL versions (preprocess), while
# geometry joins only keep reconstructable ones — mirror both layers.
# Nested branch: super-relation members of type='relation' resolve ONE level
# through the member relation's own validity window (live at the SUPER
# timestamp), then that relation's way members join way versions at the
# super timestamp — same layering as geometry.relation_members_resolved.
OSM_RELATION_MEMBERS_SQL = f"""
    WITH {_NV_CTE}, {_WAYVERT_CTE},
    wval AS (
        SELECT id AS way_id, version AS way_version, timestamp AS wts,
               visible AS wvis,
               LEAD(timestamp) OVER (PARTITION BY id ORDER BY version)
                 AS w_valid_until
        FROM read_parquet('{_HISTORY}') WHERE type = 'way'),
    rval AS (
        SELECT id AS r_id, timestamp AS r_ts, visible AS r_vis,
               members AS r_members,
               LEAD(timestamp) OVER (PARTITION BY id ORDER BY version)
                 AS r_valid_until
        FROM read_parquet('{_HISTORY}') WHERE type = 'relation'),
    rel_m AS (
        SELECT r.id, r.version AS rel_version, r.timestamp AS rts,
               (u.pos - 1)::INT AS pos,
               NULL::INT AS sub_pos, NULL::BIGINT AS via_ref,
               u.m.ref AS ref, u.m.role AS role
        FROM read_parquet('{_HISTORY}') r,
             LATERAL (SELECT unnest(r.members) AS m,
                             generate_subscripts(r.members, 1) AS pos) u
        WHERE r.type = 'relation' AND r.visible
          AND (r.tags['type'])[1] = 'multipolygon' AND u.m.type = 'way'),
    rel_rm AS (
        SELECT r.id, r.version AS rel_version, r.timestamp AS rts,
               (u.pos - 1)::INT AS pos, u.m.ref AS via_ref
        FROM read_parquet('{_HISTORY}') r,
             LATERAL (SELECT unnest(r.members) AS m,
                             generate_subscripts(r.members, 1) AS pos) u
        WHERE r.type = 'relation' AND r.visible
          AND (r.tags['type'])[1] = 'multipolygon' AND u.m.type = 'relation'),
    nested_m AS (
        SELECT rr.id, rr.rel_version, rr.rts, rr.pos,
               (s.pos - 1)::INT AS sub_pos, rr.via_ref::BIGINT AS via_ref,
               s.m.ref AS ref, s.m.role AS role
        FROM rel_rm rr
        JOIN rval ON rr.via_ref = rval.r_id AND rval.r_vis
             AND rval.r_ts <= rr.rts
             AND rr.rts < COALESCE(rval.r_valid_until,
                                   TIMESTAMP '9999-01-01'),
             LATERAL (SELECT unnest(rval.r_members) AS m,
                             generate_subscripts(rval.r_members, 1) AS pos) s
        WHERE s.m.type = 'way'),
    all_m AS (SELECT * FROM rel_m UNION ALL SELECT * FROM nested_m)
    SELECT all_m.id, all_m.rel_version::INT AS rel_version, all_m.pos,
           all_m.sub_pos, all_m.via_ref,
           all_m.ref::BIGINT AS ref, all_m.role,
           wv.nverts::INT AS nverts,
           (wv.nverts >= 4 AND wv.flon = wv.llon AND wv.flat = wv.llat)
             AS closed
    FROM all_m
    JOIN wval ON all_m.ref = wval.way_id AND wval.wvis
         AND wval.wts <= all_m.rts
         AND all_m.rts < COALESCE(wval.w_valid_until, TIMESTAMP '9999-01-01')
    JOIN wv ON wv.way_id = wval.way_id AND wv.way_version = wval.way_version
"""


# deep variant: the member way's NODES are ALSO resolved at the RELATION
# timestamp — the reference's exact semantics (relation_members_deep);
# this removes the documented way-timestamp simplification the plain
# osm_relation_members row mirrors.
OSM_RELATION_MEMBERS_DEEP_SQL = f"""
    WITH {_NV_CTE},
    wval AS (
        SELECT id AS way_id, version AS way_version, timestamp AS wts,
               visible AS wvis, nds AS wnds,
               LEAD(timestamp) OVER (PARTITION BY id ORDER BY version)
                 AS w_valid_until
        FROM read_parquet('{_HISTORY}') WHERE type = 'way'),
    rval AS (
        SELECT id AS r_id, timestamp AS r_ts, visible AS r_vis,
               members AS r_members,
               LEAD(timestamp) OVER (PARTITION BY id ORDER BY version)
                 AS r_valid_until
        FROM read_parquet('{_HISTORY}') WHERE type = 'relation'),
    rel_m AS (
        SELECT r.id, r.version AS rel_version, r.timestamp AS rts,
               (u.pos - 1)::INT AS pos,
               NULL::INT AS sub_pos, NULL::BIGINT AS via_ref,
               u.m.ref AS ref, u.m.role AS role
        FROM read_parquet('{_HISTORY}') r,
             LATERAL (SELECT unnest(r.members) AS m,
                             generate_subscripts(r.members, 1) AS pos) u
        WHERE r.type = 'relation' AND r.visible
          AND (r.tags['type'])[1] = 'multipolygon' AND u.m.type = 'way'),
    rel_rm AS (
        SELECT r.id, r.version AS rel_version, r.timestamp AS rts,
               (u.pos - 1)::INT AS pos, u.m.ref AS via_ref
        FROM read_parquet('{_HISTORY}') r,
             LATERAL (SELECT unnest(r.members) AS m,
                             generate_subscripts(r.members, 1) AS pos) u
        WHERE r.type = 'relation' AND r.visible
          AND (r.tags['type'])[1] = 'multipolygon' AND u.m.type = 'relation'),
    nested_m AS (
        SELECT rr.id, rr.rel_version, rr.rts, rr.pos,
               (s.pos - 1)::INT AS sub_pos, rr.via_ref::BIGINT AS via_ref,
               s.m.ref AS ref, s.m.role AS role
        FROM rel_rm rr
        JOIN rval ON rr.via_ref = rval.r_id AND rval.r_vis
             AND rval.r_ts <= rr.rts
             AND rr.rts < COALESCE(rval.r_valid_until,
                                   TIMESTAMP '9999-01-01'),
             LATERAL (SELECT unnest(rval.r_members) AS m,
                             generate_subscripts(rval.r_members, 1) AS pos) s
        WHERE s.m.type = 'way'),
    all_m AS (SELECT * FROM rel_m UNION ALL SELECT * FROM nested_m),
    live AS (
        SELECT all_m.id, all_m.rel_version, all_m.rts, all_m.pos,
               all_m.sub_pos, all_m.via_ref, all_m.ref, all_m.role,
               wval.way_version, u.nref, u.npos
        FROM all_m
        JOIN wval ON all_m.ref = wval.way_id AND wval.wvis
             AND wval.wts <= all_m.rts
             AND all_m.rts < COALESCE(wval.w_valid_until,
                                      TIMESTAMP '9999-01-01'),
             LATERAL (SELECT unnest(wval.wnds) AS nref,
                             generate_subscripts(wval.wnds, 1) AS npos) u),
    dv AS (
        SELECT live.id, live.rel_version, live.pos, live.sub_pos,
               live.via_ref, live.ref, live.role,
               COUNT(*) AS nverts,
               ARG_MIN(nv.lon, live.npos) AS flon,
               ARG_MIN(nv.lat, live.npos) AS flat,
               ARG_MAX(nv.lon, live.npos) AS llon,
               ARG_MAX(nv.lat, live.npos) AS llat
        FROM live
        JOIN nv ON live.nref = nv.id
             AND nv.timestamp <= live.rts
             AND live.rts < COALESCE(nv.valid_until, TIMESTAMP '9999-01-01')
        WHERE nv.lon IS NOT NULL AND nv.lat IS NOT NULL AND nv.visible
        GROUP BY live.id, live.rel_version, live.pos, live.sub_pos,
                 live.via_ref, live.ref, live.role
        HAVING COUNT(*) >= 2)
    SELECT id, rel_version::INT AS rel_version, pos, sub_pos, via_ref,
           ref::BIGINT AS ref, role, nverts::INT AS nverts,
           (nverts >= 4 AND flon = llon AND flat = llat) AS closed
    FROM dv
"""


# Ring stitching is greedy/sequential in the engine kernel, but with the
# fixture's max endpoint degree of 2 its OUTPUT is order-independent:
# kept rings = closed members (nverts ≥ 4, first = last) + simple-cycle
# components of the open segments (connected, zero odd-degree endpoints,
# stitched length Σnverts − k + 1 ≥ 4); path components drop. That model
# is SQL-expressible: endpoint-graph connected components via the same
# recursive min-label closure dedup_components uses. Validated against the
# kernel on every fixture relation version before being adopted as the
# oracle (22/22 groups equal). Degree ≥ 3 junctions would make greedy
# stitching order-dependent again — the fixture has none.
OSM_RELATION_ASSEMBLY_SQL = f"""
    WITH RECURSIVE {_NV_CTE}, {_WAYVERT_CTE},
    wval AS (
        SELECT id AS way_id, version AS way_version, timestamp AS wts,
               visible AS wvis,
               LEAD(timestamp) OVER (PARTITION BY id ORDER BY version)
                 AS w_valid_until
        FROM read_parquet('{_HISTORY}') WHERE type = 'way'),
    rval AS (
        SELECT id AS r_id, timestamp AS r_ts, visible AS r_vis,
               members AS r_members,
               LEAD(timestamp) OVER (PARTITION BY id ORDER BY version)
                 AS r_valid_until
        FROM read_parquet('{_HISTORY}') WHERE type = 'relation'),
    rel_m AS (
        SELECT r.id, r.version AS rel_version, r.timestamp AS rts,
               (u.pos - 1)::INT AS pos, u.m.ref AS ref, u.m.role AS role
        FROM read_parquet('{_HISTORY}') r,
             LATERAL (SELECT unnest(r.members) AS m,
                             generate_subscripts(r.members, 1) AS pos) u
        WHERE r.type = 'relation' AND r.visible
          AND (r.tags['type'])[1] = 'multipolygon' AND u.m.type = 'way'),
    rel_rm AS (
        SELECT r.id, r.version AS rel_version, r.timestamp AS rts,
               (u.pos - 1)::INT AS pos, u.m.ref AS via_ref
        FROM read_parquet('{_HISTORY}') r,
             LATERAL (SELECT unnest(r.members) AS m,
                             generate_subscripts(r.members, 1) AS pos) u
        WHERE r.type = 'relation' AND r.visible
          AND (r.tags['type'])[1] = 'multipolygon'
          AND u.m.type = 'relation'),
    nested_m AS (
        SELECT rr.id, rr.rel_version, rr.rts, rr.pos,
               s.m.ref AS ref, s.m.role AS role
        FROM rel_rm rr
        JOIN rval ON rr.via_ref = rval.r_id AND rval.r_vis
             AND rval.r_ts <= rr.rts
             AND rr.rts < COALESCE(rval.r_valid_until,
                                   TIMESTAMP '9999-01-01'),
             LATERAL (SELECT unnest(rval.r_members) AS m,
                             generate_subscripts(rval.r_members, 1) AS pos) s
        WHERE s.m.type = 'way'),
    -- a way reached both directly and via a nested relation member
    -- stitches ONCE per (ref, role) — mirrors the engine kernel's dedup
    all_m AS (
        SELECT DISTINCT id, rel_version, rts, ref, role FROM (
            SELECT id, rel_version, rts, ref, role FROM rel_m
            UNION ALL
            SELECT id, rel_version, rts, ref, role FROM nested_m)),
    mem AS (
        SELECT all_m.id, all_m.rel_version, wv.nverts,
               wv.flon::VARCHAR || ',' || wv.flat::VARCHAR AS ep_a,
               wv.llon::VARCHAR || ',' || wv.llat::VARCHAR AS ep_b,
               (wv.nverts >= 4 AND wv.flon = wv.llon AND wv.flat = wv.llat)
                 AS closed
        FROM all_m
        JOIN wval ON all_m.ref = wval.way_id AND wval.wvis
             AND wval.wts <= all_m.rts
             AND all_m.rts < COALESCE(wval.w_valid_until,
                                      TIMESTAMP '9999-01-01')
        JOIN wv ON wv.way_id = wval.way_id
             AND wv.way_version = wval.way_version),
    grps AS (SELECT DISTINCT id, rel_version FROM mem),
    closed_c AS (
        SELECT id, rel_version, COUNT(*)::BIGINT AS rings,
               SUM(nverts)::BIGINT AS verts
        FROM mem WHERE closed GROUP BY id, rel_version),
    edges AS (
        SELECT id, rel_version, nverts,
               id::VARCHAR || '#' || rel_version::VARCHAR || '|' || ep_a
                   AS s,
               id::VARCHAR || '#' || rel_version::VARCHAR || '|' || ep_b
                   AS d
        FROM mem WHERE NOT closed),
    bi AS (SELECT s, d FROM edges UNION ALL SELECT d AS s, s AS d FROM edges),
    reach(node, lab) AS (
        SELECT s, s FROM bi
        UNION
        SELECT b.s, r.lab FROM bi b JOIN reach r ON b.d = r.node),
    comp AS (SELECT node, MIN(lab) AS comp_id FROM reach GROUP BY node),
    seg_comp AS (
        SELECT e.id, e.rel_version, c.comp_id, e.nverts
        FROM edges e JOIN comp c ON c.node = e.s),
    comp_stats AS (
        SELECT id, rel_version, comp_id, COUNT(*)::BIGINT AS k,
               SUM(nverts)::BIGINT AS tot
        FROM seg_comp GROUP BY id, rel_version, comp_id),
    degs AS (
        SELECT node, COUNT(*)::INT AS deg
        FROM (SELECT s AS node FROM edges
              UNION ALL SELECT d AS node FROM edges)
        GROUP BY node),
    comp_odd AS (
        SELECT c.comp_id,
               SUM(CASE WHEN g.deg % 2 = 1 THEN 1 ELSE 0 END) AS odd
        FROM degs g JOIN comp c USING (node) GROUP BY c.comp_id),
    cycle_c AS (
        SELECT s.id, s.rel_version, COUNT(*)::BIGINT AS rings,
               SUM(s.tot - s.k + 1)::BIGINT AS verts
        FROM comp_stats s JOIN comp_odd o ON s.comp_id = o.comp_id
        WHERE o.odd = 0 AND (s.tot - s.k + 1) >= 4
        GROUP BY s.id, s.rel_version)
    SELECT g.id, 'MultiPolygon' AS geomType,
           (COALESCE(cl.rings, 0) + COALESCE(cy.rings, 0))::INT AS n_rings,
           (COALESCE(cl.verts, 0) + COALESCE(cy.verts, 0))::INT
               AS total_ring_verts
    FROM grps g
    LEFT JOIN closed_c cl ON g.id = cl.id AND g.rel_version = cl.rel_version
    LEFT JOIN cycle_c cy ON g.id = cy.id AND g.rel_version = cy.rel_version
"""

# deep assembly twin: identical cycle model, but member vertex stats are
# resolved at the RELATION timestamp (node join anchored at rts) instead of
# the way's own timestamp — derived from OSM_RELATION_ASSEMBLY_SQL by
# swapping the vertex-resolution CTE so the two oracles cannot drift.
_DEEP_MEM_CTE = """    dwx AS (
        SELECT all_m.id, all_m.rel_version, all_m.rts, all_m.ref,
               u.nref, u.npos
        FROM all_m
        JOIN wval ON all_m.ref = wval.way_id AND wval.wvis
             AND wval.wts <= all_m.rts
             AND all_m.rts < COALESCE(wval.w_valid_until,
                                      TIMESTAMP '9999-01-01'),
             LATERAL (SELECT unnest(wval.wnds) AS nref,
                             generate_subscripts(wval.wnds, 1) AS npos) u),
    dwv AS (
        SELECT dwx.id, dwx.rel_version, dwx.ref,
               COUNT(*) AS nverts,
               ARG_MIN(nv.lon, npos) AS flon, ARG_MIN(nv.lat, npos) AS flat,
               ARG_MAX(nv.lon, npos) AS llon, ARG_MAX(nv.lat, npos) AS llat
        FROM dwx JOIN nv ON dwx.nref = nv.id
             AND nv.timestamp <= dwx.rts
             AND dwx.rts < COALESCE(nv.valid_until, TIMESTAMP '9999-01-01')
        WHERE nv.lon IS NOT NULL AND nv.lat IS NOT NULL AND nv.visible
        GROUP BY dwx.id, dwx.rel_version, dwx.ref
        HAVING COUNT(*) >= 2),
    mem AS (
        SELECT id, rel_version, nverts,
               flon::VARCHAR || ',' || flat::VARCHAR AS ep_a,
               llon::VARCHAR || ',' || llat::VARCHAR AS ep_b,
               (nverts >= 4 AND flon = llon AND flat = llat) AS closed
        FROM dwv),"""

_ORIG_MEM_START = "    mem AS ("
_ORIG_MEM_END = "             AND wv.way_version = wval.way_version),"
_i0 = OSM_RELATION_ASSEMBLY_SQL.index(_ORIG_MEM_START)
_i1 = OSM_RELATION_ASSEMBLY_SQL.index(_ORIG_MEM_END) + len(_ORIG_MEM_END)
OSM_RELATION_ASSEMBLY_DEEP_SQL = (
    OSM_RELATION_ASSEMBLY_SQL[:_i0]
    + _DEEP_MEM_CTE
    + OSM_RELATION_ASSEMBLY_SQL[_i1:]
).replace(
    "               visible AS wvis,",
    "               visible AS wvis, nds AS wnds,",
)



def osm_relation_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _history(spark)
    wg = G.reconstruct_way_geometries(P.preprocess_ways(h), P.preprocess_nodes(h))
    rels = G.reconstruct_relation_geometries(h, wg, resolve_relations=True)
    return rels.select(
        "id",
        "geomType",
        F.size("rings").alias("n_rings"),
        F.aggregate(
            F.transform(F.col("rings"), lambda r: F.size(r["ring"])),
            F.lit(0),
            lambda acc, n: acc + n,
        ).alias("total_ring_verts"),
    )


def osm_relation_assembly_deep(spark: SparkSession, sf_dir: str) -> DataFrame:
    h = _history(spark)
    m = G.relation_members_deep(
        h, h, P.preprocess_nodes(h), resolve_relations=True
    )
    rels = G.reconstruct_relation_geometries(h, None, members=m)
    return rels.select(
        "id",
        "geomType",
        F.size("rings").alias("n_rings"),
        F.aggregate(
            F.transform(F.col("rings"), lambda r: F.size(r["ring"])),
            F.lit(0),
            lambda acc, n: acc + n,
        ).alias("total_ring_verts"),
    )


def osm_changeset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    stats = changeset_stats(
        _history(spark), _changesets(spark), countries=datagen.COUNTRY_POLYGONS
    )
    def cnt(k: str):
        return F.coalesce(F.try_element_at("counts", F.lit(k)), F.lit(0)).alias(k)

    return stats.select(
        "id",
        F.col("total_edits").cast("bigint").alias("total_edits"),
        cnt("buildings_added"),
        cnt("buildings_deleted"),
        cnt("roads_added"),
        cnt("waterways_added"),
        cnt("coastlines_added"),
        cnt("railway_features_added"),
        F.coalesce("editor", F.lit("")).alias("editor"),
        F.size(F.coalesce("hashtags", F.array().cast("array<string>"))).alias(
            "n_hashtags"
        ),
    )


# per-changeset stats CTE chain, reused by the rollup-view oracles
_STATS_PROLOGUE = f"""
    {_NV_CTE}, {_WAYVERT_CTE},
    node_feats AS (
        SELECT h.changeset, h.tags, h.version, h.visible
        FROM read_parquet('{_HISTORY}') h
        WHERE h.type = 'node' AND h.lat IS NOT NULL AND h.lon IS NOT NULL
          AND cardinality(h.tags) > 0),
    way_feats AS (
        SELECT wcs AS changeset, wtags AS tags, way_version AS version,
               wvisible AS visible
        FROM wv WHERE cardinality(wtags) > 0),
    feats AS (
        SELECT *, (version = 1) AS is_new FROM
        (SELECT * FROM node_feats UNION ALL SELECT * FROM way_feats)),
    cls AS (
        SELECT changeset, is_new, visible,
            ((tags['building'])[1] IS NOT NULL
             AND lower((tags['building'])[1]) <> 'no') AS is_building,
            ((tags['highway'])[1] IS NOT NULL) AS is_road,
            ((tags['waterway'])[1] IN
               ('river','riverbank','canal','stream','stream_end','brook',
                'drain','ditch','dam','weir','waterfall','pressurised')) AS is_waterway,
            ((tags['natural'])[1] = 'coastline') AS is_coastline,
            (list_contains(list_transform(string_split(COALESCE((tags['railway'])[1], ''), ';'), x -> trim(x)), 'station')
             OR list_contains(list_transform(string_split(COALESCE((tags['railway'])[1], ''), ';'), x -> trim(x)), 'yard')
             OR list_contains(list_transform(string_split(COALESCE((tags['landuse'])[1], ''), ';'), x -> trim(x)), 'railway')) AS is_rail_feature
        FROM feats),
    agg AS (
        SELECT changeset,
            COUNT(*)::BIGINT AS total_edits,
            SUM(CASE WHEN is_building AND is_new THEN 1 ELSE 0 END)::BIGINT AS buildings_added,
            SUM(CASE WHEN is_building AND NOT visible THEN 1 ELSE 0 END)::BIGINT AS buildings_deleted,
            SUM(CASE WHEN is_road AND is_new THEN 1 ELSE 0 END)::BIGINT AS roads_added,
            SUM(CASE WHEN COALESCE(is_waterway, false) AND is_new THEN 1 ELSE 0 END)::BIGINT AS waterways_added,
            SUM(CASE WHEN COALESCE(is_coastline, false) AND is_new THEN 1 ELSE 0 END)::BIGINT AS coastlines_added,
            SUM(CASE WHEN is_rail_feature AND is_new THEN 1 ELSE 0 END)::BIGINT AS railway_features_added
        FROM cls GROUP BY changeset),
    tags_h AS (
        SELECT c.id,
               COALESCE(list_distinct(list_concat(
                 regexp_extract_all(lower(COALESCE((c.tags['comment'])[1], '')), '#(\\w+)', 1),
                 list_filter(list_transform(
                    string_split(COALESCE((c.tags['hashtags'])[1], ''), ';'),
                    x -> lower(trim(x))), x -> x <> ''))), []) AS hs
        FROM read_parquet('{_CHANGESETS}') c),
    cs_stats AS (
        SELECT c.id,
               COALESCE(a.total_edits, 0)::BIGINT AS total_edits,
               COALESCE(a.buildings_added, 0)::BIGINT AS buildings_added,
               COALESCE(a.buildings_deleted, 0)::BIGINT AS buildings_deleted,
               COALESCE(a.roads_added, 0)::BIGINT AS roads_added,
               COALESCE(a.waterways_added, 0)::BIGINT AS waterways_added,
               COALESCE(a.coastlines_added, 0)::BIGINT AS coastlines_added,
               COALESCE(a.railway_features_added, 0)::BIGINT AS railway_features_added,
               COALESCE((c.tags['created_by'])[1], '') AS editor,
               t.hs AS hs,
               c.uid AS user_id,
               c.createdAt AS created_at,
               c.closedAt AS closed_at
        FROM read_parquet('{_CHANGESETS}') c
        LEFT JOIN agg a ON a.changeset = c.id
        LEFT JOIN tags_h t ON t.id = c.id)
"""

OSM_CHANGESET_STATS_SQL = f"""
    WITH {_STATS_PROLOGUE}
    SELECT id, total_edits, buildings_added, buildings_deleted, roads_added,
           waterways_added, coastlines_added, railway_features_added, editor,
           len(hs)::INT AS n_hashtags
    FROM cs_stats
"""


def osm_geocode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.geocode import geocode_polygons_auto

    nodes = P.preprocess_nodes(_history(spark))
    pts = G.construct_point_geometries(nodes, tagged_only=False)
    coded = geocode_polygons_auto(pts, datagen.COUNTRY_POLYGONS)
    return (
        coded.select("id", "version", F.explode("countries").alias("code"))
        .select("id", F.col("version").cast("int").alias("version"), "code")
        .distinct()
    )


def _raycast_cond(ring, lon: str, lat: str) -> str:
    """SQL condition replaying geocode.point_in_ring's even-odd ray-cast
    with the identical IEEE double expression per edge (envelope pre-check
    + strict-inequality crossing count), so both engines agree
    bit-for-bit."""
    xs = [float(x) for x, _ in ring]
    ys = [float(y) for _, y in ring]
    n = len(ring)
    terms = []
    for i in range(n):
        j = (i + 1) % n
        xi, yi, xj, yj = xs[i], ys[i], xs[j], ys[j]
        terms.append(
            f"(CASE WHEN (({yi!r} > {lat}) <> ({yj!r} > {lat})) AND "
            f"{lon} < ({xj!r} - {xi!r}) * ({lat} - {yi!r}) / "
            f"({yj!r} - {yi!r}) + {xi!r} THEN 1 ELSE 0 END)"
        )
    env = (
        f"{lon} >= {min(xs)!r} AND {lon} <= {max(xs)!r} AND "
        f"{lat} >= {min(ys)!r} AND {lat} <= {max(ys)!r}"
    )
    return f"{env} AND ({' + '.join(terms)}) % 2 = 1"


def _geocode_raycast_sql() -> str:
    """Per-country SELECT over the node points — including the concave
    'DDD' country where bbox containment and the ray-cast genuinely
    disagree."""
    parts = []
    for code, ring in sorted(datagen.COUNTRY_POLYGONS.items()):
        parts.append(
            f"SELECT id, version::INT AS version, '{code}' AS code\n"
            f"   FROM pts WHERE {_raycast_cond(ring, 'lon', 'lat')}"
        )
    return "\n   UNION ALL\n   ".join(parts)


OSM_GEOCODE_SQL = f"""
    WITH pts AS (
        SELECT id, version, lon, lat FROM read_parquet('{_HISTORY}')
        WHERE type = 'node' AND lat IS NOT NULL AND lon IS NOT NULL)
    SELECT DISTINCT * FROM ({_geocode_raycast_sql()})
"""


def osm_geocode_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same node points as osm_geocode, but against a 40-country set —
    above GRID_THRESHOLD_COUNTRIES, so geocode_polygons_auto dispatches
    the broadcast coarse-grid index path (the 100 TB / 311-real-country
    shape: per-point cost bounded by the cell's candidate list, interior
    cells short-circuit with zero vertex work). Driver-checks the GRID
    code path end-to-end; osm_geocode keeps covering the literal path."""
    from osmesa_spark.operators.geocode import geocode_polygons_auto

    nodes = P.preprocess_nodes(_history(spark))
    pts = G.construct_point_geometries(nodes, tagged_only=False)
    coded = geocode_polygons_auto(pts, datagen.COUNTRY_POLYGONS_GRID)
    return (
        coded.select("id", "version", F.explode("countries").alias("code"))
        .select("id", F.col("version").cast("int").alias("version"), "code")
        .distinct()
    )


def _geocode_grid_raycast_sql() -> str:
    parts = []
    for code, ring in sorted(datagen.COUNTRY_POLYGONS_GRID.items()):
        parts.append(
            f"SELECT id, version::INT AS version, '{code}' AS code\n"
            f"   FROM pts WHERE {_raycast_cond(ring, 'lon', 'lat')}"
        )
    return "\n   UNION ALL\n   ".join(parts)


OSM_GEOCODE_GRID_SQL = f"""
    WITH pts AS (
        SELECT id, version, lon, lat FROM read_parquet('{_HISTORY}')
        WHERE type = 'node' AND lat IS NOT NULL AND lon IS NOT NULL)
    SELECT DISTINCT * FROM ({_geocode_grid_raycast_sql()})
"""


# --- real-complexity geocode: 311 generated countries through the GeoJSON
# loader (keyhole multiring folding) and the grid index — the fan-out the
# reference actually runs (Countries.scala:17-33 loads a 311-country
# resource; :43-67 STRtree-indexes it). Probe points are a world-spanning
# 0.5° lattice derived from event_id, so the oracle replays them exactly.
_RW_GEOJSON = os.path.join(FIXTURE_DIR, "countries_realworld.geojson")
_COUNTRY_EDGES = os.path.join(FIXTURE_DIR, "country_edges.parquet")


def _ensure_rw_fixture() -> None:
    if not (os.path.exists(_RW_GEOJSON) and os.path.exists(_COUNTRY_EDGES)):
        datagen.write_realworld_countries(FIXTURE_DIR)


def _realworld_countries(spark: SparkSession) -> dict:
    from osmesa_spark.operators.geocode import load_countries_geojson

    _ensure_rw_fixture()
    return ctx_memo(
        spark.sparkContext, ("countries_geojson", _RW_GEOJSON),
        lambda: load_countries_geojson(_RW_GEOJSON),
        stamp=path_stamp(_RW_GEOJSON),
    )


def osm_geocode_realworld(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.geocode import geocode_polygons_auto

    from osmesa_spark import queries as _q

    countries = _realworld_countries(spark)
    # events.parquet carries NANOsecond timestamps — _t sets nanosAsLong
    # (a vanilla driver session doesn't), even though only event_id is read
    ev = _q._t(spark, sf_dir, "events")
    pts = ev.select(
        F.col("event_id").alias("id"),
        F.array(
            F.struct(
                ((F.col("event_id") % 720) * 0.5 - 179.75).alias("lon"),
                (((F.col("event_id") * 7) % 320) * 0.5 - 79.75).alias("lat"),
            )
        ).alias("geom"),
    )
    coded = geocode_polygons_auto(pts, countries)
    return coded.select("id", F.explode("countries").alias("code"))


def _rw_geocode_sql() -> str:
    # the edges parquet is written from load_countries_geojson's OUTPUT at
    # fixture-generation time, so every double here is bit-identical to the
    # folded ring the engine ray-casts; the crossing expression replays
    # point_in_ring term-for-term (envelope gate, half-open span, strict x)
    _ensure_rw_fixture()
    return f"""
    WITH pts AS (
        SELECT event_id AS id,
               (event_id % 720) * 0.5 - 179.75 AS lon,
               ((event_id * 7) % 320) * 0.5 - 79.75 AS lat
        FROM events),
    cr AS (
        SELECT p.id, e.code,
               SUM(CASE WHEN ((e.yi > p.lat) <> (e.yj > p.lat))
                        AND p.lon < (e.xj - e.xi) * (p.lat - e.yi)
                                    / (e.yj - e.yi) + e.xi
                   THEN 1 ELSE 0 END) AS crossings
        FROM pts p JOIN read_parquet('{_COUNTRY_EDGES}') e
          ON p.lon >= e.bx0 AND p.lon <= e.bx1
         AND p.lat >= e.by0 AND p.lat <= e.by1
        GROUP BY p.id, e.code)
    SELECT id, code FROM cr WHERE crossings % 2 = 1
    """


def osm_hashtags(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _changesets(spark)
        .select("id", F.explode(changeset_hashtags("tags")).alias("hashtag"))
        .distinct()
    )


OSM_HASHTAGS_SQL = f"""
    WITH a AS (
        SELECT id, unnest(regexp_extract_all(
                 lower(COALESCE((tags['comment'])[1], '')), '#(\\w+)', 1)) AS hashtag
        FROM read_parquet('{_CHANGESETS}')),
    b AS (
        SELECT id, lower(trim(unnest(string_split(
                 COALESCE((tags['hashtags'])[1], ''), ';')))) AS hashtag
        FROM read_parquet('{_CHANGESETS}'))
    SELECT DISTINCT id, hashtag
    FROM (SELECT * FROM a UNION ALL SELECT * FROM b WHERE hashtag <> '')
"""


_TILE_BASE_ZOOM = 6


def osm_tile_pyramid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EditHistogramTileCreator parity via `apps.edit_histogram_app`: one
    density per tile (cells=1) for zooms base..0."""
    from osmesa_spark import apps as A

    pyr = A.edit_histogram_app(
        spark, _history(spark), base_zoom=_TILE_BASE_ZOOM, cells=1
    )
    return pyr.select(
        F.col("zoom").cast("int").alias("zoom"),
        F.col("abs_col").alias("tx"),
        F.col("abs_row").alias("ty"),
        F.col("value").cast("bigint").alias("density"),
    )


def _tile_level_sql(z: int, facet: str | None = None) -> str:
    n = float(1 << z)
    max_lat = 85.05112877980659
    ux = "((lon + 180.0) / 360.0)"
    clat = f"RADIANS(LEAST(GREATEST(lat, -{max_lat}), {max_lat}))"
    uy = f"((1.0 - LN(TAN({clat}) + 1.0/COS({clat})) / PI()) / 2.0)"
    fsel = f"{facet},\n  " if facet else ""
    group = "1, 2, 3, 4" if facet else "1, 2, 3"
    return (
        f"SELECT {fsel}{z}::INT AS zoom,\n"
        f"  LEAST(GREATEST(FLOOR({ux} * {n}), 0), {n - 1})::BIGINT AS tx,\n"
        f"  LEAST(GREATEST(FLOOR({uy} * {n}), 0), {n - 1})::BIGINT AS ty,\n"
        f"  COUNT(*)::BIGINT AS density\n"
        f"FROM pts GROUP BY {group}"
    )


OSM_TILE_PYRAMID_SQL = (
    f"""
    WITH pts AS (
        SELECT lon, lat FROM read_parquet('{_HISTORY}')
        WHERE type = 'node' AND lat IS NOT NULL AND lon IS NOT NULL)
    """
    + "\n UNION ALL \n".join(
        _tile_level_sql(z) for z in range(_TILE_BASE_ZOOM, -1, -1)
    )
)


def osm_user_footprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FootprintCreator parity via the faceted pyramid: per-user node-edit
    densities for zooms base..0 — the pyramid's `abs >> dz` ancestors
    must agree with the oracle's independent per-level floor
    (floor(u·2^z) ≡ floor(u·2^{z+1})>>1) for EVERY facet."""
    from osmesa_spark import apps as A

    fp = A.footprint(
        spark, _history(spark), kind="user", base_zoom=_TILE_BASE_ZOOM,
        cells=1,
    )
    return fp.select(
        F.col("entity").cast("bigint").alias("uid"),
        F.col("zoom").cast("int").alias("zoom"),
        F.col("abs_col").alias("tx"),
        F.col("abs_row").alias("ty"),
        F.col("value").cast("bigint").alias("density"),
    )


OSM_USER_FOOTPRINT_SQL = (
    f"""
    WITH pts AS (
        SELECT uid, lon, lat FROM read_parquet('{_HISTORY}')
        WHERE type = 'node' AND lat IS NOT NULL AND lon IS NOT NULL)
    """
    + "\n UNION ALL \n".join(
        _tile_level_sql(z, facet="uid") for z in range(_TILE_BASE_ZOOM, -1, -1)
    )
)


# ---------------------------------------------------------------------------
# Rollup materialized views (A15/W3) over the changeset-stats output
# ---------------------------------------------------------------------------

def _stats_df(spark: SparkSession) -> DataFrame:
    # The rollup views fan the stats table into many aggregation branches;
    # localCheckpoint materializes it once (executor-local, self-cleaning via
    # ContextCleaner) instead of recomputing the whole geometry+geocode
    # pipeline per branch — the Spark analog of the reference's PG-table
    # boundary between ChangesetStatsCreator and the materialized views.
    # Memoized per context: all four rollup views share one materialization,
    # exactly as they share one PG table in the reference.
    ensure_fixtures()
    return ctx_memo(
        spark.sparkContext, "osm_stats",
        lambda: changeset_stats(
            _history(spark), _changesets(spark), countries=datagen.COUNTRY_POLYGONS
        ).localCheckpoint(),
        stamp=path_stamp(_HISTORY, _CHANGESETS),
    )


def osm_user_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.rollups import user_statistics

    us = user_statistics(_stats_df(spark))
    return us.select(
        "user_id",
        F.col("changeset_count").cast("bigint").alias("changeset_count"),
        F.col("edit_count").cast("bigint").alias("edit_count"),
        F.floor(F.unix_timestamp("last_edit")).cast("bigint").alias("last_edit_s"),
        F.coalesce(
            F.try_element_at("counts", F.lit("buildings_added")), F.lit(0)
        )
        .cast("bigint")
        .alias("buildings_added"),
    )


OSM_USER_STATISTICS_SQL = f"""
    WITH {_STATS_PROLOGUE}
    SELECT user_id,
           COUNT(*)::BIGINT AS changeset_count,
           SUM(total_edits)::BIGINT AS edit_count,
           FLOOR(epoch(MAX(COALESCE(closed_at, created_at))))::BIGINT AS last_edit_s,
           SUM(buildings_added)::BIGINT AS buildings_added
    FROM cs_stats GROUP BY user_id
"""


def osm_hashtag_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.rollups import hashtag_statistics

    hs = hashtag_statistics(_stats_df(spark))
    return hs.select(
        "hashtag",
        F.col("changeset_count").cast("bigint").alias("changeset_count"),
        F.col("edit_count").cast("bigint").alias("edit_count"),
    )


OSM_HASHTAG_STATISTICS_SQL = f"""
    WITH {_STATS_PROLOGUE},
    expl AS (SELECT unnest(hs) AS hashtag, total_edits FROM cs_stats)
    SELECT hashtag,
           COUNT(*)::BIGINT AS changeset_count,
           SUM(total_edits)::BIGINT AS edit_count
    FROM expl GROUP BY hashtag
"""


def osm_country_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.rollups import country_statistics

    cs = country_statistics(_stats_df(spark))
    return cs.select(
        "code",
        F.col("changeset_count").cast("bigint").alias("changeset_count"),
        F.col("edit_count").cast("bigint").alias("edit_count"),
    )


def osm_hashtag_user_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.rollups import hashtag_user_statistics

    hu = hashtag_user_statistics(_stats_df(spark))
    return hu.select(
        "hashtag",
        F.col("user_id").cast("bigint").alias("user_id"),
        F.col("changeset_count").cast("bigint").alias("changeset_count"),
        F.col("edit_count").cast("bigint").alias("edit_count"),
    )


OSM_HASHTAG_USER_STATISTICS_SQL = f"""
    WITH {_STATS_PROLOGUE},
    expl AS (SELECT unnest(hs) AS hashtag, user_id, total_edits FROM cs_stats)
    SELECT hashtag, user_id::BIGINT AS user_id,
           COUNT(*)::BIGINT AS changeset_count,
           SUM(total_edits)::BIGINT AS edit_count
    FROM expl GROUP BY hashtag, user_id
"""


# country edit counts per changeset = geocoded feature counts; re-derive in
# SQL from node + way centroids with the same polygon ray-cast the engine's
# stats pipeline runs (true borders incl. the concave country)
def _geocode_pts_union_sql() -> str:
    parts = []
    for code, ring in sorted(datagen.COUNTRY_POLYGONS.items()):
        parts.append(
            f"SELECT changeset, '{code}' AS code FROM pts "
            f"WHERE {_raycast_cond(ring, 'cx', 'cy')}"
        )
    return "\n        UNION ALL\n        ".join(parts)


OSM_COUNTRY_STATISTICS_SQL = f"""
    WITH {_NV_CTE}, {_WAYVERT_CTE},
    node_pts AS (
        SELECT h.changeset, h.lon AS cx, h.lat AS cy
        FROM read_parquet('{_HISTORY}') h
        WHERE h.type = 'node' AND h.lat IS NOT NULL AND h.lon IS NOT NULL
          AND cardinality(h.tags) > 0),
    way_pts AS (
        SELECT wcs AS changeset, clon / nverts AS cx, clat / nverts AS cy
        FROM wv WHERE cardinality(wtags) > 0),
    pts AS (SELECT * FROM node_pts UNION ALL SELECT * FROM way_pts),
    coded AS ({_geocode_pts_union_sql()}),
    per_cs AS (
        SELECT changeset, code, COUNT(*)::BIGINT AS edits
        FROM coded GROUP BY changeset, code)
    SELECT code,
           COUNT(*)::BIGINT AS changeset_count,
           SUM(edits)::BIGINT AS edit_count
    FROM per_cs GROUP BY code
"""


_CSDUMP_DIR = os.path.join(FIXTURE_DIR, "csdump")


def ensure_csdump_fixtures() -> None:
    if not os.path.exists(os.path.join(_CSDUMP_DIR, "changesets.csv")):
        datagen.write_changeset_db_csvs(_CSDUMP_DIR, n_changesets=300, seed=42)


def osm_changeset_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ChangesetMetadataCreator end-to-end (scala:107-231): 4 CSV dumps →
    assembled changesets table, projected to a deterministic flattening
    (tags as sorted k=v string, comments as a sorted signature string,
    timestamps as formatted strings) so the cross-engine hash is stable."""
    from osmesa_spark import apps as A

    ensure_csdump_fixtures()
    full = A.changeset_metadata_creator(
        spark,
        os.path.join(_CSDUMP_DIR, "changesets.csv"),
        os.path.join(_CSDUMP_DIR, "changeset_comments.csv"),
        os.path.join(_CSDUMP_DIR, "changeset_tags.csv"),
        os.path.join(_CSDUMP_DIR, "users.csv"),
    )
    tags_kv = F.coalesce(
        F.array_join(
            F.transform(
                F.array_sort(F.map_keys("tags")),
                lambda k: F.concat(k, F.lit("="), F.col("tags")[k]),
            ),
            "|",
        ),
        F.lit(""),
    )
    comment_sig = F.coalesce(
        F.array_join(
            F.array_sort(
                F.transform(
                    "comments",
                    lambda c: F.concat_ws(
                        "~",
                        F.date_format(c["date"], "yyyy-MM-dd HH:mm:ss"),
                        c["uid"].cast("string"),
                        F.coalesce(c["user"], F.lit("?")),
                        c["body"],
                    ),
                )
            ),
            ";",
        ),
        F.lit(""),
    )
    return full.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("uid").cast("bigint").alias("uid"),
        F.col("user"),
        F.date_format("createdAt", "yyyy-MM-dd HH:mm:ss").alias("created_s"),
        F.coalesce(
            F.date_format("closedAt", "yyyy-MM-dd HH:mm:ss"), F.lit("")
        ).alias("closed_s"),
        "minLat",
        "minLon",
        "maxLat",
        "maxLon",
        F.col("numChanges").cast("int").alias("numChanges"),
        F.col("commentsCount").cast("int").alias("commentsCount"),
        tags_kv.alias("tags_kv"),
        comment_sig.alias("comments_sig"),
        F.col("sequence").cast("int").alias("sequence"),
    )


def _csdump_sql() -> str:
    ensure_csdump_fixtures()
    cs = os.path.join(_CSDUMP_DIR, "changesets.csv")
    cm = os.path.join(_CSDUMP_DIR, "changeset_comments.csv")
    tg = os.path.join(_CSDUMP_DIR, "changeset_tags.csv")
    us = os.path.join(_CSDUMP_DIR, "users.csv")
    return f"""
    WITH users AS (
        SELECT id::BIGINT AS uid, display_name AS name
        FROM read_csv('{us}', header=true)),
    tg AS (
        SELECT changeset_id::BIGINT AS id,
               string_agg(k || '=' || v, '|' ORDER BY k, v) AS tags_kv
        FROM read_csv('{tg}', header=true) GROUP BY changeset_id),
    cm AS (
        SELECT c.changeset_id::BIGINT AS id,
               COUNT(*)::INT AS commentsCount,
               string_agg(
                   strftime(c.created_at, '%Y-%m-%d %H:%M:%S') || '~' ||
                   c.author_id::BIGINT || '~' ||
                   COALESCE(u.name, '?') || '~' || c.body,
                   ';'
                   ORDER BY strftime(c.created_at, '%Y-%m-%d %H:%M:%S')
                            || '~' || c.author_id::BIGINT || '~' ||
                            COALESCE(u.name, '?') || '~' || c.body
               ) AS comments_sig
        FROM read_csv('{cm}', header=true) c
        LEFT JOIN users u ON c.author_id::BIGINT = u.uid
        GROUP BY c.changeset_id),
    cs AS (SELECT * FROM read_csv('{cs}', header=true))
    SELECT cs.id::BIGINT AS id,
           cs.user_id::BIGINT AS uid,
           u.name AS "user",
           strftime(cs.created_at, '%Y-%m-%d %H:%M:%S') AS created_s,
           COALESCE(strftime(cs.closed_at, '%Y-%m-%d %H:%M:%S'), '')
               AS closed_s,
           cs.min_lat::DOUBLE / 1e7 AS minLat,
           cs.min_lon::DOUBLE / 1e7 AS minLon,
           cs.max_lat::DOUBLE / 1e7 AS maxLat,
           cs.max_lon::DOUBLE / 1e7 AS maxLon,
           cs.num_changes::INT AS numChanges,
           COALESCE(cm.commentsCount, 0)::INT AS commentsCount,
           COALESCE(tg.tags_kv, '') AS tags_kv,
           COALESCE(cm.comments_sig, '') AS comments_sig,
           -1::INT AS sequence
    FROM cs
    LEFT JOIN users u ON cs.user_id::BIGINT = u.uid
    LEFT JOIN cm ON cm.id = cs.id::BIGINT
    LEFT JOIN tg ON tg.id = cs.id::BIGINT
    """


def register_osm_queries(register) -> None:
    register(
        "osm_node_validity",
        OSM_NODE_VALIDITY_SQL,
        doc="preprocess validity windows (validUntil lead) — ProcessOSM parity (W-family)",
    )(osm_node_validity)
    register(
        "osm_snapshot_asof",
        OSM_SNAPSHOT_ASOF_SQL,
        doc="element state as of T via validity-interval filter (snapshot "
        "schema parity, updater/schemas/Snapshot.scala) — no join, no argmax",
    )(osm_snapshot_asof)
    register(
        "osm_way_reconstruction",
        OSM_WAY_RECONSTRUCTION_SQL,
        doc="way geometry reconstruction: posexplode nds + temporal join + area rule — "
        "reconstructWayGeometries parity (J5/J6/A6)",
    )(osm_way_reconstruction)
    register(
        "osm_way_tile_cover",
        _way_tile_cover_sql(),
        doc="per-element MVT updater fan-out (G11 pre-encode DataFrame, "
        "updater/package.scala:182-208): reconstructed way versions keyed "
        "to EVERY covering (tx, ty) at zoom 4 through diffs_with_tiles — "
        "bbox pixel cover + explode(sequence(lo,hi)); oracle replays "
        "bbox→pixel→tile-range via vertex min/max monotonicity + "
        "generate_series",
    )(osm_way_tile_cover)
    register(
        "osm_way_tile_cover_pyramid",
        _way_tile_cover_pyramid_sql(),
        doc="MULTI-zoom updater fan-out (TileUpdater CLI zoom range): one "
        "reconstructed-way frame fanned to covering tiles at zooms 2-4 "
        "via the same per-zoom union update_tiles plans — single-shuffle "
        "pyramid shape; recon localCheckpointed once for its 3 consumers; "
        "oracle = per-zoom CTE chains UNION ALL",
    )(osm_way_tile_cover_pyramid)
    register(
        "osm_changeset_stats",
        OSM_CHANGESET_STATS_SQL,
        doc="FULL changeset-stats pipeline incl. way reconstruction, tag predicates, "
        "map rollup, metadata join — ChangesetStatsCreator parity",
    )(osm_changeset_stats)
    register(
        "osm_utm_area",
        _osm_utm_area_sql(),
        doc="TRUE UTM planar ring areas (transformLatLngToUtm + shoelace "
        "parity, stats/package.scala:17-32,49-60) as Column trig — zone "
        "from the ring centroid, Snyder series projection, planar "
        "shoelace; emitted as magnitude + UTM/spherical ratio so the "
        "cross-engine hash is libm-ULP-proof",
    )(osm_utm_area)
    register(
        "osm_geocode",
        OSM_GEOCODE_SQL,
        doc="broadcast TRUE point-in-polygon geocode (J10) — Countries.scala "
        "parity: pure-Column even-odd ray-cast over literal vertex arrays "
        "(envelope pre-check, then crossing count), exercised on a concave "
        "country where bbox containment gives the wrong answer",
    )(osm_geocode)
    register(
        "osm_geocode_grid",
        OSM_GEOCODE_GRID_SQL,
        doc="GRID-dispatched geocode (the 100 TB shape): 40 countries > "
        "dispatch threshold, so the broadcast coarse-grid cell index path "
        "runs — interior-cell short-circuit, candidate-only ray-cast — "
        "and must agree with the 40-way literal ray-cast oracle",
    )(osm_geocode_grid)
    register(
        "osm_geocode_realworld",
        _rw_geocode_sql,  # callable: fixture generation deferred to first use
        doc="geocode at the reference's REAL fan-out (Countries.scala:17-33 "
        "311-country resource): generated realistic countries.geojson "
        "(concave thousand-vertex mainlands, lakes as holes, archipelago "
        "MultiPolygons, '-99'/duplicate-code property edge cases) through "
        "load_countries_geojson's keyhole fold into the broadcast grid "
        "index, probed by an sf-scaled world lattice of points; oracle "
        "ray-casts a data-driven edges parquet derived from the loader's "
        "own output (bit-identical doubles)",
    )(osm_geocode_realworld)
    register(
        "osm_hashtags",
        OSM_HASHTAGS_SQL,
        doc="hashtags() + merge_sets() extraction (§2.8 string) parity",
    )(osm_hashtags)
    register(
        "osm_tile_pyramid",
        OSM_TILE_PYRAMID_SQL,
        doc="vector-grid tile + pyramid (G1-G5): per-zoom Web-Mercator densities",
    )(osm_tile_pyramid)
    register(
        "osm_user_footprint",
        OSM_USER_FOOTPRINT_SQL,
        doc="per-user tiled edit footprint (FootprintCreator parity): the "
        "FACETED vector-grid pyramid — facet key rides the single "
        "partial-agg shuffle per level; oracle re-derives every level "
        "independently from the points",
    )(osm_user_footprint)
    register(
        "osm_user_statistics",
        OSM_USER_STATISTICS_SQL,
        doc="user_statistics materialized view (A15) over the stats pipeline",
    )(osm_user_statistics)
    register(
        "osm_hashtag_statistics",
        OSM_HASHTAG_STATISTICS_SQL,
        doc="hashtag_statistics materialized view (A15): explode hashtags + rollup",
    )(osm_hashtag_statistics)
    register(
        "osm_country_statistics",
        OSM_COUNTRY_STATISTICS_SQL,
        doc="country_statistics materialized view (A15/J10): geocoded rollup",
    )(osm_country_statistics)
    register(
        "osm_hashtag_user_statistics",
        OSM_HASHTAG_USER_STATISTICS_SQL,
        doc="hashtag_user_statistics materialized view (A15): per (hashtag, user) rollup",
    )(osm_hashtag_user_statistics)
    register(
        "osm_changeset_metadata",
        _csdump_sql,  # callable: CSV-dump fixture deferred to first use
        doc="ChangesetMetadataCreator end-to-end app (scala:107-231): 4 "
        "OSM-DB CSV dumps (multiline-quoted comment bodies) → assembled "
        "changesets table — tags k/v→map, comments→sorted struct array + "
        "count, bbox ÷1e7, user names left-joined, sequence=-1",
    )(osm_changeset_metadata)
    register(
        "osm_relation_members",
        OSM_RELATION_MEMBERS_SQL,
        doc="multipolygon member resolution: temporal join of relation "
        "members to reconstructed way versions (J6 on member ref)",
    )(osm_relation_members)
    register(
        "osm_relation_members_deep",
        OSM_RELATION_MEMBERS_DEEP_SQL,
        doc="multipolygon member resolution at the RELATION timestamp: the "
        "member way version AND its node coordinates both resolve at the "
        "relation's own timestamp (reference-exact semantics; removes the "
        "way-timestamp simplification the plain row documents)",
    )(osm_relation_members_deep)
    register(
        "osm_relation_assembly",
        OSM_RELATION_ASSEMBLY_SQL,
        doc="multipolygon assembly: stitched closed rings per relation. The "
        "greedy stitcher's OUTPUT is order-independent on degree-≤2 "
        "endpoint graphs, so the oracle recomputes it as closed members + "
        "simple-cycle components (recursive min-label closure over the "
        "endpoint graph) — upgrading this from a rows-only check to a "
        "full hash match; the stitcher itself stays property-tested for "
        "arbitrary segment order/orientation",
    )(osm_relation_assembly)
    register(
        "osm_relation_assembly_deep",
        OSM_RELATION_ASSEMBLY_DEEP_SQL,
        doc="multipolygon assembly over RELATION-timestamp member "
        "geometries (relation_members_deep feeding the same stitch "
        "kernel) — the reference-exact twin of osm_relation_assembly; "
        "oracle derived from the plain assembly SQL by swapping only the "
        "vertex-resolution CTE, so the cycle model cannot drift",
    )(osm_relation_assembly_deep)
    register(
        "osm_changeset_duration",
        OSM_CHANGESET_DURATION_SQL,
        doc="changeset open-duration profile (5 bands up to the 24 h "
        "auto-close horizon) with per-band edit-count/duration averages — "
        "integer epoch-second bands, one projection + 5-row agg "
        "(community-analytics extension)",
    )(osm_changeset_duration)
    register(
        "osm_map_age",
        OSM_MAP_AGE_SQL,
        doc="map freshness at the snapshot instant: integer-day age of "
        "every visible element's last edit, count/min/median/max — the "
        "staleness readout next to the churn diff; validity-interval "
        "pushdown + one summary row (QA extension)",
    )(osm_map_age)
    register(
        "osm_geometry_validity",
        OSM_GEOMETRY_VALIDITY_SQL,
        doc="geometry QA report over reconstructed way versions "
        "(degenerate / closed ring / closed line / open line, with "
        "vertex-count averages) — the audit before trusting area/length "
        "rollups; one projection + 4-row class agg (QA extension)",
    )(osm_geometry_validity)
    register(
        "osm_power_users",
        OSM_POWER_USERS_SQL,
        doc="edit-concentration (Pareto) profile: cumulative edit share "
        "per user decile — per-uid agg, rank window over the small "
        "per-user frame, broadcast total; integer cumulative sums "
        "(community-analytics extension)",
    )(osm_power_users)
    register(
        "osm_user_retention",
        OSM_USER_RETENTION_SQL,
        doc="cohort-retention triangle (first-edit-month cohorts × active "
        "months): one distinct (uid, month) projection, per-uid min, id "
        "equi-join, one partial agg — integer month indices keep the "
        "offsets engine-portable (community-analytics extension)",
    )(osm_user_retention)
    register(
        "osm_snapshot_diff",
        OSM_SNAPSHOT_DIFF_SQL,
        doc="element churn between two as-of snapshots (created / deleted "
        "/ modified) — two validity-interval filters + one full-outer id "
        "join, output O(churn) not O(corpus); the OSMCha-style audit of a "
        "time window built on the same validUntil windows as "
        "osm_snapshot_asof",
    )(osm_snapshot_diff)
    register(
        "osm_coedit_pagerank",
        _pagerank_sql(),
        doc="iterative graph analytics: 3 damped PageRank rounds over the "
        "user co-edit graph, expressed as UNROLLED joins + partial aggs "
        "(star-CC discipline, no per-element driver work); per-round 9dp "
        "rounding quantizes away cross-engine float-sum ordering; oracle "
        "unrolls the identical rounds as CTEs (graph-analytics extension)",
    )(osm_coedit_pagerank)


SNAPSHOT_T = "2023-03-15 00:00:00"


def osm_snapshot_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element state as of T — the snapshot semantics of the reference's
    updater snapshot schema (src/analytics/.../updater/schemas/Snapshot.scala:
    latest visible version wins). Validity windows turn the as-of into a
    pure interval filter: no join, no argmax — preprocess assigns
    validUntil once (one window pass) and every snapshot query afterwards
    is a scan-filter that Catalyst can push down."""
    nodes = P.preprocess_nodes(_history(spark))
    t = F.to_timestamp(F.lit(SNAPSHOT_T))
    return (
        nodes.where(
            (F.col("timestamp") <= t)
            & (F.coalesce(F.col("validUntil") > t, F.lit(True)))
            & F.col("visible")
        )
        .select(
            "id",
            F.col("version").cast("int").alias("version"),
            F.round("lat", 7).alias("lat"),
            F.round("lon", 7).alias("lon"),
        )
    )


OSM_SNAPSHOT_ASOF_SQL = f"""
    WITH {_NV_CTE}
    SELECT id, version::INT AS version,
           ROUND(lat, 7) AS lat, ROUND(lon, 7) AS lon
    FROM nv
    WHERE timestamp <= TIMESTAMP '{SNAPSHOT_T}'
      AND COALESCE(valid_until > TIMESTAMP '{SNAPSHOT_T}', TRUE)
      AND visible
"""


def osm_changeset_duration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Editing-behavior profile: closed changesets bucketed by open
    duration (<5 m / <30 m / <2 h / <24 h / ≥24 h — the last band is the
    auto-close horizon the streaming state bound mirrors), with edit-count
    and duration averages per band. Integer epoch-second arithmetic so the
    bands are engine-portable; one projection + one 5-row aggregation."""
    cs = _changesets(spark)
    dur = (
        F.unix_timestamp("closedAt") - F.unix_timestamp("createdAt")
    ).cast("bigint")
    band = (
        F.when(dur < 5 * 60, "a_under_5m")
        .when(dur < 30 * 60, "b_under_30m")
        .when(dur < 2 * 3600, "c_under_2h")
        .when(dur < 24 * 3600, "d_under_24h")
        .otherwise("e_over_24h")
    )
    return (
        cs.where(F.col("closedAt").isNotNull())
        .select(
            band.alias("duration_band"),
            dur.alias("dur_s"),
            F.col("numChanges").cast("bigint").alias("nc"),
        )
        .groupBy("duration_band")
        .agg(
            F.count(F.lit(1)).alias("n_changesets"),
            F.round(F.avg("nc"), 2).alias("avg_num_changes"),
            F.round(F.avg(F.col("dur_s") / 60.0), 2).alias(
                "avg_duration_min"
            ),
        )
        .orderBy("duration_band")
    )


OSM_CHANGESET_DURATION_SQL = f"""
    WITH cs AS (
        SELECT (FLOOR(EPOCH(closedAt))::BIGINT
                - FLOOR(EPOCH(createdAt))::BIGINT) AS dur_s,
               numChanges::BIGINT AS nc
        FROM read_parquet('{_CHANGESETS}')
        WHERE closedAt IS NOT NULL),
    banded AS (
        SELECT CASE WHEN dur_s < 300 THEN 'a_under_5m'
                    WHEN dur_s < 1800 THEN 'b_under_30m'
                    WHEN dur_s < 7200 THEN 'c_under_2h'
                    WHEN dur_s < 86400 THEN 'd_under_24h'
                    ELSE 'e_over_24h' END AS duration_band,
               dur_s, nc
        FROM cs)
    SELECT duration_band,
           COUNT(*)::BIGINT AS n_changesets,
           ROUND(AVG(nc), 2) AS avg_num_changes,
           ROUND(AVG(dur_s / 60.0), 2) AS avg_duration_min
    FROM banded GROUP BY duration_band ORDER BY duration_band
"""


SNAPSHOT_T2 = "2023-07-01 00:00:00"


def osm_map_age(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map freshness at the snapshot instant: for every element visible at
    T, full days since its last edit, summarized per type as count +
    min/median/max age — the 'how stale is this map' readout next to the
    churn diff. The current-version filter is the same validity-interval
    pushdown as osm_snapshot_asof; ages are integer day floors so the
    summary is engine-exact (median over an odd/even count uses the
    discrete convention via percentile_approx-exactness at test scale)."""
    nodes = P.preprocess_nodes(_history(spark))
    t = F.to_timestamp(F.lit(SNAPSHOT_T2))
    age_days = F.floor(
        (F.unix_timestamp(t) - F.unix_timestamp("timestamp"))
        / F.lit(86400)
    ).cast("int")
    current = nodes.where(
        (F.col("timestamp") <= t)
        & (F.coalesce(F.col("validUntil") > t, F.lit(True)))
        & F.col("visible")
    )
    q = F.percentile_approx("age_days", F.lit(0.5), F.lit(1_000_000))
    return (
        current.select(age_days.alias("age_days"))
        .agg(
            F.count(F.lit(1)).alias("n_elements"),
            F.min("age_days").alias("min_age_days"),
            q.cast("int").alias("median_age_days"),
            F.max("age_days").alias("max_age_days"),
        )
    )


OSM_MAP_AGE_SQL = f"""
    WITH {_NV_CTE},
    cur AS (
        SELECT FLOOR((EPOCH(TIMESTAMP '{SNAPSHOT_T2}')
                      - FLOOR(EPOCH(timestamp))) / 86400)::INT AS age_days
        FROM nv
        WHERE timestamp <= TIMESTAMP '{SNAPSHOT_T2}'
          AND COALESCE(valid_until > TIMESTAMP '{SNAPSHOT_T2}', TRUE)
          AND visible)
    SELECT COUNT(*)::BIGINT AS n_elements,
           MIN(age_days) AS min_age_days,
           quantile_disc(age_days, 0.5)::INT AS median_age_days,
           MAX(age_days) AS max_age_days
    FROM cur
"""


def osm_power_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-concentration (Pareto) profile: users ranked by edit count,
    reported as cumulative share of all edits at each decile of the user
    base — the 'mapping is done by a tiny core' readout every OSM
    community report carries. One per-uid agg, one rank window over the
    (small) per-user frame, one broadcast total; integer edit counts make
    the cumulative sums engine-exact, only the final share divides."""
    h = _history(spark)
    per = h.groupBy("uid").agg(F.count(F.lit(1)).alias("n_edits"))
    from pyspark.sql import Window as W

    w = W.orderBy(F.col("n_edits").desc(), "uid")
    ranked = per.select(
        "uid", "n_edits",
        F.row_number().over(w).alias("rk"),
        F.sum("n_edits").over(
            w.rowsBetween(W.unboundedPreceding, W.currentRow)
        ).alias("cum_edits"),
    )
    totals = per.agg(
        F.sum("n_edits").cast("double").alias("total_edits"),
        F.count(F.lit(1)).alias("n_users"),
    )
    decile = F.ceil(F.col("rk") * 10 / F.col("n_users")).cast("int")
    return (
        ranked.crossJoin(F.broadcast(totals))
        .groupBy(decile.alias("user_decile"))
        .agg(
            F.count(F.lit(1)).alias("n_users_in_decile"),
            F.max("cum_edits").cast("bigint").alias("cum_edits"),
            F.round(
                F.max("cum_edits") / F.max("total_edits"), 4
            ).alias("cum_edit_share"),
        )
        .orderBy("user_decile")
    )


OSM_POWER_USERS_SQL = f"""
    WITH per AS (
        SELECT uid, COUNT(*)::BIGINT AS n_edits
        FROM read_parquet('{_HISTORY}') GROUP BY uid),
    ranked AS (
        SELECT uid, n_edits,
               ROW_NUMBER() OVER (ORDER BY n_edits DESC, uid) AS rk,
               SUM(n_edits) OVER (ORDER BY n_edits DESC, uid
                                  ROWS UNBOUNDED PRECEDING) AS cum_edits
        FROM per),
    totals AS (SELECT SUM(n_edits)::DOUBLE AS total_edits,
                      COUNT(*) AS n_users FROM per)
    SELECT CEIL(rk * 10.0 / totals.n_users)::INT AS user_decile,
           COUNT(*)::BIGINT AS n_users_in_decile,
           MAX(cum_edits)::BIGINT AS cum_edits,
           ROUND(MAX(cum_edits) / MAX(total_edits), 4) AS cum_edit_share
    FROM ranked, totals
    GROUP BY user_decile ORDER BY user_decile
"""


def osm_user_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic cohort-retention triangle over the edit history: users
    cohorted by their first-edit month, counted as active in each
    subsequent month they edited. The community-health readout every OSM
    (and product) analytics stack keeps.

    Shape: one distinct (uid, month-index) projection of the history, a
    per-uid min for the cohort, an id equi-join back, and one
    (cohort, offset) partial agg — month indices are integer
    year·12+month so the offsets are engine-portable integer math, no
    interval arithmetic."""
    h = _history(spark)
    mi = (F.year("timestamp") * 12 + F.month("timestamp")).cast("int")
    activity = h.select(F.col("uid"), mi.alias("m")).distinct()
    cohort = activity.groupBy("uid").agg(F.min("m").alias("m0"))
    return (
        activity.join(cohort, "uid")
        .groupBy(
            F.col("m0").alias("cohort_month"),
            (F.col("m") - F.col("m0")).alias("months_since"),
        )
        .agg(F.count(F.lit(1)).alias("n_active"))
        .orderBy("cohort_month", "months_since")
    )


OSM_USER_RETENTION_SQL = f"""
    WITH act AS (
        SELECT DISTINCT uid,
               (EXTRACT(year FROM timestamp) * 12
                + EXTRACT(month FROM timestamp))::INT AS m
        FROM read_parquet('{_HISTORY}')),
    cohort AS (SELECT uid, MIN(m) AS m0 FROM act GROUP BY uid)
    SELECT cohort.m0 AS cohort_month,
           (act.m - cohort.m0)::INT AS months_since,
           COUNT(*)::BIGINT AS n_active
    FROM act JOIN cohort USING (uid)
    GROUP BY cohort_month, months_since
    ORDER BY cohort_month, months_since
"""


def osm_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Element churn between two as-of snapshots — the OSMCha-style audit
    of what changed in a time window, built ENTIRELY from the validity
    intervals (no per-version scan of the window): each snapshot is the
    same pushdown-friendly interval filter as `osm_snapshot_asof`, and the
    diff is one full-outer id equi-join of two ≤|elements| frames.

    Classification: created (not visible at T1, visible at T2), deleted
    (visible at T1, gone/invisible at T2), modified (visible at both with
    a different version). Unchanged elements drop out, so the output is
    O(churn), not O(corpus)."""
    nodes = P.preprocess_nodes(_history(spark))

    def at(ts: str, suffix: str) -> DataFrame:
        t = F.to_timestamp(F.lit(ts))
        return nodes.where(
            (F.col("timestamp") <= t)
            & (F.coalesce(F.col("validUntil") > t, F.lit(True)))
        ).select(
            "id",
            F.col("version").cast("int").alias(f"v{suffix}"),
            F.col("visible").alias(f"vis{suffix}"),
        )

    s1, s2 = at(SNAPSHOT_T, "1"), at(SNAPSHOT_T2, "2")
    j = s1.join(s2, "id", "full_outer")
    vis1 = F.coalesce("vis1", F.lit(False))
    vis2 = F.coalesce("vis2", F.lit(False))
    change = (
        F.when(~vis1 & vis2, "created")
        .when(vis1 & ~vis2, "deleted")
        .when(vis1 & vis2 & (F.col("v1") != F.col("v2")), "modified")
    )
    return (
        j.select("id", "v1", "v2", change.alias("change_type"))
        .where(F.col("change_type").isNotNull())
        .orderBy("id")
    )


OSM_SNAPSHOT_DIFF_SQL = f"""
    WITH {_NV_CTE},
    s1 AS (SELECT id, version::INT AS v1, visible AS vis1 FROM nv
           WHERE timestamp <= TIMESTAMP '{SNAPSHOT_T}'
             AND COALESCE(valid_until > TIMESTAMP '{SNAPSHOT_T}', TRUE)),
    s2 AS (SELECT id, version::INT AS v2, visible AS vis2 FROM nv
           WHERE timestamp <= TIMESTAMP '{SNAPSHOT_T2}'
             AND COALESCE(valid_until > TIMESTAMP '{SNAPSHOT_T2}', TRUE)),
    j AS (
        SELECT COALESCE(s1.id, s2.id) AS id, v1, v2,
               COALESCE(vis1, FALSE) AS vis1, COALESCE(vis2, FALSE) AS vis2
        FROM s1 FULL OUTER JOIN s2 ON s1.id = s2.id)
    SELECT id, v1, v2,
           CASE WHEN NOT vis1 AND vis2 THEN 'created'
                WHEN vis1 AND NOT vis2 THEN 'deleted'
                WHEN vis1 AND vis2 AND v1 <> v2 THEN 'modified'
           END AS change_type
    FROM j
    WHERE (NOT vis1 AND vis2) OR (vis1 AND NOT vis2)
       OR (vis1 AND vis2 AND v1 <> v2)
    ORDER BY id
"""


# ---------------------------------------------------------------------------
# Iterative graph analytics: PageRank over the co-editor graph
# ---------------------------------------------------------------------------

_PR_DAMPING = 0.85
_PR_ITERS = 3


def osm_coedit_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank over the user co-edit graph — the iterative-algorithm
    family expressed as UNROLLED joins (the same discipline as the star-CC
    kernel: per-round plans are joins + partial aggs, nothing driver-side
    per element).

    Graph: an undirected edge links a way's author to the authors of the
    nodes the way references (nds explode → node-id equi-join, the
    inverted-index shape of `osm_way_reconstruction`) — the collaboration
    signal that a way build depends on someone else's node work.
    Symmetrizing means no dangling nodes, so no dangling-mass
    redistribution term is needed. Three damped rounds
    (d=0.85): pr' = (1−d)/N + d·Σ pr(v)/deg(v); every round's output is
    rounded to 9dp so cross-engine float-sum ordering noise is quantized
    away (the kmeans rounding discipline).

    Scale shape: deg and the per-round contribution are (node)-keyed
    partial aggs; the N scalar is a broadcast single-row aggregate; a
    convergence-loop variant would localCheckpoint per round exactly like
    `connected_components_star`. Fixed-round unrolling keeps the whole
    thing one Catalyst plan (and one SQL statement for the oracle)."""
    h = _history(spark)
    ways = (
        h.where(F.col("type") == "way")
        .select("uid", F.explode("nds").alias("ref"))
        .distinct()
    )
    nodes_auth = (
        h.where(F.col("type") == "node").select("id", "uid").distinct()
    )
    directed = (
        ways.join(
            nodes_auth.select(
                F.col("id").alias("ref"), F.col("uid").alias("nuid")
            ),
            "ref",
        )
        .where(F.col("uid") != F.col("nuid"))
        .select(F.col("uid").alias("s"), F.col("nuid").alias("d"))
    )
    # The edge list feeds every round's contribution join plus deg/nodes/
    # nsc — unrolled, Catalyst re-expands the scan→explode→join→distinct
    # subtree per mention (246 Exchange nodes / 120 scans in the captured
    # before-plan; ReuseExchange dedupes at runtime but analysis+codegen
    # over the 4,000-line plan is serial driver time). One lazy
    # localCheckpoint materializes the edges in the first consumer's job
    # and collapses every round to joins over the checkpoint scan — the
    # same pin `connected_components_star` carries. 9dp per-round rounding
    # keeps values bit-identical.
    pairs = (
        directed.unionByName(
            directed.select(F.col("d").alias("s"), F.col("s").alias("d"))
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    deg = pairs.groupBy("s").agg(F.count(F.lit(1)).alias("deg"))
    nodes = pairs.select(F.col("s").alias("uid")).distinct()
    nsc = nodes.agg(F.count(F.lit(1)).cast("double").alias("n"))
    pr = nodes.crossJoin(F.broadcast(nsc)).select(
        "uid", F.round(F.lit(1.0) / F.col("n"), 9).alias("pr")
    )
    for _ in range(_PR_ITERS):
        contrib = (
            pairs.join(deg, "s")
            .join(pr.select(F.col("uid").alias("s"), "pr"), "s")
            .groupBy("d")
            .agg(F.sum(F.col("pr") / F.col("deg")).alias("c"))
            .withColumnRenamed("d", "uid")
        )
        pr = (
            nodes.crossJoin(F.broadcast(nsc))
            .join(contrib, "uid", "left")
            .select(
                "uid",
                F.round(
                    F.lit(1.0 - _PR_DAMPING) / F.col("n")
                    + F.lit(_PR_DAMPING) * F.coalesce("c", F.lit(0.0)),
                    9,
                ).alias("pr"),
            )
        )
    return pr.join(deg, pr.uid == deg.s).select(
        "uid",
        F.col("deg").cast("bigint").alias("degree"),
        F.round("pr", 6).alias("pagerank"),
    )


def _pagerank_sql() -> str:
    rounds = []
    prev = "pr0"
    for i in range(1, _PR_ITERS + 1):
        rounds.append(f"""
    c{i} AS (
        SELECT p.d, SUM(pr.pr / deg.deg) AS c
        FROM pairs p JOIN deg ON deg.s = p.s
        JOIN {prev} pr ON pr.uid = p.s
        GROUP BY p.d),
    pr{i} AS (
        SELECT nodes.uid,
               ROUND({1.0 - _PR_DAMPING!r} / n.n
                     + {_PR_DAMPING!r} * COALESCE(c{i}.c, 0.0), 9) AS pr
        FROM nodes CROSS JOIN n LEFT JOIN c{i} ON c{i}.d = nodes.uid)""")
        prev = f"pr{i}"
    return f"""
    WITH ways AS (
        SELECT DISTINCT uid, unnest(nds) AS ref
        FROM read_parquet('{_HISTORY}') WHERE type = 'way'),
    nodes_auth AS (
        SELECT DISTINCT id, uid FROM read_parquet('{_HISTORY}')
        WHERE type = 'node'),
    directed AS (
        SELECT w.uid AS s, n.uid AS d
        FROM ways w JOIN nodes_auth n ON n.id = w.ref
        WHERE w.uid <> n.uid),
    pairs AS (
        SELECT DISTINCT s, d FROM (
            SELECT s, d FROM directed
            UNION ALL
            SELECT d AS s, s AS d FROM directed)),
    deg AS (SELECT s, COUNT(*)::BIGINT AS deg FROM pairs GROUP BY s),
    nodes AS (SELECT DISTINCT s AS uid FROM pairs),
    n AS (SELECT COUNT(*)::DOUBLE AS n FROM nodes),
    pr0 AS (SELECT uid, ROUND(1.0 / n.n, 9) AS pr
            FROM nodes CROSS JOIN n),{",".join(rounds)}
    SELECT {prev}.uid, deg.deg AS degree, ROUND({prev}.pr, 6) AS pagerank
    FROM {prev} JOIN deg ON deg.s = {prev}.uid
    """


def osm_tag_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tag-key co-occurrence matrix over the LATEST visible version of
    every element — the 'which tags travel together' readout behind
    taginfo's combinations tab. Latest-version selection is a partial-agg
    argmax (max_by over version, no window sort); unordered key pairs are
    built ROW-LOCALLY from the sorted key array (nested transform +
    flatten — at most k·(k−1)/2 structs for a k-tag element, and OSM
    elements carry few tags); one pair-keyed count agg; deterministic
    top-20 by (count desc, k1, k2)."""
    h = _history(spark)
    latest = (
        h.groupBy("type", "id")
        .agg(
            F.max_by(
                F.struct(F.col("visible"), F.col("tags")), F.col("version")
            ).alias("s")
        )
        .where(F.col("s.visible"))
        .select(F.col("s.tags").alias("tags"))
    )
    from osmesa_spark.functions.text import _let
    from osmesa_spark.operators.dedup import _pair_combinations

    ks = F.array_sort(F.map_keys(F.col("tags")))
    # let-bind the sorted key array: referencing `ks` inside the pair
    # lambdas re-derived map_keys+array_sort per pair position
    pairs = _let(
        ks,
        lambda k: _pair_combinations(
            k, lambda k1, k2: F.struct(k1.alias("k1"), k2.alias("k2"))
        ),
    )
    return (
        latest.where(F.size(ks) >= 2)
        .select(F.explode(pairs).alias("p"))
        .groupBy(F.col("p.k1").alias("k1"), F.col("p.k2").alias("k2"))
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), "k1", "k2")
        .limit(20)
    )


OSM_TAG_COOCCURRENCE_SQL = f"""
    WITH latest AS (
        SELECT type, id, tags FROM (
            SELECT type, id, tags, visible,
                   ROW_NUMBER() OVER (PARTITION BY type, id
                                      ORDER BY version DESC) AS rn
            FROM read_parquet('{_HISTORY}'))
        WHERE rn = 1 AND visible),
    ks AS (SELECT list_sort(map_keys(tags)) AS ks FROM latest
           WHERE len(map_keys(tags)) >= 2),
    pairs AS (
        SELECT ks[u.i] AS k1, ks[v.j] AS k2
        FROM ks,
             LATERAL (SELECT unnest(range(1, len(ks) + 1)) AS i) u,
             LATERAL (SELECT unnest(range(1, len(ks) + 1)) AS j) v
        WHERE u.i < v.j)
    SELECT k1, k2, COUNT(*)::BIGINT AS n
    FROM pairs GROUP BY k1, k2
    ORDER BY n DESC, k1, k2 LIMIT 20
"""


def register_osm_extras_r8(register) -> None:
    register(
        "osm_tag_cooccurrence",
        OSM_TAG_COOCCURRENCE_SQL,
        doc="tag-key co-occurrence top-20 over latest visible elements "
        "(taginfo combinations readout): partial-agg argmax per element, "
        "row-local sorted-key pair fan, one pair-keyed count agg "
        "(map-analytics extension)",
    )(osm_tag_cooccurrence)
