"""Geometry math as pure Column expressions.

The engine's geometry representation is columnar-native, not a UDT:
  * points: (lon, lat) doubles
  * linestrings/rings: ``array<struct<lon:double, lat:double>>`` vertex arrays
  * WKB ``binary`` only at the I/O edge (Sedona/shapely interop, gated).

Reference semantics rebuilt here:
  * spherical length of a line, meters — segment-wise Haversine fold
    (spec: `src/bench/src/main/scala/osmesa/MetresBench.scala:25-65`;
    production call `st_lengthSphere`, `stats/package.scala:40-47`)
  * Web-Mercator point→tile math for the vector-grid pipeline
    (`src/analytics/src/main/scala/osmesa/analytics/vectorgrid/Implicits.scala:57-140`)
  * Z-order cell ids (`Implicits.scala:228-238`)
  * planar ring area via the shoelace formula on an equal-area local projection
    (replaces the UTM-reprojection UDF `stats/package.scala:17-32` with a
    column-native spherical-excess area: no pyproj needed, no Python UDF)

All functions stay in whole-stage codegen (transform/aggregate/zip_with).
"""

from __future__ import annotations

import math

from pyspark.sql import Column
from pyspark.sql import functions as F

from osmesa_spark.util import column_memo

EARTH_RADIUS_M = 6378137.0  # WGS84 semi-major (spherical model, as GeoTrellis)


def _rad(c: Column) -> Column:
    return F.radians(c)


def haversine_m(lon1: Column, lat1: Column, lon2: Column, lat2: Column) -> Column:
    """Great-circle distance in meters between two lon/lat points."""
    dlat = _rad(lat2 - lat1)
    dlon = _rad(lon2 - lon1)
    a = (
        F.sin(dlat / 2) * F.sin(dlat / 2)
        + F.cos(_rad(lat1)) * F.cos(_rad(lat2)) * F.sin(dlon / 2) * F.sin(dlon / 2)
    )
    return F.lit(2.0 * EARTH_RADIUS_M) * F.asin(F.least(F.lit(1.0), F.sqrt(a)))


@column_memo
def line_length_m(vertices: Column | str) -> Column:
    """Spherical length (m) of a vertex array — Haversine folded over
    consecutive pairs, fully in-column via zip_with(verts, verts[1:])."""
    from osmesa_spark.functions.text import _let

    v0 = F.col(vertices) if isinstance(vertices, str) else vertices

    # let-bound: `v` feeds two slice arguments, so an expression-valued
    # vertex column would otherwise be evaluated twice per row
    def body(v: Column) -> Column:
        seg = F.zip_with(
            F.slice(v, 1, F.greatest(F.size(v) - 1, F.lit(0))),
            F.slice(v, 2, F.greatest(F.size(v) - 1, F.lit(0))),
            lambda p, c: haversine_m(
                p.getField("lon"),
                p.getField("lat"),
                c.getField("lon"),
                c.getField("lat"),
            ),
        )
        return F.coalesce(
            F.aggregate(seg, F.lit(0.0), lambda acc, x: acc + x), F.lit(0.0)
        )

    return _let(v0, body)


@column_memo
def ring_area_m2(vertices: Column | str) -> Column:
    """Approximate geodesic ring area (m²): spherical shoelace
    (sum of lon-delta × mean-sin-lat terms). Matches planar-UTM areas to ~0.1%
    for building/landuse-sized rings, with no reprojection UDF — replaces
    `transformLatLngToUtm` + `st_area` (`stats/package.scala:17-32,49-60`)."""
    from osmesa_spark.functions.text import _let

    v0 = F.col(vertices) if isinstance(vertices, str) else vertices

    # let-bound for the same two-slice reason as line_length_m
    def body(v: Column) -> Column:
        terms = F.zip_with(
            F.slice(v, 1, F.greatest(F.size(v) - 1, F.lit(0))),
            F.slice(v, 2, F.greatest(F.size(v) - 1, F.lit(0))),
            lambda p, c: _rad(c.getField("lon") - p.getField("lon"))
            * (
                F.lit(2.0)
                + F.sin(_rad(p.getField("lat")))
                + F.sin(_rad(c.getField("lat")))
            ),
        )
        folded = F.coalesce(
            F.aggregate(terms, F.lit(0.0), lambda acc, x: acc + x), F.lit(0.0)
        )
        return F.abs(folded * F.lit(EARTH_RADIUS_M * EARTH_RADIUS_M / 2.0))

    return _let(v0, body)


# --------------------------------------------------------------------------
# UTM (transverse Mercator) planar projection — stats/package.scala:17-32
# `transformLatLngToUtm` parity, as pure Column math (Snyder 1987, "Map
# Projections: A Working Manual", USGS PP 1395 pp. 60-64 — public domain).
# No pyproj, no UDF: sin/cos/tan/sqrt Column expressions in codegen.
# --------------------------------------------------------------------------

WGS84_A = 6378137.0
WGS84_F = 1.0 / 298.257223563
WGS84_E2 = WGS84_F * (2.0 - WGS84_F)  # first eccentricity²
WGS84_EP2 = WGS84_E2 / (1.0 - WGS84_E2)  # second eccentricity²
UTM_K0 = 0.9996
UTM_FALSE_EASTING = 500_000.0

# meridian-arc series coefficients (Snyder eq. 3-21)
_M0 = 1.0 - WGS84_E2 / 4.0 - 3.0 * WGS84_E2**2 / 64.0 - 5.0 * WGS84_E2**3 / 256.0
_M2 = 3.0 * WGS84_E2 / 8.0 + 3.0 * WGS84_E2**2 / 32.0 + 45.0 * WGS84_E2**3 / 1024.0
_M4 = 15.0 * WGS84_E2**2 / 256.0 + 45.0 * WGS84_E2**3 / 1024.0
_M6 = 35.0 * WGS84_E2**3 / 3072.0


def utm_lon0(lon: Column) -> Column:
    """Central meridian (degrees) of the UTM zone containing `lon` —
    zone = floor((lon+180)/6)+1 clamped to [1, 60], meridian = 6·zone−183.
    The reference picks the zone from the geometry CENTROID
    (stats/package.scala:21-24); pass the centroid lon here."""
    zone = F.least(
        F.greatest(F.floor((lon + 180.0) / 6.0) + 1, F.lit(1)), F.lit(60)
    )
    return (zone * 6 - 183).cast("double")


def utm_easting(lon: Column, lat: Column, lon0: Column) -> Column:
    """UTM easting (m) of (lon, lat) about central meridian lon0
    (Snyder eq. 8-9): k0·N·(A + (1−T+C)A³/6 + (5−18T+T²+72C−58e′²)A⁵/120)
    + 500000."""
    phi = F.radians(lat)
    sin_p, cos_p, tan_p = F.sin(phi), F.cos(phi), F.tan(phi)
    n = F.lit(WGS84_A) / F.sqrt(1.0 - F.lit(WGS84_E2) * sin_p * sin_p)
    t = tan_p * tan_p
    c = F.lit(WGS84_EP2) * cos_p * cos_p
    a = F.radians(lon - lon0) * cos_p
    return (
        F.lit(UTM_K0)
        * n
        * (
            a
            + (1.0 - t + c) * F.pow(a, 3) / 6.0
            + (5.0 - 18.0 * t + t * t + 72.0 * c - F.lit(58.0 * WGS84_EP2))
            * F.pow(a, 5)
            / 120.0
        )
        + F.lit(UTM_FALSE_EASTING)
    )


def utm_northing(lon: Column, lat: Column, lon0: Column) -> Column:
    """UTM northing (m), northern-hemisphere datum (no false northing —
    areas/deltas are translation-invariant; Snyder eq. 8-10 with 3-21)."""
    phi = F.radians(lat)
    sin_p, cos_p, tan_p = F.sin(phi), F.cos(phi), F.tan(phi)
    n = F.lit(WGS84_A) / F.sqrt(1.0 - F.lit(WGS84_E2) * sin_p * sin_p)
    t = tan_p * tan_p
    c = F.lit(WGS84_EP2) * cos_p * cos_p
    a = F.radians(lon - lon0) * cos_p
    m = F.lit(WGS84_A) * (
        F.lit(_M0) * phi
        - F.lit(_M2) * F.sin(2.0 * phi)
        + F.lit(_M4) * F.sin(4.0 * phi)
        - F.lit(_M6) * F.sin(6.0 * phi)
    )
    return F.lit(UTM_K0) * (
        m
        + n
        * tan_p
        * (
            a * a / 2.0
            + (5.0 - t + 9.0 * c + 4.0 * c * c) * F.pow(a, 4) / 24.0
            + (
                61.0
                - 58.0 * t
                + t * t
                + 600.0 * c
                - F.lit(330.0 * WGS84_EP2)
            )
            * F.pow(a, 6)
            / 720.0
        )
    )


@column_memo
def ring_area_m2_utm(vertices: Column | str) -> Column:
    """TRUE planar ring area (m²): project every vertex to the UTM zone of
    the ring's lon-centroid, then the planar shoelace — the reference's
    `transformLatLngToUtm` + `st_area` pipeline (stats/package.scala:17-32,
    49-60) with the reprojection done as Column trig instead of a UDF."""
    from osmesa_spark.functions.text import _let

    v = F.col(vertices) if isinstance(vertices, str) else vertices

    # Every derived stage is LET-BOUND (one-element-array lambda binding):
    # referencing the centroid fold `lon0` inside the per-vertex projection
    # lambda re-ran the whole-ring aggregate PER VERTEX (O(n²) trig per
    # ring), and `proj`/`closed` each appeared in two array arguments,
    # doubling the projection twice over. Values identical; r11.
    def with_lon0(vv: Column) -> Column:
        nv = F.greatest(F.size(vv), F.lit(1)).cast("double")
        cx = (
            F.aggregate(
                F.transform(vv, lambda p: p.getField("lon")),
                F.lit(0.0),
                lambda acc, x: acc + x,
            )
            / nv
        )
        return _let(
            utm_lon0(cx),
            lambda lon0: _let(
                F.transform(
                    vv,
                    lambda p: F.struct(
                        utm_easting(
                            p.getField("lon"), p.getField("lat"), lon0
                        ).alias("x"),
                        utm_northing(
                            p.getField("lon"), p.getField("lat"), lon0
                        ).alias("y"),
                    ),
                ),
                shoelace,
            ),
        )

    def shoelace(proj: Column) -> Column:
        # wrap last -> first edge
        return _let(
            F.concat(proj, F.slice(proj, 1, 1)),
            lambda closed: F.coalesce(
                F.aggregate(
                    F.zip_with(
                        F.slice(
                            closed, 1, F.greatest(F.size(closed) - 1, F.lit(0))
                        ),
                        F.slice(
                            closed, 2, F.greatest(F.size(closed) - 1, F.lit(0))
                        ),
                        lambda p, c: p.getField("x") * c.getField("y")
                        - c.getField("x") * p.getField("y"),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                ),
                F.lit(0.0),
            ),
        )

    return F.abs(_let(v, with_lon0)) / 2.0


# --------------------------------------------------------------------------
# Web-Mercator tiling math (vector-grid pipeline, SURVEY §2.9 G1)
# --------------------------------------------------------------------------

MAX_LAT = math.degrees(2 * math.atan(math.exp(math.pi)) - math.pi / 2)  # ±85.0511


def tile_x(lon: Column, zoom: int | Column) -> Column:
    """Spatial-key column index at `zoom` for a longitude."""
    z = F.lit(zoom) if isinstance(zoom, int) else zoom
    n = F.pow(F.lit(2.0), z.cast("double"))
    x = F.floor((lon + 180.0) / 360.0 * n).cast("int")
    return F.least(F.greatest(x, F.lit(0)), (n - 1).cast("int"))


def tile_y(lat: Column, zoom: int | Column) -> Column:
    """Spatial-key row index at `zoom` for a latitude (Web-Mercator)."""
    z = F.lit(zoom) if isinstance(zoom, int) else zoom
    n = F.pow(F.lit(2.0), z.cast("double"))
    lat_r = F.radians(
        F.least(F.greatest(lat, F.lit(-MAX_LAT)), F.lit(MAX_LAT))
    )
    y = F.floor(
        (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / math.pi) / 2.0 * n
    ).cast("int")
    return F.least(F.greatest(y, F.lit(0)), (n - 1).cast("int"))


def lon_to_unit(lon: Column) -> Column:
    """lon → [0,1) Web-Mercator x."""
    return (lon + 180.0) / 360.0


def lat_to_unit(lat: Column) -> Column:
    """lat → [0,1) Web-Mercator y."""
    lat_r = F.radians(F.least(F.greatest(lat, F.lit(-MAX_LAT)), F.lit(MAX_LAT)))
    return (1.0 - F.log(F.tan(lat_r) + 1.0 / F.cos(lat_r)) / math.pi) / 2.0


def zorder(col_idx: Column, row_idx: Column, bits: int = 16) -> Column:
    """Interleaved-bit Z-order id of (col, row) — the `__id` feature key
    (`Implicits.scala:228-238`). Bit-twiddle via shift/or Columns."""
    one = F.lit(1).cast("bigint")
    z = F.lit(0).cast("bigint")
    c = col_idx.cast("bigint")
    r = row_idx.cast("bigint")
    for i in range(bits):
        cbit = F.shiftrightunsigned(c, i).bitwiseAND(one)
        rbit = F.shiftrightunsigned(r, i).bitwiseAND(one)
        z = z.bitwiseOR(F.shiftleft(cbit, 2 * i)).bitwiseOR(
            F.shiftleft(rbit, 2 * i + 1)
        )
    return z
