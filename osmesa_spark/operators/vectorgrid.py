"""Vector-grid tile pipeline: located points → pyramid → vectorize.

Parity target: the typed-Dataset chain in
`src/analytics/src/main/scala/osmesa/analytics/vectorgrid/Implicits.scala`
(G1 tile :57-140, G2 rasterize :351-408, G3 downsample :188-220,
G4 merge :154-179, G5 pyramid :145-152, G6 vectorize :222-244) and its
drivers `EditHistogram.scala` / `Footprints.scala`. Every edit-activity
tile set — the batch histogram, footprint and GenerateVT apps and the
four streaming tile twins — is `point_pyramid` (G1–G5) then, where tiles
are written, `vectorize` (G6).

Spark-first redesign — the reference keeps a `Map[Long,Int]` sparse tile per
row and merges tiles in `mapGroups` lambdas (opting out of Catalyst,
SURVEY §3.3). We instead keep the raster in **long format**: one row per
non-zero cell `(zoom, abs_col, abs_row, value)`. Consequences:

  * rasterize/merge/downsample collapse to `groupBy(...).sum(...)` — fully
    codegen'd, partially aggregated map-side, no opaque lambdas;
  * downsample is pure integer math on absolute cell coordinates
    (`abs >> dz`), so every pyramid level comes out of ONE hash-agg over
    the fanned-out base cells, and the shuffle key (zoom, cell) is
    uniformly distributed by construction;
  * the per-tile cell list only materializes at the MVT sink boundary
    (`sinks.mvt._group_cells`: one row per tile with its cell structs),
    the role `RasterTileWithKey` (`vectorgrid/package.scala:70-84`)
    plays in the reference.

Default geometry matches the reference: 128×128 cells
(`VectorGrid.scala:21-27`); footprints profile 512 cells / zoom 14
(`Footprints.scala:24-25`).
"""

from __future__ import annotations

import math
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmesa_spark.functions import geo

BASE_CELLS = 128


def located_nodes(df: DataFrame) -> DataFrame:
    """The point source of every edit pyramid: node versions that carry
    coordinates (`type == 'node'`, lat and lon both set)."""
    return df.where(
        (F.col("type") == "node")
        & F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
    )


def point_pyramid(
    points: DataFrame,
    zoom: int,
    cells: int,
    keys: Sequence[str] = (),
    weight_col: str | None = None,
) -> DataFrame:
    """G1+G2+G5 for points: every zoom level `zoom..0` of the per-cell
    weight sums, as (keys…, zoom, abs_col, abs_row, value).

    Rasterize: `lon`/`lat` map to Web-Mercator unit coordinates, the
    absolute cell is `floor(unit * 2^zoom * cells)` and one group-by sums
    the weights (1 per point without `weight_col`) per cell. `keys`
    facets the histogram per entity (sequence, user id, hashtag, facet) —
    the FacetedEditHistogram/Footprint shape: extra grouping keys on the
    same partial-agg shuffle.

    Pyramid: each base cell fans out to its zoom+1 ancestors (`explode`
    over the zoom delta — a no-shuffle generator, ancestor = `abs >> dz`),
    then ONE group-by sums every level. One exchange per level would cost
    more in per-stage scheduling and first-run codegen than in data at
    every measured size. Shuffle volume stays bounded: the fan-out is
    collapsed map-side by the partial aggregation (ancestor keys repeat
    within a task), so the second exchange carries about
    Σ_z |level z| ≈ 1.33× the base cells."""
    keys = list(keys)
    n_abs = float((1 << zoom) * cells)

    def cell(unit: Column) -> Column:
        return F.least(
            F.greatest(F.floor(unit * n_abs), F.lit(0)), F.lit(n_abs - 1)
        ).cast("bigint")

    w = F.col(weight_col) if weight_col else F.lit(1)
    base = (
        points.select(
            *keys,
            F.lit(zoom).alias("zoom"),
            cell(geo.lon_to_unit(F.col("lon"))).alias("abs_col"),
            cell(geo.lat_to_unit(F.col("lat"))).alias("abs_row"),
            w.cast("bigint").alias("value"),
        )
        .groupBy(*keys, "zoom", "abs_col", "abs_row")
        .agg(F.sum("value").alias("value"))
    )
    fan = base.select(
        *keys,
        "zoom",
        "abs_col",
        "abs_row",
        "value",
        F.explode(F.sequence(F.lit(0), F.col("zoom").cast("int"))).alias(
            "dz"
        ),
    )
    return (
        fan.select(
            *keys,
            (F.col("zoom") - F.col("dz")).alias("zoom"),
            F.expr("shiftrightunsigned(abs_col, dz)").alias("abs_col"),
            F.expr("shiftrightunsigned(abs_row, dz)").alias("abs_row"),
            "value",
        )
        .groupBy(*keys, "zoom", "abs_col", "abs_row")
        .agg(F.sum("value").alias("value"))
    )


def vectorize(
    raster: DataFrame,
    cells: int = BASE_CELLS,
    key_cols: list[str] | None = None,
) -> DataFrame:
    """G6: non-zero cells → features with Z-order `__id` per tile
    (Implicits.scala:222-244; z-index :228-238). Absolute cell coords
    split into (tx, ty, ccol, crow); cells must be a power of two, and
    tiles coarser than one cell collapse to tile (0,0). `key_cols` carries
    facet/entity columns through unchanged (faceted pyramid shape)."""
    keys = key_cols or []
    bits = int(math.log2(cells))
    tiled = raster.select(
        *keys,
        "zoom",
        F.shiftrightunsigned("abs_col", bits).alias("tx"),
        F.shiftrightunsigned("abs_row", bits).alias("ty"),
        (F.col("abs_col") % cells).alias("ccol"),
        (F.col("abs_row") % cells).alias("crow"),
        "value",
    )
    return tiled.select(
        *keys,
        "zoom",
        "tx",
        "ty",
        geo.zorder(F.col("ccol"), F.col("crow"), bits=bits).alias("__id"),
        "ccol",
        "crow",
        "value",
    )
