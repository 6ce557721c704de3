"""Streaming edit-histogram tile updaters — parity with
`osmesa.apps.streaming.StreamingEditHistogramTileUpdater`
(`src/apps/src/main/scala/osmesa/apps/streaming/StreamingEditHistogramTileUpdater.scala:114-138`),
`StreamingFacetedEditHistogramTileUpdater` (`:114-214`, facet-map points),
`HashtagFootprintUpdater` (`HashtagFootprintUpdater.scala:169-190`,
changes ⋈ changeset-hashtags → per-hashtag keyed footprints), and the
incremental multi-sequence tile upsert they all drive
(`EditHistogram.scala:219-305`).

T8 twin design: the SAME vectorgrid chain (tile → rasterize → pyramid →
vectorize, operators/vectorgrid.py) runs per micro-batch inside
`foreachBatch`, with `sequence` riding the grouping keys so per-sequence
cells survive the rasterize agg; the MVT sink's committed-sequence layer
(sinks/mvt.py) makes re-delivery of a sequence a no-op, so
restart-from-checkpoint or at-least-once replay cannot double-count — the
reference gets the same property from `getCommittedSequences`
(`VectorGrid.scala:35-43`).

The sink is one plan per micro-batch: `write_tile_pyramid_grouped` groups
by (key?, zoom, tx, ty), splits features by sequence INSIDE the plan and
filters committed sequences per tile in the executor-side writer — the
`EditHistogram.update` shape (scala:238-281). A multi-sequence catch-up
batch costs one tile IO per touched tile, not one job per sequence, and
nothing round-trips through the driver."""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmesa_spark.functions import tags as tg
from osmesa_spark.functions.text import changeset_hashtags
from osmesa_spark.operators import vectorgrid as vg
from osmesa_spark.sinks import mvt


def edit_tiles_for_batch(
    batch: DataFrame, zoom: int, cells: int
) -> DataFrame:
    """Bounded vectorgrid chain for one micro-batch of the changes stream:
    visible nodes with coords → per-sequence base raster → pyramid →
    vectorized cells, `sequence` carried as a facet key."""
    pts = batch.where(
        (F.col("type") == "node")
        & F.col("visible")
        & F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
    ).select("sequence", "lon", "lat")
    base = vg.tile_points(pts, zoom=zoom, cells=cells, key_cols=["sequence"])
    return vg.vectorize(
        vg.pyramid(base, base_zoom=zoom, key_cols=["sequence"]),
        cells=cells,
        key_cols=["sequence"],
    )


def node_facets(tags_col: Column, version: Column, visible: Column) -> Column:
    """The faceted-histogram facet map
    (StreamingFacetedEditHistogramTileUpdater.scala:223-249): per-node 0/1
    indicators keyed by facet name. Our element stream carries the
    feature's own (merged) tags, so the reference's wayTags/mergedTags
    split collapses onto one tag map; `geometryChanged` is not tracked on
    the simplified chain, so `created` reduces to version==1 and
    `metadataOnly` is omitted."""
    return F.map_from_arrays(
        F.array(
            F.lit("building"),
            F.lit("road"),
            F.lit("waterway"),
            F.lit("poi"),
            F.lit("coastline"),
            F.lit("created"),
            F.lit("modified"),
            F.lit("deleted"),
        ),
        F.array(
            tg.is_building(tags_col).cast("int"),
            tg.is_road(tags_col).cast("int"),
            tg.is_waterway(tags_col).cast("int"),
            tg.is_poi(tags_col).cast("int"),
            tg.is_coastline(tags_col).cast("int"),
            ((version == 1) & visible).cast("int"),
            (visible & (version > 1)).cast("int"),
            (~visible).cast("int"),
        ),
    )


def faceted_edit_tiles_for_batch(
    batch: DataFrame, zoom: int, cells: int
) -> DataFrame:
    """Faceted vectorgrid chain for one micro-batch of the AUGDIFF element
    stream: point nodes → facet map (deleted nodes keep prevTags, P7) →
    explode to (facet, 0/1) rows, keep hits → per-(sequence, facet)
    pyramid. One partial-agg shuffle; the facet key rides the exchange."""
    nodes = batch.where(
        (F.col("type") == "node")
        & (F.col("geomType") == "Point")
        & (F.size("geom") > 0)
    ).select(
        "sequence",
        F.col("geom")[0]["lon"].alias("lon"),
        F.col("geom")[0]["lat"].alias("lat"),
        node_facets(
            F.when(F.col("visible"), F.col("tags")).otherwise(
                F.col("prevTags")
            ),
            F.col("version"),
            F.col("visible"),
        ).alias("facets"),
    )
    pts = nodes.select(
        "sequence",
        "lon",
        "lat",
        F.explode("facets").alias("facet", "w"),
    ).where(F.col("w") > 0)
    keys = ["sequence", "facet"]
    base = vg.tile_points(
        pts, zoom=zoom, cells=cells, weight_col="w", key_cols=keys
    )
    return vg.vectorize(
        vg.pyramid(base, base_zoom=zoom, key_cols=keys),
        cells=cells,
        key_cols=keys,
    )


def hashtag_footprint_points(
    changes: DataFrame, changeset_meta: DataFrame
) -> DataFrame:
    """HashtagFootprintUpdater.scala:169-190: changeset metadata explodes
    its hashtags (comment-derived ∪ dedicated tag, scala:179-181) and
    stream-stream joins the located nodes on `changeset`. Both sides
    watermark 25h AND the join carries an explicit event-time range
    (node edits happen within the changeset's ≤24h open window; ±25h is
    the conservative superset): Spark only evicts stream-stream join
    state when the condition constrains the two event-time columns, so
    without the range the state store grows without bound no matter what
    the watermarks say."""
    cs = changeset_meta
    if cs.isStreaming:
        cs = cs.withWatermark("createdAt", "25 hours")
    cs = cs.select(
        F.col("id").alias("cs_changeset"),
        F.col("sequence").alias("cs_sequence"),
        F.col("createdAt").alias("cs_createdAt"),
        F.explode(changeset_hashtags(F.col("tags"))).alias("hashtag"),
    )
    nodes = changes.where(
        (F.col("type") == "node")
        & F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
    )
    if nodes.isStreaming:
        nodes = nodes.withWatermark("timestamp", "25 hours")
    nodes = nodes.select("timestamp", "sequence", "changeset", "lat", "lon")
    joined = nodes.join(
        cs,
        (nodes["changeset"] == cs["cs_changeset"])
        & (nodes["timestamp"] >= cs["cs_createdAt"] - F.expr("INTERVAL 25 HOURS"))
        & (nodes["timestamp"] <= cs["cs_createdAt"] + F.expr("INTERVAL 25 HOURS")),
    ).drop("cs_changeset", "cs_createdAt")
    # idempotence key: a join row is attributed to the PAIR of replication
    # sequences that produced it. The stream-stream join emits one node
    # sequence's rows across SEVERAL micro-batches (each time a later
    # changeset-metadata sequence matches rows held in join state), so
    # keying the committed-sequence bookkeeping on the node sequence alone
    # would skip those later emissions as "already committed" and silently
    # lose counts. Each (node seq, meta seq) pair emits in exactly one
    # micro-batch — pack the pair into one bigint and commit that.
    #
    # Bookkeeping bound: the tile's committed list keeps the newest 1000
    # entries (MAX_COMMITTED_SEQUENCES — the reference's identical
    # takeRight(1000), VectorGrid.scala:48-49). Pair keys fill that
    # window faster than plain sequences on pyramid-apex tiles (every
    # pair touches zoom 0), so the idempotence guarantee is: checkpoint
    # recovery (replays only the newest pairs, which takeRight always
    # retains) is ALWAYS safe; a from-scratch replay of deep history
    # against existing tiles is only deduplicated within the newest 1000
    # pairs per tile — same recovery contract as the reference, reached
    # sooner. A full rebuild should write to a fresh tile root.
    return joined.withColumn(
        "sequence",
        F.shiftleft(F.col("cs_sequence").cast("bigint"), 32)
        + F.col("sequence").cast("bigint"),
    ).drop("cs_sequence")


def _grouped_tile_sink(
    tile_root: str,
    zoom: int,
    cells: int,
    layer_name: str,
    tiles_for_batch,
    key_col: str | None = None,
    facet_col: str | None = None,
):
    def sink(batch: DataFrame, epoch_id: int) -> None:
        vec = tiles_for_batch(batch, zoom, cells)
        mvt.write_tile_pyramid_grouped(
            vec,
            tile_root,
            layer_name=layer_name,
            cells=cells,
            key_col=key_col,
            facet_col=facet_col,
        )

    return sink


def run_streaming_tile_updater(
    changes: DataFrame,
    tile_root: str,
    checkpoint_dir: str,
    zoom: int = 6,
    cells: int = 16,
    layer_name: str = "density",
):
    """Attach the tile-upsert foreachBatch sink to a streaming CHANGES
    DataFrame and return the StreamingQuery (caller awaits/stops)."""
    return (
        changes.writeStream.foreachBatch(
            _grouped_tile_sink(
                tile_root, zoom, cells, layer_name, edit_tiles_for_batch
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_streaming_faceted_tile_updater(
    diffs: DataFrame,
    tile_root: str,
    checkpoint_dir: str,
    zoom: int = 6,
    cells: int = 16,
    layer_name: str = "density",
):
    """StreamingFacetedEditHistogramTileUpdater twin: augdiff element
    stream → facet map → per-facet tiles, tags `density:<facet>` per cell
    feature (EditHistogram.scala:183-211 tag shape), idempotent per
    sequence."""
    return (
        diffs.writeStream.foreachBatch(
            _grouped_tile_sink(
                tile_root,
                zoom,
                cells,
                layer_name,
                faceted_edit_tiles_for_batch,
                facet_col="facet",
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_streaming_user_footprint(
    changes: DataFrame,
    tile_root: str,
    checkpoint_dir: str,
    zoom: int = 6,
    cells: int = 16,
    layer_name: str = "density",
):
    """StreamingUserFootprintTileUpdater twin
    (StreamingUserFootprintTileUpdater.scala:108-118): located changed
    nodes keyed by uid → per-user footprint pyramid under
    `tile_root/<uid>/` (Footprints.update keyed URIs), idempotent per
    sequence. Same keyed-pyramid chain as the hashtag footprint, minus
    the metadata join — the key comes off the element itself."""
    nodes = changes.where(
        (F.col("type") == "node")
        & F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
    ).select(
        "sequence",
        F.col("uid").cast("string").alias("key"),
        "lon",
        "lat",
    )

    def tiles_for_batch(batch: DataFrame, z: int, c: int) -> DataFrame:
        keys = ["key", "sequence"]
        base = vg.tile_points(batch, zoom=z, cells=c, key_cols=keys)
        return vg.vectorize(
            vg.pyramid(base, base_zoom=z, key_cols=keys),
            cells=c,
            key_cols=keys,
        )

    return (
        nodes.writeStream.foreachBatch(
            _grouped_tile_sink(
                tile_root,
                zoom,
                cells,
                layer_name,
                tiles_for_batch,
                key_col="key",
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def run_streaming_hashtag_footprint(
    changes: DataFrame,
    changeset_meta: DataFrame,
    tile_root: str,
    checkpoint_dir: str,
    zoom: int = 6,
    cells: int = 16,
    layer_name: str = "density",
):
    """HashtagFootprintUpdater twin: stream-stream join of located nodes
    with their changeset's hashtags, then one footprint pyramid PER HASHTAG
    under `tile_root/<hashtag>/` (the reference's keyed Footprints URIs,
    Footprints.scala:42-53), idempotent per sequence."""

    def tiles_for_batch(batch: DataFrame, z: int, c: int) -> DataFrame:
        keys = ["hashtag", "sequence"]
        base = vg.tile_points(batch, zoom=z, cells=c, key_cols=keys)
        return vg.vectorize(
            vg.pyramid(base, base_zoom=z, key_cols=keys),
            cells=c,
            key_cols=keys,
        )

    joined = hashtag_footprint_points(changes, changeset_meta)
    return (
        joined.writeStream.foreachBatch(
            _grouped_tile_sink(
                tile_root,
                zoom,
                cells,
                layer_name,
                tiles_for_batch,
                key_col="hashtag",
            )
        )
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
