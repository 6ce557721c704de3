"""Streaming changeset stats — parity with
`osmesa.apps.streaming.StreamingChangesetStatsUpdater`
(`src/apps/src/main/scala/osmesa/apps/streaming/StreamingChangesetStatsUpdater.scala:80-142`).

Chain (§3.2): augdiff stream → foreachBatch: per micro-batch, the bounded
rollup (tagged filter → geocode → event time from sequence (T1) →
groupBy(timestamp, sequence, changeset, uid, user) map-sum agg (T4/A2)) →
idempotent upsert (T6) + checkpoint bookkeeping (T7).

No state store: the reference's 0 s watermark (T2) rests on sequences
arriving whole and in order, so a sequence's groups are final once its own
batch is read and the state only delays them by one (eviction) batch. Our
source hands over one `<sequence>.jsonl` per trigger, so the sink rolls up
the bounded micro-batch (T8) and the batch that reads a sequence also
checkpoints it; a replayed batch is a no-op under the upsert's overlap
guard. A sequence split across two files (outside that contract) was
dropped as late by the stateful rollup; now the guard skips the changesets
that already hold the sequence and applies the rest. Upgrading from the
stateful runner: restart on a fresh checkpoint directory — the guard makes
the replay a no-op.

Also provides the watermarked stream-stream join (J9/T5):
augdiffs ⋈ changeset metadata on `changeset`, watermarks 0s / 25h
(MergedChangesetStreamProcessor.scala:149-172 — changesets stay open ≤24h,
so the metadata side keeps 25h of state, bounding state size).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmesa_spark.functions.maps import sum_map_values
from osmesa_spark.functions.tags import is_tagged
from osmesa_spark.functions.timeseq import sequence_to_timestamp
from osmesa_spark.operators.geocode import BBoxCountries, geocode
from osmesa_spark.operators.stats import default_counts, default_measurements
from osmesa_spark.sinks.upsert import CheckpointTable, ParquetUpsertTable


def augdiff_feature_stats(
    diffs: DataFrame, countries: dict | None = None
) -> DataFrame:
    """Per-feature counts/measurements on an (augmented-diff) element stream.
    Works identically on bounded and unbounded inputs (T8). `countries`
    takes bbox rectangles or TRUE polygon rings (ray-cast, concave-safe) —
    same dual form as the batch pipeline."""
    from osmesa_spark.operators.geocode import geocode_polygons_auto
    from osmesa_spark.operators.stats import _is_polygon_countries

    feats = diffs.where(is_tagged("tags")).withColumn(
        "event_time", sequence_to_timestamp("sequence")
    )
    if countries is not None:
        # complexity-dispatched on streams too: the grid path's
        # stream-static broadcast join is supported by Structured Streaming
        # and keeps per-row cost bounded by the cell's candidates
        coder = (
            geocode_polygons_auto
            if _is_polygon_countries(countries)
            else geocode
        )
        feats = coder(feats, countries)
    else:
        feats = feats.withColumn("countries", F.array().cast("array<string>"))
    # deltas on the stream come from geom/prevGeom pairs carried by the diff
    from osmesa_spark.functions import geo

    line_len = F.when(
        F.col("geomType") == "LineString", geo.line_length_m("geom")
    ).otherwise(F.lit(0.0))
    prev_len = F.when(
        F.col("geomType") == "LineString", geo.line_length_m("prevGeom")
    ).otherwise(F.lit(0.0))
    # withAreaDelta parity (StreamingChangesetStatsUpdater.scala:119): the
    # diff carries both ring geometries, so the polygon area delta is the
    # same Column fold the batch path uses (augdiffs tag the FEATURE's
    # geomType; the prev ring shares it)
    ring_area = F.when(
        F.col("geomType") == "Polygon", geo.ring_area_m2("geom")
    ).otherwise(F.lit(0.0))
    prev_area = F.when(
        F.col("geomType") == "Polygon", geo.ring_area_m2("prevGeom")
    ).otherwise(F.lit(0.0))
    feats = feats.withColumn(
        "linearDelta", F.abs(F.coalesce(line_len, F.lit(0.0)) - F.coalesce(prev_len, F.lit(0.0)))
    ).withColumn(
        "areaDelta",
        F.abs(
            F.coalesce(ring_area, F.lit(0.0))
            - F.coalesce(prev_area, F.lit(0.0))
        ),
    )
    return feats.select(
        "event_time",
        "sequence",
        "changeset",
        "uid",
        "user",
        default_counts().alias("counts"),
        default_measurements().alias("measurements"),
    )


def streaming_changeset_stats(
    diffs: DataFrame, countries: BBoxCountries | None = None
) -> DataFrame:
    """The per-(sequence, changeset) rollup (T4) of a bounded frame: a whole
    augdiff dataset, or one micro-batch inside the stats runners' sinks.
    Stateless — each group lives within one sequence, and the source hands
    over whole sequences (module docstring)."""
    # HOF fold here (not explode/reassemble): one agg stage; groups are
    # (changeset, sequence)-bounded so lists stay small.
    return augdiff_feature_stats(diffs, countries).groupBy(
        "event_time", "sequence", "changeset", "uid", "user"
    ).agg(
        sum_map_values(F.collect_list("counts"), "int").alias("counts"),
        sum_map_values(F.collect_list("measurements"), "double").alias(
            "measurements"
        ),
        F.count(F.lit(1)).alias("total_edits"),
    )


def stats_upsert_rows(
    batch: DataFrame, countries: BBoxCountries | None = None
) -> DataFrame:
    """One micro-batch's rollup in the changesets-table shape both stats
    sinks upsert. Each row carries a single-sequence `augmented_diffs`, so
    the overlap guard skips exactly the (changeset, sequence) pairs already
    applied."""
    return streaming_changeset_stats(batch, countries).select(
        F.col("changeset").alias("id"),
        F.col("counts").cast("map<string,bigint>").alias("counts"),
        "measurements",
        F.col("total_edits").cast("bigint"),
        F.array(F.col("sequence")).cast("array<int>").alias("augmented_diffs"),
    )


def run_streaming_stats_to_upsert(
    diffs_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    proc_name: str = "augmented-diff-stats",
    countries: BBoxCountries | None = None,
    observe_metrics: bool = False,
):
    """writeStream.foreachBatch → rollup of the bounded micro-batch +
    idempotent upsert + checkpoint row — the full streaming sink chain
    (S7 + S10 semantics), stateless (module docstring). Returns the query.

    `observe_metrics=True` attaches a Dataset.observe node to the tagged
    input stream (observations made inside foreachBatch never reach the
    progress events): per micro-batch, (finalized_groups, edits, min_seq,
    max_seq) surface in `observedMetrics['stats_ingest']` — the keep-up /
    lag dashboard feed — piggybacking the batch's one read. `observe`
    rejects DISTINCT, hence the group count as the size of a key set."""
    if observe_metrics:
        diffs_stream = diffs_stream.where(is_tagged("tags")).observe(
            "stats_ingest",
            F.size(
                F.collect_set(F.struct("sequence", "changeset", "uid", "user"))
            ).alias("finalized_groups"),
            F.count(F.lit(1)).alias("edits"),
            F.min("sequence").alias("min_seq"),
            F.max("sequence").alias("max_seq"),
        )
    table = ParquetUpsertTable(table_path)
    checkpoints = CheckpointTable(f"{table_path}/_checkpoints")

    def sink(batch: DataFrame, epoch_id: int) -> None:
        from pyspark.sql import Observation

        # max(sequence) rides the upsert's write as an Observation: rollup,
        # upsert and checkpoint value are one Spark action per micro-batch
        seq_obs = Observation()
        observed = batch.observe(seq_obs, F.max("sequence").alias("max_seq"))
        table.upsert_stats(stats_upsert_rows(observed, countries))
        max_seq = seq_obs.get["max_seq"]
        if max_seq is not None:
            checkpoints.save(proc_name, int(max_seq))

    return (
        diffs_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )


def run_streaming_errors_to_table(
    errors_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
):
    """Dead-letter branch sink: the `split_errors` stream → persistent
    `errors` table (05-errors.sql shape; ErrorHandler parity,
    StreamingChangesetStatsUpdater.scala:149-216). Idempotent under
    foreachBatch retries via the table's (sequence, payload-hash)
    conflict key. Returns the query."""
    from osmesa_spark.sinks.upsert import ErrorsTable

    table = ErrorsTable(table_path)

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if batch.isEmpty():
            return
        table.append_errors(batch)

    return (
        errors_stream.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )


def run_streaming_stats_with_deadletter(
    raw_diffs_stream: DataFrame,
    table_path: str,
    errors_path: str,
    checkpoint_dir: str,
    proc_name: str = "augmented-diff-stats",
    countries: BBoxCountries | None = None,
):
    """The reference's full StreamingChangesetStatsUpdater wiring: ONE raw
    augmented-diff stream (carrying `_corrupt`) split into the stats
    rollup → idempotent upsert AND the dead-letter → errors-table branch
    (ErrorHandler). Two independent streaming queries over the same file
    source — each owns its offsets/checkpoint, so a crash in one never
    stalls or double-applies the other; both sinks are idempotent, so the
    pair is exactly-once end to end. Returns (stats_query, errors_query)."""
    from osmesa_spark.sources.replication import split_errors

    good, errors = split_errors(raw_diffs_stream)
    stats_q = run_streaming_stats_to_upsert(
        good, table_path, f"{checkpoint_dir}/stats",
        proc_name=proc_name, countries=countries,
    )
    errors_q = run_streaming_errors_to_table(
        errors, errors_path, f"{checkpoint_dir}/errors"
    )
    return stats_q, errors_q


def merged_changeset_stream(
    diffs: DataFrame, changeset_meta: DataFrame
) -> DataFrame:
    """Watermarked stream-stream inner join (J9/T5): element stream ⋈
    changeset metadata on `changeset`, with an explicit event-time range
    between the two REPLICATION-sequence times. Both sides derive their
    event time from the same sequence clock (`sequence_to_timestamp`), so
    the range condition is commensurable; a changeset's metadata
    replicates within the same window its element edits do (≤24h open +
    feed lag), and ±48h is the conservative superset. Without a
    range/window constraint between the event-time columns Spark cannot
    evict stream-stream join state — equality-only conditions keep every
    row in the state store forever regardless of the watermarks."""
    left = diffs.withColumn(
        "event_time", sequence_to_timestamp("sequence")
    )
    if left.isStreaming:
        left = left.withWatermark("event_time", "0 seconds")
    right = changeset_meta.select(
        F.col("id").alias("changeset_id"),
        sequence_to_timestamp("sequence").alias("meta_time"),
        F.col("createdAt"),
        F.col("tags").getItem("created_by").alias("editor"),
        F.col("uid").alias("cs_uid"),
    )
    if right.isStreaming:
        right = right.withWatermark("meta_time", "25 hours")
    return left.join(
        right,
        (left["changeset"] == right["changeset_id"])
        & (left["event_time"] >= right["meta_time"] - F.expr("INTERVAL 48 HOURS"))
        & (left["event_time"] <= right["meta_time"] + F.expr("INTERVAL 48 HOURS")),
        "inner",
    ).drop("changeset_id", "meta_time")
