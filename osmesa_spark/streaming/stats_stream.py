"""Streaming changeset stats — parity with
`osmesa.apps.streaming.StreamingChangesetStatsUpdater`
(`src/apps/src/main/scala/osmesa/apps/streaming/StreamingChangesetStatsUpdater.scala:80-216`).

One query per augmented-diff feed (`start_stats_query`), whose one
foreachBatch body every runner shares — parquet table, JDBC
(`sinks.jdbc.run_streaming_stats_to_jdbc`) and the dead-letter wiring:
per micro-batch, split off the corrupt lines (`split_errors`), roll up the
bounded batch (tagged filter → deltas → geocode → event time from sequence
(T1) → groupBy(timestamp, sequence, changeset, uid, user) map-sum agg
(T4/A2)) → idempotent upsert (T6) → dead-letter append (ErrorHandler) →
checkpoint row (T7).

No state store: the reference's 0 s watermark (T2) rests on sequences
arriving whole and in order, so a sequence's groups are final once its own
batch is read and the state only delays them by one (eviction) batch. Our
source hands over one `<sequence>.jsonl` per trigger, so the sink rolls up
the bounded micro-batch (T8) and the batch that reads a sequence also
checkpoints it; a replayed batch is a no-op under the upsert's overlap
guard and the errors table's (sequence, payload) key. A sequence split
across two files (outside that contract) was dropped as late by the
stateful rollup; now the guard skips the changesets that already hold the
sequence and applies the rest. Upgrading from the stateful runner, or from
the two-query dead-letter wiring (its `errors/` checkpoint is no longer
read): restart on a fresh checkpoint directory — the guards make the
replay a no-op.

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
from osmesa_spark.operators import geometry as G
from osmesa_spark.operators.geocode import BBoxCountries, geocode_countries
from osmesa_spark.operators.stats import default_counts, default_measurements
from osmesa_spark.sinks.upsert import CheckpointTable, ParquetUpsertTable


def augdiff_feature_stats(
    diffs: DataFrame, countries: dict | None = None
) -> DataFrame:
    """Per-feature counts/measurements on an (augmented-diff) element
    stream. Works identically on bounded and unbounded inputs (T8); the
    deltas and the geocode are the batch pipeline's (`with_deltas`,
    `geocode_countries`). The diff carries both geometries, and the prev
    geometry shares the feature's `geomType` (withAreaDelta parity,
    StreamingChangesetStatsUpdater.scala:119)."""
    feats = (
        diffs.where(is_tagged("tags"))
        .withColumn("event_time", sequence_to_timestamp("sequence"))
        .withColumn("prevGeomType", F.col("geomType"))
    )
    feats = geocode_countries(G.with_deltas(feats), countries)
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


def _ingest_metrics(columns: list[str]) -> dict:
    """The `stats_ingest` fields over an unfiltered (raw or good) augdiff
    frame: rollup groups and edits of the tagged good rows, the sequence
    range and the dead-lettered line count. `observe` rejects DISTINCT,
    hence the group count as the size of a key set."""
    dead = (
        F.col("_corrupt").isNotNull() if "_corrupt" in columns else F.lit(False)
    )
    rolled = ~dead & is_tagged("tags")
    metrics = {
        "finalized_groups": F.size(
            F.collect_set(
                F.when(rolled, F.struct("sequence", "changeset", "uid", "user"))
            )
        ),
        "edits": F.count(F.when(rolled, 1)),
        "min_seq": F.min("sequence"),
        "max_seq": F.max("sequence"),
        "dead_lettered": F.count(F.when(dead, 1)),
    }
    return {name: c.alias(name) for name, c in metrics.items()}


def start_stats_query(
    diffs_stream: DataFrame,
    checkpoint_dir: str,
    table,
    save_checkpoint,
    proc_name: str,
    countries: dict | None,
    errors,
):
    """The one stats query every runner starts: writeStream.foreachBatch →
    the bounded rollup upserted into `table` (`ParquetUpsertTable` or
    `sinks.jdbc.JdbcStatsSink`, same `upsert_stats` frame), then the
    batch's dead-letter rows appended to `errors` (an `ErrorsTable`, or
    None to drop them; only a stream carrying `_corrupt` has any), then
    `save_checkpoint(proc_name, max_sequence)` — S7 + S10 semantics,
    stateless (module docstring).

    Two observations, one read per micro-batch. `stats_ingest` sits on the
    unfiltered stream, so its `_ingest_metrics` reach the progress events'
    `observedMetrics` (observations made inside foreachBatch never do) —
    the keep-up / lag dashboard feed. Inside the sink an `Observation`
    rides the upsert's one action and yields the batch's max sequence
    (every row's, dead-lettered ones included) and its dead-letter count,
    so an empty dead-letter branch runs no job. With an errors branch the
    batch is persisted around both writes: the second write reads the
    cache, so the source is parsed once and `stats_ingest` counts once."""
    from pyspark.sql import Observation

    from osmesa_spark.sources.replication import split_errors

    metrics = _ingest_metrics(diffs_stream.columns)
    corrupt = "_corrupt" in diffs_stream.columns
    errors = errors if corrupt else None

    def sink(batch: DataFrame, epoch_id: int) -> None:
        if errors is not None:
            batch = batch.persist()
        try:
            obs = Observation()
            observed = batch.observe(
                obs, metrics["max_seq"], metrics["dead_lettered"]
            )
            good = split_errors(observed)[0] if corrupt else observed
            table.upsert_stats(stats_upsert_rows(good, countries))
            seen = obs.get
            if errors is not None and seen["dead_lettered"]:
                errors.append_errors(split_errors(batch)[1])
            if seen["max_seq"] is not None:
                save_checkpoint(proc_name, int(seen["max_seq"]))
        finally:
            if errors is not None:
                batch.unpersist()

    return (
        diffs_stream.observe("stats_ingest", *metrics.values())
        .writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink)
        .start()
    )


def run_streaming_stats_to_upsert(
    diffs_stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    proc_name: str = "augmented-diff-stats",
    countries: BBoxCountries | None = None,
):
    """The stats query (`start_stats_query`) into a `ParquetUpsertTable` at
    `table_path`, its checkpoint rows in `<table_path>/_checkpoints`.
    Returns the query."""
    return start_stats_query(
        diffs_stream,
        checkpoint_dir,
        ParquetUpsertTable(table_path),
        CheckpointTable(f"{table_path}/_checkpoints").save,
        proc_name,
        countries,
        None,
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
    augmented-diff stream (carrying `_corrupt`) split, inside one query's
    sink, into the stats rollup → idempotent upsert and the dead-letter →
    `ErrorsTable` branch (ErrorHandler, 05-errors.sql shape). The query
    checkpoints at `<checkpoint_dir>/stats`; both tables are conflict-keyed
    per sequence, so a replayed batch is a no-op in each and the pair is
    exactly-once end to end.

    Returns `(query, query)` — the same query twice, which keeps the
    (stats, errors) pair callers wait on and stop."""
    from osmesa_spark.sinks.upsert import ErrorsTable

    q = start_stats_query(
        raw_diffs_stream,
        f"{checkpoint_dir}/stats",
        ParquetUpsertTable(table_path),
        CheckpointTable(f"{table_path}/_checkpoints").save,
        proc_name,
        countries,
        ErrorsTable(errors_path),
    )
    return q, q


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
