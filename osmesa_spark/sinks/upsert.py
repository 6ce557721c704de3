"""Idempotent upsert sink — the engine's equivalent of the reference's
batched/transactional/idempotent JDBC ForeachWriter
(`src/analytics/.../stats/ChangesetStatsForeachWriter.scala:11-294`).

Semantics rebuilt:
  * upsert keyed by `id`: insert new rows, merge existing ones
    (counts/measurements element-wise sums, augmented_diffs array union)
  * **idempotence guard**: a batch's contribution for a changeset is skipped
    when its sequences are already recorded — the reference's
    `NOT augmented_diffs && EXCLUDED.augmented_diffs` predicate
    (ChangesetStatsForeachWriter.scala:39-73); re-delivering a micro-batch is
    a no-op (T6)
  * checkpoint table `(proc_name, sequence)` upsert — DbUtils.saveLocations
    parity (S10/T7)

Backend: a parquet-directory table with atomic directory swap. The merge is
computed BY SPARK (distributed full-outer merge, same shape as J3); only the
commit (directory rename) is a driver-side metadata operation, so the
pattern scales to any table size. With a real warehouse this maps 1:1 onto
`MERGE INTO` (Delta/Iceberg) or `INSERT ... ON CONFLICT` (JDBC) — the SQL the
reference runs is documented in UPSERT_SQL below for parity evidence.
"""

from __future__ import annotations

import glob
import os
import shutil
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmesa_spark.functions.maps import merge_counts

# The reference's upsert statement (parity documentation; executed verbatim
# when this sink is pointed at JDBC instead of parquet).
UPSERT_SQL = """
INSERT INTO changesets AS c (id, measurements, counts, total_edits,
                             augmented_diffs, updated_at)
VALUES (?, ?, ?, ?, ?, now())
ON CONFLICT (id) DO UPDATE
SET measurements = merge_measurements(c.measurements, EXCLUDED.measurements),
    counts       = merge_counts(c.counts, EXCLUDED.counts),
    total_edits  = c.total_edits + EXCLUDED.total_edits,
    augmented_diffs = c.augmented_diffs || EXCLUDED.augmented_diffs,
    updated_at   = now()
WHERE NOT c.augmented_diffs && EXCLUDED.augmented_diffs
""".strip()


class ParquetUpsertTable:
    """A tiny atomic parquet table with reference-parity merge semantics."""

    def __init__(self, path: str):
        self.path = path
        self.data_dir = os.path.join(path, "data")

    def read(self, spark: SparkSession) -> DataFrame | None:
        if not os.path.exists(self.data_dir):
            # a crash between _commit's two renames leaves `data` absent
            # and the previous table whole under `_old_*`: roll it back
            # (the newest one; an older one is a leftover of a crash
            # after the second rename)
            olds = glob.glob(os.path.join(self.path, "_old_*"))
            if not olds:
                return None
            os.rename(max(olds, key=os.path.getmtime), self.data_dir)
        return spark.read.parquet(self.data_dir)

    def _commit(self, df: DataFrame) -> None:
        """Write `df` beside the table, then swap it in by two renames
        (`read` rolls a swap that a crash cut in half back)."""
        tmp = os.path.join(self.path, f"_tmp_{uuid.uuid4().hex}")
        df.write.mode("overwrite").parquet(tmp)
        old = self.data_dir
        bak = os.path.join(self.path, f"_old_{uuid.uuid4().hex}")
        if os.path.exists(old):
            os.rename(old, bak)
        os.rename(tmp, old)
        if os.path.exists(bak):
            shutil.rmtree(bak)

    def upsert_stats(self, batch: DataFrame) -> None:
        """Merge a stats micro-batch: sum maps, add total_edits, union
        augmented_diffs — skipping batch rows whose sequences were already
        applied (idempotence guard).

        CONTRACT (r10 ADVICE): this method always runs exactly ONE Spark
        action over `batch`'s plan (the tmp-dir parquet write in _commit,
        on both the fresh-table and merge branches) — callers such as
        stats_stream's foreachBatch sink attach an Observation to the
        batch and block on Observation.get right after this returns, which
        only terminates because the write executed the observed plan. Any
        future backend that can return without running an action over
        `batch` must keep an equivalent action (or the caller must fall
        back to an explicit agg)."""
        spark = batch.sparkSession
        existing = self.read(spark)
        cols = [
            "id",
            "counts",
            "measurements",
            "total_edits",
            "augmented_diffs",
        ]
        batch = batch.select(*cols)
        # one row per id within the batch: the PG sink upserts row-by-row so
        # a second same-(id, sequence) row would trip its own guard — merge
        # intra-batch contributions first (strictly more faithful than
        # dropping them; see ChangesetStatsForeachWriter.scala:39-73)
        from osmesa_spark.functions.maps import sum_map_values

        batch = batch.groupBy("id").agg(
            sum_map_values(F.collect_list("counts"), "bigint").alias("counts"),
            sum_map_values(F.collect_list("measurements"), "double").alias(
                "measurements"
            ),
            F.sum("total_edits").alias("total_edits"),
            F.array_distinct(
                F.flatten(F.collect_list("augmented_diffs"))
            ).alias("augmented_diffs"),
        )
        if existing is None:
            self._commit(batch)
            return
        e = existing.alias("e")
        b = batch.alias("b")
        joined = e.join(b, F.col("e.id") == F.col("b.id"), "full_outer")
        # guard: overlap of already-applied sequences with the batch's
        already = (
            F.size(
                F.array_intersect(
                    F.coalesce(F.col("e.augmented_diffs"), F.array().cast("array<int>")),
                    F.coalesce(F.col("b.augmented_diffs"), F.array().cast("array<int>")),
                )
            )
            > 0
        )
        take_batch = F.col("b.id").isNotNull() & ~already
        merged = joined.select(
            F.coalesce(F.col("e.id"), F.col("b.id")).alias("id"),
            F.when(
                take_batch, merge_counts(F.col("e.counts"), F.col("b.counts"), "bigint")
            )
            .otherwise(F.coalesce(F.col("e.counts"), F.col("b.counts")))
            .alias("counts"),
            F.when(
                take_batch,
                merge_counts(
                    F.col("e.measurements"), F.col("b.measurements"), "double"
                ),
            )
            .otherwise(F.coalesce(F.col("e.measurements"), F.col("b.measurements")))
            .alias("measurements"),
            (
                F.coalesce(F.col("e.total_edits"), F.lit(0))
                + F.when(take_batch, F.coalesce(F.col("b.total_edits"), F.lit(0)))
                .otherwise(F.lit(0))
            ).alias("total_edits"),
            F.when(
                take_batch,
                F.array_union(
                    F.coalesce(F.col("e.augmented_diffs"), F.array().cast("array<int>")),
                    F.coalesce(F.col("b.augmented_diffs"), F.array().cast("array<int>")),
                ),
            )
            .otherwise(
                F.coalesce(
                    F.col("e.augmented_diffs"), F.col("b.augmented_diffs")
                )
            )
            .alias("augmented_diffs"),
        )
        self._commit(merged)


class CheckpointTable:
    """(proc_name, sequence) upsert — DbUtils.saveLocations parity (S10)."""

    def __init__(self, path: str):
        self.path = path

    def save(self, proc_name: str, sequence: int) -> None:
        import json

        os.makedirs(self.path, exist_ok=True)
        # temp file + os.replace: a reader (or a crash) never sees a torn
        # checkpoint; the temp name does not end in .json, so readers
        # listing checkpoints skip it
        path = os.path.join(self.path, f"{proc_name}.json")
        with open(path + ".tmp", "w") as f:
            json.dump({"proc_name": proc_name, "sequence": sequence}, f)
        os.replace(path + ".tmp", path)

    def load(self, proc_name: str) -> int | None:
        import json

        p = os.path.join(self.path, f"{proc_name}.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["sequence"]


class UsersTable(ParquetUpsertTable):
    """users(id, name) upsert with the reference's username-update rule:
    a changeset batch may carry a NEW name for a known uid — last write
    wins (`UpdateUsernamesQuery`, ChangesetStatsForeachWriter.scala:90-104).
    """

    def upsert_users(self, batch: DataFrame) -> None:
        spark = batch.sparkSession
        # one row per uid in the batch; deterministic latest = max(name)
        # within a batch (the PG writer's row order is arbitrary too)
        batch = batch.select("id", "name").groupBy("id").agg(
            F.max("name").alias("name")
        )
        existing = self.read(spark)
        if existing is None:
            self._commit(batch)
            return
        e, b = existing.alias("e"), batch.alias("b")
        merged = e.join(b, F.col("e.id") == F.col("b.id"), "full_outer").select(
            F.coalesce(F.col("e.id"), F.col("b.id")).alias("id"),
            # batch name wins when present — the UPDATE branch
            F.coalesce(F.col("b.name"), F.col("e.name")).alias("name"),
        )
        self._commit(merged)


def _assign_serial_ids(
    new_tags: DataFrame, base: int, n_salt: int = 64
) -> DataFrame:
    """Deterministic contiguous ids (base+1 .. base+n) for a frame of
    distinct `hashtag` strings — WITHOUT a dictionary-wide total order.

    Two-phase salted assignment: row_number within hash-salted buckets
    (each window partition ≈ dictionary/n_salt rows), then per-bucket
    offsets from the n_salt-row count table (the one unpartitioned window
    is over exactly n_salt rows — constant-bounded). A single
    `row_number().over(Window.orderBy(...))` would sort the whole
    dictionary in ONE task; the dictionary is dimension-sized (distinct
    hashtags, not changesets), but at planet backfill it can reach
    millions of rows — this keeps the largest single-task frame at
    dictionary/n_salt. Assignment is deterministic (fixed xxhash64 salt,
    per-bucket hashtag order) so replays produce identical ids; the
    global order is salt-major rather than alphabetical, which no
    consumer depends on (ids are opaque serials, only STABILITY is
    contractual)."""
    from pyspark.sql import Window

    salted = new_tags.withColumn(
        "__salt", F.pmod(F.xxhash64("hashtag"), F.lit(n_salt))
    )
    w_bucket = Window.partitionBy("__salt").orderBy("hashtag")
    w_offsets = Window.orderBy("__salt").rowsBetween(
        Window.unboundedPreceding, -1
    )
    counts = salted.groupBy("__salt").agg(F.count(F.lit(1)).alias("__n"))
    offsets = counts.select(
        "__salt",
        F.coalesce(F.sum("__n").over(w_offsets), F.lit(0)).alias("__off"),
    )
    return (
        salted.join(F.broadcast(offsets), "__salt")
        .select(
            (
                F.row_number().over(w_bucket) + F.col("__off") + F.lit(base)
            ).cast("bigint").alias("id"),
            "hashtag",
        )
    )


class HashtagDictTable(ParquetUpsertTable):
    """hashtags(id, hashtag) dictionary with stable serial ids — the
    reference's `INSERT ... ON CONFLICT DO NOTHING RETURNING id` dance
    (ChangesetMetadataForeachWriter.scala:16-110): existing hashtags keep
    their id forever; new ones get ids above the current max. `lookup`
    returns the full dictionary for joining changesets_hashtags rows."""

    def upsert_hashtags(self, batch: DataFrame) -> DataFrame:
        spark = batch.sparkSession
        tags = batch.select(F.lower(F.col("hashtag")).alias("hashtag")).distinct()
        existing = self.read(spark)
        if existing is None:
            self._commit(_assign_serial_ids(tags, base=0))
            return self.read(spark)
        new = tags.join(existing, "hashtag", "left_anti")
        if new.isEmpty():
            return existing
        base = existing.agg(F.max("id")).first()[0] or 0
        assigned = _assign_serial_ids(new, base=base)
        self._commit(existing.unionByName(assigned))
        return self.read(spark)


class ErrorsTable(ParquetUpsertTable):
    """Dead-letter `errors` table (deployment/sql/05-errors.sql shape,
    written by the ErrorHandler at
    StreamingChangesetStatsUpdater.scala:149-216): unparseable replication
    payloads land here with their sequence so an operator can replay or
    inspect them.

    Parquet twin of the PG table's `ON CONFLICT DO NOTHING`: rows are
    keyed by (sequence, payload hash) and re-deliveries of an
    already-recorded error are anti-joined away — append-only otherwise,
    so the table is safe under foreachBatch retries."""

    def append_errors(self, batch: DataFrame) -> None:
        keyed = batch.select(
            "ts",
            F.col("sequence").cast("int").alias("sequence"),
            "payload",
            F.xxhash64("payload").alias("payload_hash"),
        ).dropDuplicates(["sequence", "payload_hash"])
        existing = self.read(batch.sparkSession)
        if existing is not None:
            keyed = keyed.join(
                existing.select("sequence", "payload_hash"),
                ["sequence", "payload_hash"],
                "left_anti",
            )
            if keyed.isEmpty():
                return
            self._commit(existing.unionByName(keyed))
        else:
            self._commit(keyed)
