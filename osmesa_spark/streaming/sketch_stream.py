"""Streaming count-min sketch: heavy-hitter counters maintained over an
unbounded keyed stream.

The CMS counter table is MERGEABLE — sketch(A ∪ B) = elementwise
counter sum of sketch(A) + sketch(B) — so a micro-batch's increments fold
into a persisted sketch with plain addition, no rescan of history. That
mergeability is exactly why production pipelines keep sketches, not exact
counts, for planetary key spaces: the stored state is the CHOSEN
depth×width cells forever, regardless of how many distinct keys the
stream has carried.

Idempotence follows the repo's committed-sequence discipline: increments
are computed PER SEQUENCE inside one batch plan (multi-sequence catch-up
batches group by sequence, no driver loop — the de-drivered tile-sink
shape), and the sketch table skips sequences it has already applied, so a
replayed micro-batch (restart without checkpoint, at-least-once delivery)
cannot double-count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmesa_spark.operators.sketches import _cms_pos
from osmesa_spark.sinks.upsert import VersionedTable


def cms_increments(
    batch: DataFrame,
    key_col: str,
    seq_col: str = "sequence",
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """Per-sequence CMS counter increments for one micro-batch: ONE plan —
    row-local cell explode, then a (sequence, row, pos) partial-agg count.
    Output rows ≤ n_sequences·depth·width."""
    cells = F.explode(
        F.array(
            *[
                F.struct(
                    F.lit(i).alias("row"),
                    _cms_pos(F.col(key_col), i, width).alias("pos"),
                )
                for i in range(depth)
            ]
        )
    )
    return (
        batch.select(F.col(seq_col).alias("sequence"), cells.alias("c"))
        .groupBy("sequence", F.col("c.row").alias("row"),
                 F.col("c.pos").alias("pos"))
        .agg(F.count(F.lit(1)).alias("inc"))
    )


class SketchTable(VersionedTable):
    """Persisted CMS counters, one `VersionedTable` commit per merge: the
    counters are the version's parquet and the applied-sequence set
    (`{"watermark", "recent"}`) is its meta.

    `merge` drops increments of already-applied sequences BEFORE summing,
    so redelivery is a no-op; the applied set is the same bookkeeping the
    MVT sink keeps per tile, held table-wide here because the sketch is
    one global object. Counters and applied set are staged together and
    committed by the one link flip, so a crash at any instant leaves them
    agreeing — replay after a crash neither double-counts nor undercounts;
    the next commit removes whatever a cut merge staged."""

    # bookkeeping bound: the explicit applied set keeps only the newest
    # MAX_RECENT sequences; everything at or below the watermark counts as
    # applied implicitly. This keeps the skip-filter expression AND the
    # metadata file O(1) on an unbounded stream — the same 1000-newest
    # discipline the MVT tile sink's committed-sequence layer uses. A
    # sequence older than 1000 newer commits that was never delivered is
    # treated as lost (at-least-once replication delivers in order).
    MAX_RECENT = 1000

    def _state(self) -> tuple[int, set[int]]:
        meta = self.meta()
        if meta is None:
            return -1, set()
        return meta["watermark"], set(meta["recent"])

    def applied(self) -> set[int]:
        """Explicitly-tracked applied sequences (the recent window only;
        sequences at or below the watermark are applied implicitly)."""
        return self._state()[1]

    def merge(self, inc: DataFrame) -> None:
        spark = inc.sparkSession
        watermark, recent = self._state()
        guard = F.col("sequence") > watermark
        if recent:
            guard = guard & ~F.col("sequence").isin(*recent)
        # one materialization of the (bounded, ≤ n_seq·depth·width rows)
        # increment plan: both the new-sequence probe and the summed add
        # read the checkpointed rows, so the micro-batch groupBy runs once
        fresh = inc.where(guard).localCheckpoint(eager=True)
        new_seqs = [r["sequence"] for r in
                    fresh.select("sequence").distinct().collect()]
        if not new_seqs:
            fresh.unpersist()
            return
        add = (
            fresh.groupBy("row", "pos")
            .agg(F.sum("inc").alias("cnt"))
        )
        existing = self.read(spark)
        merged = (
            add if existing is None
            else existing.unionByName(add)
            .groupBy("row", "pos")
            .agg(F.sum("cnt").alias("cnt"))
        )
        all_applied = sorted(recent | set(int(s) for s in new_seqs))
        kept = all_applied[-self.MAX_RECENT:]
        dropped = all_applied[: -self.MAX_RECENT]
        if dropped:
            watermark = max(watermark, dropped[-1])
        self.commit(merged, {"watermark": watermark, "recent": kept})
        fresh.unpersist()

    def estimates(self, keys: DataFrame, key_col: str,
                  depth: int = 4, width: int = 512) -> DataFrame:
        """Point estimates for `keys` against the persisted counters —
        same min-over-rows probe as the batch `cms_estimate`, with absent
        cells counting 0 (a key never seen estimates 0, not null)."""
        from osmesa_spark.operators.sketches import cms_estimate

        spark = keys.sparkSession
        sketch = self.read(spark)
        if sketch is None:
            return keys.select(key_col).withColumn(
                "est_count", F.lit(0).cast("bigint")
            )
        # a key that misses a cell entirely was never counted there: that
        # cell's counter is 0, so the min is 0 — outer-join semantics
        probes = keys.select(
            key_col,
            F.explode(
                F.array(
                    *[
                        F.struct(
                            F.lit(i).alias("row"),
                            _cms_pos(F.col(key_col), i, width).alias("pos"),
                        )
                        for i in range(depth)
                    ]
                )
            ).alias("c"),
        ).select(key_col, "c.row", "c.pos")
        return (
            probes.join(F.broadcast(sketch), ["row", "pos"], "left")
            .groupBy(key_col)
            .agg(
                F.min(F.coalesce(F.col("cnt"), F.lit(0))).alias("est_count")
            )
        )


def run_streaming_cms(
    stream: DataFrame,
    table_path: str,
    checkpoint_dir: str,
    key_col: str,
    seq_col: str = "sequence",
    depth: int = 4,
    width: int = 512,
):
    """Wire a keyed stream into a persisted CMS: foreachBatch computes the
    per-sequence increments in one plan and merges them idempotently.
    Returns the started StreamingQuery."""
    tbl = SketchTable(table_path)

    def handle(batch: DataFrame, _epoch: int) -> None:
        tbl.merge(
            cms_increments(batch, key_col, seq_col, depth=depth, width=width)
        )

    return (
        stream.writeStream.foreachBatch(handle)
        .option("checkpointLocation", checkpoint_dir)
        .start()
    )
