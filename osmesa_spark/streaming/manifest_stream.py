"""Streaming incremental shard manifest: micro-batches of new documents
fold into a persisted per-shard manifest (n_docs, n_tokens, id range,
order-independent checksum) without ever rescanning the corpus.

This is the streaming face of `curation.shard_manifest`: the batch
operator's checksum is a sum-fold mod a prime, i.e. a HOMOMORPHISM under
disjoint union (property-tested in tests/test_properties.py), so the
incremental update is exactly `merge_manifests(current, batch_manifest)`
— per batch we aggregate only the batch's rows and one ≤ n_shards-row
merge, never the history.

Exactly-once under foreachBatch replay: Structured Streaming redelivers a
micro-batch with the SAME batch_id after a crash, and batch ids are
strictly increasing — so unlike the replication-sequence sinks (which
need an applied-set because sequences can interleave), a single high-
watermark suffices: a batch at or below the committed watermark is a
no-op. The manifest and the watermark are one `sinks.upsert.VersionedTable`
commit (manifest parquet + `{"batch"}` meta staged in a fresh version
dir, then one atomic link flip), so a crash at any instant leaves a
fully-written version and the two can never disagree.

Reference frame: the same committed-state discipline as the reference's
tile/JDBC sinks (osmesa `ChangesetStatsForeachWriter` idempotence model);
the manifest itself is the training-loader contract from
`curation.shard_manifest`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmesa_spark.operators.curation import (
    merge_manifests,
    shard_assignment,
    shard_manifest,
)
from osmesa_spark.sinks.upsert import VersionedTable


class ManifestTable(VersionedTable):
    """Persisted shard manifest, one `VersionedTable` commit per batch:
    the manifest is the version's parquet and the applied-batch watermark
    (`{"batch"}`) is its meta, so the two flip together."""

    def __init__(self, path: str, n_shards: int = 16, id_col: str = "doc_id",
                 text_col: str = "text"):
        super().__init__(path)
        self.n_shards = n_shards
        self.id_col = id_col
        self.text_col = text_col

    def last_batch(self) -> int:
        meta = self.meta()
        return -1 if meta is None else int(meta["batch"])

    def merge_batch(self, batch: DataFrame, batch_id: int) -> None:
        """Fold one micro-batch into the committed manifest; replay of an
        already-committed batch_id is a no-op (no read, no write)."""
        if batch_id <= self.last_batch():
            return
        spark = batch.sparkSession
        inc = shard_manifest(
            shard_assignment(batch, self.n_shards, id_col=self.id_col),
            id_col=self.id_col,
            text_col=self.text_col,
        )
        existing = self.read(spark)
        merged = inc if existing is None else merge_manifests(existing, inc)
        self.commit(merged, {"batch": int(batch_id)})


def run_streaming_manifest(
    spark: SparkSession,
    src_dir: str,
    table_path: str,
    schema: str = "doc_id long, text string",
    n_shards: int = 16,
    checkpoint_dir: str | None = None,
):
    """File-drop document stream → incremental shard manifest.

    One micro-batch per dropped file (maxFilesPerTrigger=1, the
    replication-source cadence); each batch runs one bounded aggregate
    over its own rows plus an n_shards-row merge. Returns the started
    StreamingQuery; stop it via `.stop()`."""
    table = ManifestTable(table_path, n_shards=n_shards)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    writer = stream.writeStream.foreachBatch(
        lambda df, bid: table.merge_batch(df, bid)
    ).option(
        "checkpointLocation",
        checkpoint_dir or os.path.join(table_path, "_checkpoint"),
    )
    return writer.start()
