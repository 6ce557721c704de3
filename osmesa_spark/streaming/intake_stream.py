"""Streaming corpus intake: the end-to-end training-data INGEST pipeline
as one structured stream — the streaming face of `apps.curate_training_corpus`
/ `apps.prepare_pretraining_shards` for data that arrives continuously
(crawl snapshots, partner feeds) instead of as a one-shot corpus.

Per arriving file (micro-batch):

  0. optional C4 blocklist gate — literal-IN token census, row-local
  1. Gopher quality gate       — pure-Column rule bundle, row-local
  2. exact dedup, first-seen-wins ACROSS batches — watermark +
     dropDuplicatesWithinWatermark (state bounded by the horizon)
  3. DSIR scoring against a FROZEN log-ratio table — the target
     distribution is a fixed curation contract at ingest time, so the
     batch pays one bounded (doc, bucket) agg + a broadcast join,
     never a refit over history
  4. optional gates: DSIR importance threshold (min_logw) and/or a
     FROZEN LR quality classifier (`lr_train_weights` artifact served
     by `lr_score` — broadcast weight join, min_p threshold): together
     with (1) this is the full GPT-3-style intake — rule bundle +
     trained classifier + importance tilt + dedup
  5. durable outputs, exactly-once:
       * accepted docs land in `docs/batch=<id>/` written with
         OVERWRITE — a replayed micro-batch rewrites the same directory,
         so crash-replay cannot double-append
       * the incremental shard manifest folds the batch in via
         `ManifestTable.merge_batch` (batch-id high-watermark no-op on
         replay; one versioned commit + atomic link flip)

Scale shape: every stage is per-batch bounded — nothing rescans history;
dedup state is watermark-bounded; the ratio table is ≤ n_buckets rows and
broadcasts. The reference's streaming apps follow the same
committed-state discipline (ChangesetStatsForeachWriter idempotence
model); this module applies it to the LLM-pipeline surface.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from osmesa_spark.functions.text import gopher_quality_flags
from osmesa_spark.operators.curation import dsir_score
from osmesa_spark.streaming.dedup_stream import streaming_exact_dedup
from osmesa_spark.streaming.manifest_stream import ManifestTable


def intake_accepted_docs(
    batch: DataFrame,
    ratio: DataFrame,
    min_logw: float | None = None,
    n_buckets: int = 4096,
    seed: int = 29,
    lr_model: tuple[dict[int, float], float] | None = None,
    min_p: float | None = None,
) -> DataFrame:
    """Batch-side scoring + thresholds of an already quality-gated,
    deduplicated micro-batch: attach (n_tokens, logw) from the frozen
    DSIR ratio and drop rows under `min_logw`; when a frozen LR model
    (`lr_train_weights` output) is given, also attach its probability as
    `lr_p` and drop rows under `min_p`. Either gate may be None (keep
    everything on that axis). Also the batch/stream twin used by tests
    to oracle the stream."""
    scored = dsir_score(
        batch, ratio, id_col="doc_id", text_col="text",
        n_buckets=n_buckets, seed=seed,
    ).withColumnRenamed("id", "doc_id")
    out = batch.join(scored, "doc_id")
    if min_logw is not None:
        out = out.where(F.col("logw") >= F.lit(min_logw))
    if lr_model is not None:
        from osmesa_spark.operators.textops import lr_score

        w, b0 = lr_model
        lp = lr_score(out, w, b0, id_col="doc_id", text_col="text").select(
            F.col("id").alias("doc_id"), F.col("p").alias("lr_p")
        )
        out = out.join(lp, "doc_id")
        if min_p is not None:
            out = out.where(F.col("lr_p") >= F.lit(min_p))
    return out


def _batch_content_key(df: DataFrame) -> tuple:
    """Order-independent content fingerprint of an accepted-docs batch:
    (row count, bounded sum of per-row xxhash64 over id+text). Cheap —
    one partial agg over a single micro-batch — and only computed on the
    rare replayed-batch path. The modulus keeps the LongType sum far from
    overflow for any realistic micro-batch size."""
    row = df.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.pmod(F.xxhash64("doc_id", "text"), F.lit(2_147_483_647))
        ).alias("h"),
    ).first()
    return (row["n"], row["h"])


def run_streaming_corpus_intake(
    spark: SparkSession,
    src_dir: str,
    out_dir: str,
    ratio: DataFrame,
    schema: str = "doc_id long, text string, event_time timestamp",
    n_shards: int = 16,
    horizon: str = "10 minutes",
    min_logw: float | None = None,
    n_buckets: int = 4096,
    seed: int = 29,
    lr_model: tuple[dict[int, float], float] | None = None,
    min_p: float | None = None,
    checkpoint_dir: str | None = None,
    blocklist_terms: list[str] | None = None,
    repetition_gate: bool = False,
):
    """File-drop document stream → gated/deduped/scored docs + manifest.

    Returns the started StreamingQuery; `out_dir` gains `docs/batch=*/`
    parquet and a `manifest/` ManifestTable. The frozen `ratio` (b, lr)
    comes from `curation.dsir_ratio` trained offline. `blocklist_terms`
    (optional) prepends the strict C4 blocklist gate — a row-local
    literal-IN census, the cheapest rule, so it runs first.
    `repetition_gate=True` adds the Gopher table-A2 repetition bundle
    after the A1 quality gate — together they are the complete
    MassiveWeb rule set (both row-local projections, so gate order only
    affects which rule gets billed for a drop)."""
    docs_dir = os.path.join(out_dir, "docs")
    table = ManifestTable(os.path.join(out_dir, "manifest"),
                          n_shards=n_shards)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(src_dir)
    )
    if blocklist_terms:
        from osmesa_spark.functions.text import blocklist_flags

        stream = stream.where(
            blocklist_flags("text", blocklist_terms)["keep"]
        )
    gated = stream.where(gopher_quality_flags("text")["keep"])
    if repetition_gate:
        from osmesa_spark.functions.text import gopher_repetition_flags

        gated = gated.where(gopher_repetition_flags("text")["keep"])
    deduped = streaming_exact_dedup(
        gated, text_col="text", time_col="event_time", horizon=horizon
    ).drop("fingerprint")

    def sink(batch: DataFrame, batch_id: int) -> None:
        accepted = intake_accepted_docs(
            batch, ratio, min_logw=min_logw,
            n_buckets=n_buckets, seed=seed,
            lr_model=lr_model, min_p=min_p,
        ).localCheckpoint()  # one materialization feeds file write + manifest
        tgt = os.path.join(docs_dir, f"batch={batch_id}")
        if batch_id <= table.last_batch() and os.path.isdir(tgt):
            # A batch id at-or-below the manifest watermark whose target
            # dir already exists is either (a) a legitimate crash-replay —
            # the micro-batch is deterministic from its source file, so
            # the rewrite is content-identical and merge_batch no-ops —
            # or (b) a LOST/RESET CHECKPOINT: ids restarted at 0 and this
            # OVERWRITE would silently clobber an earlier batch while the
            # manifest keeps the old rows (docs and manifest diverge, and
            # the loss only surfaces when compact_intake_docs fails
            # verification much later). Distinguish them by content so
            # case (b) fails AT INGEST instead.
            existing = _batch_content_key(accepted.sparkSession.read.parquet(tgt))
            if existing != _batch_content_key(accepted):
                raise ValueError(
                    f"intake sink: micro-batch id {batch_id} is at or "
                    f"below the committed manifest watermark "
                    f"({table.last_batch()}) but {tgt} holds DIFFERENT "
                    f"content — the streaming checkpoint was lost or "
                    f"points at a different source. Refusing to clobber "
                    f"committed batch dirs; restore the original "
                    f"checkpoint_dir or intake into a fresh out_dir."
                )
        accepted.write.mode("overwrite").parquet(tgt)
        table.merge_batch(accepted, batch_id)

    return (
        deduped.writeStream.foreachBatch(sink)
        .option(
            "checkpointLocation",
            checkpoint_dir or os.path.join(out_dir, "_checkpoint"),
        )
        .start()
    )


def compact_intake_docs(
    spark: SparkSession,
    out_dir: str,
    target_dir: str,
    n_shards: int = 16,
    rows_per_file: int = 1_000_000,
) -> dict:
    """Compact the per-batch doc directories the streaming intake
    accumulates into a loader-friendly layout — the small-file problem
    every micro-batch file sink develops (one dir per batch → thousands
    of tiny parquet files whose open/footer overhead dominates scans).

    Reads `out_dir`/docs/batch=*/, re-derives the shard column with the
    SAME hash assignment the manifest used, and rewrites as
    `target_dir`/shard=*/ with ~`rows_per_file` rows per file
    (repartition count = ceil(total/rows_per_file), hash-spread by shard
    so same-shard rows cluster). THEN VERIFIES the loader contract before
    returning: the shard manifest recomputed from the compacted output
    must equal the committed ManifestTable row-for-row — counts, token
    sums, id ranges and the order-independent mod-prime checksum are all
    layout-invariant, so any row lost or duplicated by the rewrite fails
    loudly here instead of at training time.

    The batch dirs are left untouched; the caller swaps readers to
    `target_dir` (and may delete the batch dirs) only after this returns.

    Returns {n_docs, n_files_before, n_files_after}."""
    import glob as _glob
    import math

    from osmesa_spark.operators.curation import (
        shard_assignment,
        shard_manifest,
    )

    docs_dir = os.path.join(out_dir, "docs")
    # n_shards must MATCH the intake run's value — the manifest only
    # lists observed shards, so it cannot be recovered from row count
    table = ManifestTable(os.path.join(out_dir, "manifest"),
                          n_shards=n_shards)
    committed = table.read(spark)
    if committed is None:
        raise ValueError("compact_intake_docs: no committed manifest")

    df = spark.read.option("basePath", docs_dir).parquet(
        os.path.join(docs_dir, "batch=*")
    )
    n_docs = df.count()
    n_files_before = len(
        _glob.glob(os.path.join(docs_dir, "batch=*", "*.parquet"))
    )
    sharded = shard_assignment(
        df.drop("batch"), n_shards, id_col=table.id_col
    )
    n_out = max(1, math.ceil(n_docs / rows_per_file))
    (
        sharded.repartition(n_out, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(target_dir)
    )

    compacted = spark.read.parquet(target_dir)
    got = {
        r["shard"]: (r["n_docs"], r["n_tokens"], r["id_lo"], r["id_hi"],
                     r["checksum"])
        for r in shard_manifest(
            compacted, id_col=table.id_col, text_col=table.text_col
        ).collect()
    }
    want = {
        r["shard"]: (r["n_docs"], r["n_tokens"], r["id_lo"], r["id_hi"],
                     r["checksum"])
        for r in committed.collect()
    }
    if got != want:
        bad = sorted(
            k for k in set(got) | set(want) if got.get(k) != want.get(k)
        )
        raise ValueError(
            f"compact_intake_docs: compacted output disagrees with the "
            f"committed manifest on shards {bad} — rewrite lost or "
            f"duplicated rows; batch dirs left untouched"
        )
    n_files_after = len(
        _glob.glob(os.path.join(target_dir, "shard=*", "*.parquet"))
    )
    return {
        "n_docs": n_docs,
        "n_files_before": n_files_before,
        "n_files_after": n_files_after,
    }
