"""Streaming training-data-pipeline operators.

Two extension operators beyond the reference's streaming surface (which has
no stateful custom operators — SURVEY §2.10 "not present"), built on the
Structured Streaming primitives the reference's Spark 2.4 lacked:

* **streaming exact dedup** — `dropDuplicatesWithinWatermark` on the content
  fingerprint: an unbounded ingest stream keeps only first-seen documents,
  with state bounded by the watermark horizon instead of growing forever
  (the failure mode of naive `dropDuplicates` on a stream). This is the
  streaming twin of `operators.dedup.exact_dedup` (T8 style: same
  fingerprint expression both modes).

* **open-changeset tracker** — `applyInPandasWithState` with event-time
  timeout: accumulates per-changeset edit counts while the changeset is
  "open" and emits exactly one summary row when no edit arrives for
  `close_after` of event time (the OSM rule that changesets auto-close
  after inactivity; the reference bounds the same state with a 25 h
  stream-stream-join watermark, `MergedChangesetStreamProcessor.scala:149-153`).
  State per key is three scalars, so the operator's memory is
  O(open changesets) — the same bound the reference's join state has.

Scale notes: both operators shuffle once on their key (fingerprint /
changeset) and keep per-key state O(1); watermark/timeout horizons bound
total state independent of stream length.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from osmesa_spark.functions.text import doc_fingerprint
from osmesa_spark.functions.timeseq import sequence_to_timestamp


def streaming_exact_dedup(
    docs: DataFrame,
    text_col: str = "text",
    time_col: str = "event_time",
    horizon: str = "10 minutes",
) -> DataFrame:
    """First-seen-wins exact dedup on a document stream.

    Streaming input: watermark + `dropDuplicatesWithinWatermark` — duplicate
    state is dropped once the watermark passes, so state is bounded by
    `horizon` of event time. Bounded input: plain `dropDuplicates` on the
    same fingerprint (T8 batch/stream twin)."""
    with_fp = docs.withColumn("fingerprint", doc_fingerprint(text_col))
    if with_fp.isStreaming:
        return with_fp.withWatermark(
            time_col, horizon
        ).dropDuplicatesWithinWatermark(["fingerprint"])
    return with_fp.dropDuplicates(["fingerprint"])


CLOSED_CHANGESET_SCHEMA = T.StructType(
    [
        T.StructField("changeset", T.LongType()),
        T.StructField("edit_count", T.LongType()),
        T.StructField("first_seen", T.TimestampType()),
        T.StructField("last_seen", T.TimestampType()),
    ]
)

_STATE_SCHEMA = T.StructType(
    [
        T.StructField("edit_count", T.LongType()),
        T.StructField("first_seen_us", T.LongType()),
        T.StructField("last_seen_us", T.LongType()),
    ]
)


def open_changeset_tracker(
    changes: DataFrame, close_after_ms: int = 60_000
) -> DataFrame:
    """Stateful streaming operator: one output row per changeset, emitted
    when the event-time watermark passes `close_after_ms` beyond its last
    edit. Input needs `changeset: long` and `event_time: timestamp`
    (derive via `sequence_to_timestamp`)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.hasTimedOut:
            edit_count, first_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "changeset": [key[0]],
                    "edit_count": [edit_count],
                    "first_seen": [pd.Timestamp(first_us, unit="us")],
                    "last_seen": [pd.Timestamp(last_us, unit="us")],
                }
            )
            return
        edit_count, first_us, last_us = (
            state.get if state.exists else (0, None, None)
        )
        for pdf in pdfs:
            ts = pd.to_datetime(pdf["event_time"]).astype("int64") // 1000
            edit_count += len(pdf)
            # plain ints: GroupState serializes through JSON, which rejects
            # the numpy scalars pandas reductions return
            first_us = (
                int(ts.min()) if first_us is None else min(first_us, int(ts.min()))
            )
            last_us = (
                int(ts.max()) if last_us is None else max(last_us, int(ts.max()))
            )
        state.update((int(edit_count), first_us, last_us))
        # close when event time advances `close_after_ms` past the last edit
        state.setTimeoutTimestamp(last_us // 1000 + close_after_ms)
        yield pd.DataFrame(
            columns=["changeset", "edit_count", "first_seen", "last_seen"]
        )

    return changes.groupBy("changeset").applyInPandasWithState(
        track,
        outputStructType=CLOSED_CHANGESET_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def changes_with_event_time(changes: DataFrame, watermark: str = "0 seconds") -> DataFrame:
    """Attach sequence-derived event time (T1) + watermark — the standard
    prologue for the stateful operators above."""
    out = changes.withColumn("event_time", sequence_to_timestamp("sequence"))
    if out.isStreaming:
        out = out.withWatermark("event_time", watermark)
    return out


def streaming_phash_dedup(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    time_col: str = "event_time",
    horizon: str = "10 minutes",
) -> DataFrame:
    """First-seen-wins NEAR-duplicate image dedup on a media stream — the
    streaming twin of `multimodal.phash_pairs` at its Hamming-0 operating
    point: fused decode→thumbnail kernel, pure-Column 60-bit dHash, then
    watermarked `dropDuplicatesWithinWatermark` on the fingerprint. An
    image whose body differs only in ways the perceptual downsample
    absorbs collides on the fingerprint and is dropped; state is one row
    per distinct fingerprint inside the watermark horizon (the bounded-
    state contract of streaming_exact_dedup). Hamming ≤ k matching on a
    stream would need banded cross-row state joins — run the batch
    `phash_pairs` over the deduped sink for that.

    Returns (id, event_time, ph). Bounded input: plain dropDuplicates on
    the same fingerprint (T8 batch/stream twin)."""
    from osmesa_spark.operators.multimodal import _phash_fingerprints

    with_ph = _phash_fingerprints(docs, id_col, text_col, time_col)
    if with_ph.isStreaming:
        return with_ph.withWatermark(
            time_col, horizon
        ).dropDuplicatesWithinWatermark(["ph"])
    return with_ph.dropDuplicates(["ph"])
