"""Multimodal columns: image/audio/video as opaque `binary` + typed metadata.

Extension surface for the training-data pipeline (BASELINE.json north star).
Design: the Spark-side plumbing — schemas, Arrow-batched `mapInPandas`
pipelines, partition sizing — is real and tested; the actual media codecs
(PIL/ffmpeg/librosa) are NOT in this container, so the decode kernel is
gated: real libraries if importable, else a deterministic synthetic decoder
for our self-describing fake format, else NotImplementedError.

Fake format (deterministic, generated by synthesize_media):
    b"OSMM" | 1-byte kind (0=img,1=audio,2=video) | 2-byte width | 2-byte
    height | payload bytes

Scale notes: media rows are large — the pipelines below never shuffle
payload bytes (feature extraction happens before any groupBy, metadata-only
columns flow onward), and `spark.sql.files.maxPartitionBytes` bounds scan
tasks. `mapInPandas` batches are capped by arrow.maxRecordsPerBatch so
executor RSS stays bounded regardless of blob size. Kernels are written as
pure pandas-batch functions so adjacent media stages can be FUSED into one
`mapInPandas` pass (`fused_pipeline`): each un-fused stage boundary ships
every payload byte JVM→Python→JVM through Arrow, which at 100 TB is the
dominant cost, not the kernel math.
"""

from __future__ import annotations

import struct
from collections.abc import Callable, Iterator

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osmesa_spark.operators.dedup import _band_pairs
from osmesa_spark.session import ship_package
from osmesa_spark.util import ensure_parallelism

try:  # real decoder path (absent in this container)
    from PIL import Image  # noqa: F401

    HAVE_PIL = True
except Exception:  # pragma: no cover
    HAVE_PIL = False

MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),  # image|audio|video
        T.StructField("payload", T.BinaryType()),
        T.StructField(
            "meta",
            T.StructType(
                [
                    T.StructField("width", T.IntegerType()),
                    T.StructField("height", T.IntegerType()),
                    T.StructField("n_bytes", T.IntegerType()),
                ]
            ),
        ),
    ]
)

FEATURE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType(), False),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.IntegerType()),
        T.StructField("features", T.ArrayType(T.FloatType())),  # 16-bin hist
    ]
)

_KINDS = np.array(["image", "audio", "video"])


# ---------------------------------------------------------------------------
# pandas-batch kernels (pure pdf -> pdf; composable, fusable)
# ---------------------------------------------------------------------------

def _synthesize_batch(
    pdf: pd.DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> pd.DataFrame:
    ids = pdf[id_col].to_numpy(dtype="int64")
    kinds = (ids % 3).astype("int64")
    ws = (16 + ids % 64).astype("int32")
    hs = (16 + (ids * 7) % 64).astype("int32")
    headers = [
        struct.pack(">4sBHH", b"OSMM", int(k), int(w), int(h))
        for k, w, h in zip(kinds, ws, hs)
    ]
    blobs = [
        hdr + ("" if t is None else str(t)).encode("utf-8")
        for hdr, t in zip(headers, pdf[text_col])
    ]
    return pd.DataFrame(
        {
            "media_id": ids,
            "kind": _KINDS[kinds],
            "payload": blobs,
            "meta": [
                {"width": int(w), "height": int(h), "n_bytes": len(b)}
                for w, h, b in zip(ws, hs, blobs)
            ],
        }
    )


def _decode_payload(blob: bytes) -> tuple[int, int, int, np.ndarray]:
    """(kind, width, height, body_bytes) for the synthetic format; real
    formats require PIL/ffmpeg (stubbed)."""
    if blob[:4] == b"OSMM":
        kind, w, h = struct.unpack(">BHH", blob[4:9])
        return kind, w, h, np.frombuffer(blob[9:], dtype=np.uint8)
    if HAVE_PIL:  # pragma: no cover - not available in this container
        raise NotImplementedError("real image decode path requires testing with PIL")
    raise NotImplementedError(
        "unknown media format and no codec library available"
    )


def _extract_batch(pdf: pd.DataFrame) -> pd.DataFrame:
    n = len(pdf)
    if n == 0:
        return pd.DataFrame(columns=[f.name for f in FEATURE_SCHEMA.fields])
    decoded = [_decode_payload(bytes(p)) for p in pdf["payload"]]
    bodies = [d[3] for d in decoded]
    lens = np.fromiter((len(b) for b in bodies), dtype="int64", count=n)
    # one flat bincount over (row_segment * 16 + bin) — no per-row histogram
    # call; bin = byte >> 4 is the 16-bin histogram over range(0, 256)
    seg = np.repeat(np.arange(n, dtype="int64"), lens)
    flat = (
        np.concatenate(bodies) if lens.sum() else np.empty(0, dtype=np.uint8)
    )
    hist = np.bincount(
        seg * 16 + (flat >> 4), minlength=n * 16
    ).reshape(n, 16)
    feats = (hist / np.maximum(hist.sum(axis=1, keepdims=True), 1)).astype(
        np.float32
    )
    return pd.DataFrame(
        {
            "media_id": pdf["media_id"].to_numpy(dtype="int64"),
            "kind": _KINDS[[d[0] for d in decoded]],
            "width": np.array([d[1] for d in decoded], dtype="int32"),
            "height": np.array([d[2] for d in decoded], dtype="int32"),
            "n_bytes": (lens + 9).astype("int32"),
            "features": list(feats),
        }
    )


def _frame_sample_batch(
    pdf: pd.DataFrame, every_n_bytes: int = 64, max_frames: int = 8
) -> pd.DataFrame:
    ids: list[int] = []
    frame_nos: list[int] = []
    checksums: list[int] = []
    for rid, payload in zip(pdf["media_id"], pdf["payload"]):
        _, _, _, body = _decode_payload(bytes(payload))
        limit = min(len(body), every_n_bytes * max_frames)
        nframes = (limit + every_n_bytes - 1) // every_n_bytes
        if not nframes:
            continue
        clipped = body[:limit].astype("int64")
        # per-frame byte sums via one reduceat instead of a python chunk loop
        sums = np.add.reduceat(clipped, np.arange(0, limit, every_n_bytes))
        ids.extend([int(rid)] * nframes)
        frame_nos.extend(range(nframes))
        checksums.extend(int(s) for s in sums)
    return pd.DataFrame(
        {
            "media_id": pd.Series(ids, dtype="int64"),
            "frame_no": pd.Series(frame_nos, dtype="int32"),
            "checksum": pd.Series(checksums, dtype="int64"),
        }
    )


def _map_batches(
    df: DataFrame, kernel: Callable[[pd.DataFrame], pd.DataFrame], schema: T.StructType
) -> DataFrame:
    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield kernel(pdf)

    ship_package(df.sparkSession)
    return df.mapInPandas(run, schema=schema)


# ---------------------------------------------------------------------------
# DataFrame-level operators
# ---------------------------------------------------------------------------

def _synthesized(
    df: DataFrame,
    id_col: str,
    text_col: str,
    kernel: Callable[[pd.DataFrame], pd.DataFrame],
    schema: T.StructType,
    *carry: str,
) -> DataFrame:
    """`kernel` over the fake media blobs synthesized from `df`'s
    (id_col, text_col) rows in the same Python worker batch: payload bytes
    never cross the Arrow boundary, whose JVM→Python→JVM serialization of
    every blob, not the kernel, is the cost at 100 TB of media. `carry`
    columns ride through unchanged (every media kernel keeps row order)."""

    def fused(pdf: pd.DataFrame) -> pd.DataFrame:
        out = kernel(_synthesize_batch(pdf, id_col, text_col))
        for c in carry:
            out[c] = pdf[c].values
        return out[schema.fieldNames()]

    spread = ensure_parallelism(df.select(id_col, text_col, *carry), id_col)
    return _map_batches(spread, fused, schema)


def synthesize_media(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Deterministic fake media blobs from a text column (test corpus):
    header OSMM + kind + dims, payload = utf8 bytes of the text."""
    return _synthesized(df, id_col, text_col, lambda m: m, MEDIA_SCHEMA)


def extract_features(media: DataFrame) -> DataFrame:
    """Arrow-batched feature extraction: 16-bin normalized byte histogram per
    blob (the stand-in for an embedding/feature kernel). Payload bytes never
    leave this stage — output is metadata + small vectors only."""
    return _map_batches(media, _extract_batch, FEATURE_SCHEMA)


def synthesize_and_extract(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fused synthesize→extract (`_synthesized`): one mapInPandas pass,
    payload bytes cross the Arrow boundary zero times."""
    return _synthesized(df, id_col, text_col, _extract_batch, FEATURE_SCHEMA)


def synthesize_and_resize(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    tw: int = 4,
    th: int = 3,
) -> DataFrame:
    """Fused synthesize→resize twin of `synthesize_and_extract`."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("out_w", T.IntegerType()),
            T.StructField("out_h", T.IntegerType()),
            T.StructField("thumb", T.ArrayType(T.LongType())),
        ]
    )
    return _synthesized(
        df, id_col, text_col, lambda m: _resize_batch(m, tw, th), schema
    )


def frame_sample(
    media: DataFrame, every_n_bytes: int = 64, max_frames: int = 8
) -> DataFrame:
    """'Video' frame sampling stand-in: emit one row per sampled chunk —
    the explode-shaped stage a real frame sampler would have."""
    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType()),
            T.StructField("frame_no", T.IntegerType()),
            T.StructField("checksum", T.LongType()),
        ]
    )
    return _map_batches(
        media.where(F.col("kind") == "video"),
        lambda pdf: _frame_sample_batch(pdf, every_n_bytes, max_frames),
        schema,
    )


def _resize_batch(pdf: pd.DataFrame, tw: int, th: int) -> pd.DataFrame:
    """Synthetic 'resize': fold the decoded body into a tw×th thumbnail by
    summing bytes per cell with a modular stride (cell = pos mod tw·th) —
    the deterministic stand-in for a real strided-mean downsample (PIL
    absent), with the real shape: decode → per-cell reduction → small
    fixed-size output, payload dropped."""
    n_cells = tw * th
    out_ids, thumbs = [], []
    for media_id, payload in zip(pdf["media_id"], pdf["payload"]):
        _, _, _, body = _decode_payload(bytes(payload))
        if len(body):
            cells = np.bincount(
                np.arange(len(body), dtype=np.int64) % n_cells,
                weights=body.astype(np.int64),
                minlength=n_cells,
            ).astype(np.int64)
        else:
            cells = np.zeros(n_cells, dtype=np.int64)
        out_ids.append(media_id)
        thumbs.append(cells.tolist())
    return pd.DataFrame(
        {
            "media_id": np.array(out_ids, dtype="int64"),
            "out_w": np.full(len(out_ids), tw, dtype="int32"),
            "out_h": np.full(len(out_ids), th, dtype="int32"),
            "thumb": thumbs,
        }
    )


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("window_no", T.IntegerType()),
        T.StructField("n_samples", T.IntegerType()),
        T.StructField("rms", T.DoubleType()),
        T.StructField("zero_crossings", T.IntegerType()),
    ]
)

# waveform centering offset: decoded bytes re-center around the text
# alphabet's midpoint so the synthetic signal actually crosses zero
_AUDIO_CENTER = 109
_AUDIO_WINDOW = 32
_AUDIO_MAX_WINDOWS = 8


def _audio_stats_batch(
    pdf: pd.DataFrame,
    window: int = _AUDIO_WINDOW,
    max_windows: int = _AUDIO_MAX_WINDOWS,
) -> pd.DataFrame:
    ids: list[int] = []
    wnos: list[int] = []
    ns: list[int] = []
    rms: list[float] = []
    zc: list[int] = []
    for rid, payload in zip(pdf["media_id"], pdf["payload"]):
        _, _, _, body = _decode_payload(bytes(payload))
        limit = min(len(body), window * max_windows)
        if not limit:
            continue
        s = body[:limit].astype("int64") - _AUDIO_CENTER
        nw = (limit + window - 1) // window
        starts = np.arange(0, limit, window)
        sq = np.add.reduceat(s * s, starts)
        counts = np.minimum(limit - starts, window)
        # sign convention: s >= 0 counts positive (zero is not a crossing
        # by itself), a crossing is a sign flip between adjacent samples
        sign = np.where(s >= 0, 1, -1)
        flips = (sign[1:] != sign[:-1]).astype("int64")
        # a flip at boundary index i belongs to the window of sample i+1
        flip_window = (np.arange(1, limit)) // window
        zc_per = np.bincount(flip_window, weights=flips, minlength=nw)
        ids.extend([int(rid)] * nw)
        wnos.extend(range(nw))
        ns.extend(int(c) for c in counts)
        rms.extend(
            float(round(float(np.sqrt(q / c)), 6))
            for q, c in zip(sq, counts)
        )
        zc.extend(int(z) for z in zc_per)
    return pd.DataFrame(
        {
            "media_id": pd.Series(ids, dtype="int64"),
            "window_no": pd.Series(wnos, dtype="int32"),
            "n_samples": pd.Series(ns, dtype="int32"),
            "rms": pd.Series(rms, dtype="float64"),
            "zero_crossings": pd.Series(zc, dtype="int32"),
        }
    )


def synthesize_and_audio_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Fused synthesize→audio-stats (the synthesize_and_extract pattern):
    blobs are born and consumed in one Python worker batch, zero Arrow
    round-trips of payload bytes; only audio-kind ids (id % 3 == 1)
    synthesize at all."""
    audio = df.where((F.col(id_col) % 3) == 1)
    return _synthesized(
        audio, id_col, text_col, _audio_stats_batch, AUDIO_STATS_SCHEMA
    )


# ---------------------------------------------------------------------------
# Perceptual-hash (dHash) image near-duplicate detection
# ---------------------------------------------------------------------------

PHASH_BITS = 60
PHASH_CELLS = PHASH_BITS + 1


def phash60(thumb: Column | str) -> Column:
    """60-bit dHash over a `PHASH_CELLS`-cell thumbnail: bit j is set when
    cell[j] > cell[j+1] (the classic difference-hash gradient sign over a
    fixed-size downsample — Krawetz's dHash, HackerFactor 2013). Pure Column arithmetic — the only Python in
    the pipeline is the kernel-defined decode/resize that produced the
    thumb. 60 bits keeps every band value positive under plain >> in both
    engines (no sign-bit games), like simhash64's token_hash_bits=60.

    Given a column NAME, the 60-term add-chain is rendered as one
    F.expr parse instead of ~480 py4j calls (see functions/litexpr.py);
    both forms build the identical expression tree."""
    if isinstance(thumb, str):
        from osmesa_spark.functions.litexpr import q as _qn

        t = _qn(thumb)
        terms = [
            f"(CASE WHEN {t}[{j}] > {t}[{j + 1}] "
            f"THEN CAST({1 << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
            for j in range(PHASH_BITS)
        ]
        return F.expr("(" + " + ".join(terms) + ")")
    bits = [
        F.when(thumb[j] > thumb[j + 1], F.lit(1 << j).cast("bigint"))
        .otherwise(F.lit(0).cast("bigint"))
        for j in range(PHASH_BITS)
    ]
    out = bits[0]
    for b in bits[1:]:  # disjoint powers of two: sum == bitwise-or
        out = out + b
    return out


def _phash_fingerprints(
    docs: DataFrame, id_col: str, text_col: str, *carry: str
) -> DataFrame:
    """(id, *carry, ph): each doc's 60-bit dHash — the fused decode →
    `PHASH_CELLS`-cell thumbnail kernel (`_synthesized`), then `phash60`
    in pure Columns. The streaming twin carries its event time."""
    schema = T.StructType(
        [T.StructField("media_id", T.LongType())]
        + [docs.schema[c] for c in carry]
        + [T.StructField("thumb", T.ArrayType(T.LongType()))]
    )
    thumbs = _synthesized(
        docs, id_col, text_col, lambda m: _resize_batch(m, PHASH_CELLS, 1),
        schema, *carry,
    )
    return thumbs.select(
        F.col("media_id").alias("id"), *carry, phash60("thumb").alias("ph")
    )


def phash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_bucket: int | None = None,
) -> DataFrame:
    """Image near-duplicate pairs by perceptual hash: decode → 61-cell
    thumbnail (`_phash_fingerprints`) → banded candidate pairs → exact
    Hamming verify, through the banded kernel `dedup._band_pairs`.

    LSH guarantee: the fingerprint splits into `max_hamming + 1` equal
    bands, so any pair within Hamming ≤ max_hamming is identical in at
    least one band (pigeonhole) — candidate recall is EXACT, not
    probabilistic. Fingerprints are computed once and shuffled as one
    narrow row per image; only same-band groups pair up. 100 TB honesty:
    a degenerate band value (e.g. all-zero thumbs from empty bodies)
    creates a quadratic bucket, which `max_bucket` bounds: over-cap
    members group by the FULL 60-bit fingerprint (star edges at hamming
    0). None (default) keeps exact all-pairs semantics.

    Returns (id_a, id_b, hamming), id_a < id_b, hamming ≤ max_hamming."""
    n_bands = max_hamming + 1
    if PHASH_BITS % n_bands:
        raise ValueError(
            f"max_hamming + 1 = {n_bands} must divide {PHASH_BITS}"
        )
    width = PHASH_BITS // n_bands
    mask = (1 << width) - 1
    return _band_pairs(
        _phash_fingerprints(docs, id_col, text_col),
        [f"shiftrightunsigned(ph, {b * width}) & {mask}" for b in range(n_bands)],
        "ph",
        f"hamming <= {max_hamming}",
        max_bucket,
    )
