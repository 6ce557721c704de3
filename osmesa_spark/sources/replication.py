"""Replication source emulation — the engine's equivalents of vectorpipe's
custom `Source.AugmentedDiffs` / `Source.Changes` / `Source.Changesets`
streaming sources (reference call sites
`src/apps/.../StreamingChangesetStatsUpdater.scala:92-108`,
`ChangeStreamProcessor.scala:92-96`, `StreamingChangesetMetadataUpdater.scala:81-100`).

The reference polls a replication HTTP endpoint on the driver and emits one
micro-batch per minutely sequence. We emulate the same contract with a
**file drop-dir**: one `<sequence>.jsonl` (or `.osc` XML) file per sequence.
Spark's file streaming source gives us exactly the reference's semantics:
  * bounded (`spark.read`) and unbounded (`spark.readStream`) over the SAME
    path and schema — the T8 dual-mode requirement;
  * `maxFilesPerTrigger` ≈ `Source.BatchSize` (T9);
  * sequence number recovered from the file name (or embedded column);
  * ordered arrival per the drop order, which is what makes the reference's
    0-second watermark sound (T2).

XML osmChange parsing (S5) runs distributed via mapInPandas — one Python
parse per file, Arrow-batched, never on the driver.
"""

from __future__ import annotations

import os
from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from osmesa_spark import schemas

# augdiff drop-dir rows are flat JSON of schemas.AUGMENTED_DIFFS

def read_augmented_diffs(
    spark: SparkSession,
    drop_dir: str,
    streaming: bool = False,
    max_files_per_trigger: int | None = 1,
    start_sequence: int | None = None,
    end_sequence: int | None = None,
    wire_format: str = "flat",
) -> DataFrame:
    """Bounded or unbounded read of the augmented-diff drop dir.
    Corrupt lines land in `_corrupt` for the dead-letter sink (S6 ErrorHandler
    semantics: StreamingChangesetStatsUpdater.scala:149-216).

    `wire_format="flat"` (default) reads per-line flattened
    AUGMENTED_DIFFS JSON; `"pairs"` reads the reference's real wire format
    — per-line {old, new} GeoJSON FeatureCollections
    (updater/package.scala:69-128) — through the same output schema."""
    if wire_format == "pairs":
        df = read_augmented_diff_pairs(
            spark, drop_dir, streaming=streaming,
            max_files_per_trigger=max_files_per_trigger,
        )
        if start_sequence is not None:
            df = df.where(F.col("sequence") >= start_sequence)
        if end_sequence is not None:
            df = df.where(F.col("sequence") <= end_sequence)
        return df
    if wire_format != "flat":
        raise ValueError(f"unknown wire_format {wire_format!r}")
    schema = T.StructType(
        schemas.AUGMENTED_DIFFS.fields + [T.StructField("_corrupt", T.StringType())]
    )
    # text scan + from_json instead of the raw json reader: identical for
    # batch and streaming, and exempt from Spark's corrupt-column-only query
    # restriction (QUERY_ONLY_CORRUPT_RECORD_COLUMN)
    pattern = os.path.join(drop_dir, "*.jsonl")
    if streaming:
        reader = spark.readStream.format("text")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        raw = reader.load(pattern)
    else:
        raw = spark.read.format("text").load(pattern)
    df = raw.select(
        F.from_json(
            F.col("value"),
            schema,
            {"mode": "PERMISSIVE", "columnNameOfCorruptRecord": "_corrupt"},
        ).alias("r"),
        F.col("_metadata.file_name").alias("_file"),
    ).select("r.*", "_file")
    # a malformed line parses to all-null fields: its sequence comes from
    # the drop file's name (`<sequence>.jsonl`, the pairs parser's
    # `seq_hint`), so dead-letter rows stay keyed per sequence
    df = df.withColumn(
        "sequence",
        F.coalesce(
            F.col("sequence"),
            F.regexp_extract("_file", r"^(\d+)\.", 1).try_cast("int"),
        ),
    ).drop("_file")
    if start_sequence is not None:
        df = df.where(F.col("sequence") >= start_sequence)
    if end_sequence is not None:
        df = df.where(F.col("sequence") <= end_sequence)
    return df


# ---------------------------------------------------------------------------
# real augmented-diff WIRE format: per-line {old, new} GeoJSON feature pairs
# (updater/package.scala:69-128 readFeatures: each line is a
# FeatureCollection MAP keyed "old"/"new"; RFC 7464 \u001e record
# separators tolerated)
# ---------------------------------------------------------------------------

def _geojson_vertices(geometry: dict) -> tuple[str, list[dict] | None]:
    """GeoJSON geometry → (geomType, VERTICES rows). Polygon keeps the
    exterior ring (the VERTICES model is single-ring — holes are folded
    upstream by the keyhole convention, like load_countries_geojson)."""
    gt = geometry.get("type")
    coords = geometry.get("coordinates")
    if gt == "Point":
        pts = [coords]
    elif gt == "LineString":
        pts = coords
    elif gt == "Polygon":
        pts = coords[0] if coords else []
    elif gt == "MultiPolygon":
        pts = coords[0][0] if coords and coords[0] else []
        gt = "Polygon"
    else:
        raise ValueError(f"unsupported geometry type {gt!r}")
    return gt, [{"lon": float(x), "lat": float(y)} for x, y, *_ in pts]


def _parse_pair_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import json

    cols = [f.name for f in schemas.AUGMENTED_DIFFS.fields] + ["_corrupt"]

    def empty_row() -> dict:
        return {c: None for c in cols}

    for pdf in batches:
        out: list[dict] = []
        for _, raw in pdf.iterrows():
            line = raw["value"].replace("\u001e", "").strip()
            if not line:
                continue
            seq_hint = None
            base = os.path.basename(str(raw.get("path", "")))
            stem = base.split(".")[0]
            if stem.isdigit():
                seq_hint = int(stem)
            try:
                fc = json.loads(line)
                feats = {
                    str(f.get("id")): f for f in fc["features"]
                }
                new = feats["new"]
                old = feats.get("old")
                props = new.get("properties") or {}
                gtype, verts = _geojson_vertices(new["geometry"])
                prev_verts = None
                if old is not None and old.get("geometry"):
                    _, prev_verts = _geojson_vertices(old["geometry"])
                row = empty_row()
                row.update(
                    sequence=int(
                        props.get("augmentedDiff", seq_hint or 0)
                    ),
                    id=int(props["id"]),
                    type=str(props.get("type", "")),
                    version=int(props["version"])
                    if props.get("version") is not None
                    else None,
                    minorVersion=int(props.get("minorVersion", 0)),
                    updated=pd.Timestamp(props["timestamp"])
                    if props.get("timestamp")
                    else None,
                    visible=bool(props.get("visible", True)),
                    tags=props.get("tags") or {},
                    prevTags=(old.get("properties") or {}).get("tags")
                    if old is not None
                    else None,
                    nds=[int(n) for n in props["nds"]]
                    if props.get("nds")
                    else None,
                    geomType=gtype,
                    geom=verts,
                    prevGeom=prev_verts,
                    changeset=int(props["changeset"])
                    if props.get("changeset") is not None
                    else None,
                    uid=int(props["uid"])
                    if props.get("uid") is not None
                    else None,
                    user=props.get("user"),
                    _corrupt=None,
                )
                out.append(row)
            except (ValueError, KeyError, TypeError, IndexError):
                row = empty_row()
                row.update(sequence=seq_hint or 0, _corrupt=line)
                out.append(row)
        yield pd.DataFrame(out, columns=cols)


def read_augmented_diff_pairs(
    spark: SparkSession,
    drop_dir: str,
    streaming: bool = False,
    max_files_per_trigger: int | None = 1,
) -> DataFrame:
    """Read the reference's REAL augmented-diff wire format — one GeoJSON
    FeatureCollection per line whose features are keyed "old"/"new"
    (updater/package.scala:69-128) — and flatten each pair into one
    AUGMENTED_DIFFS row (+_corrupt dead-letter column), so everything
    downstream (stats rollup, tile updaters, errors sink) is byte-
    compatible with the flat JSONL path. Parse is Arrow-batched Python on
    executors (kernel-defined: heterogeneous GeoJSON coordinate nesting
    has no from_json schema), one pass per line, identical for batch and
    streaming."""
    pattern = os.path.join(drop_dir, "*.jsonl")
    if streaming:
        reader = spark.readStream.format("text")
        if max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
        raw = reader.load(pattern)
    else:
        raw = spark.read.format("text").load(pattern)
    raw = raw.select(F.input_file_name().alias("path"), "value")
    from osmesa_spark.session import ship_package

    ship_package(spark)
    # nullable clones: corrupt pair lines carry nulls even in fields the
    # flattened schema declares required (the _corrupt column is the
    # contract there), and Arrow enforces declared nullability hard
    schema = T.StructType(
        [
            T.StructField(f.name, f.dataType, True)
            for f in schemas.AUGMENTED_DIFFS.fields
        ]
        + [T.StructField("_corrupt", T.StringType())]
    )
    return raw.mapInPandas(_parse_pair_batches, schema=schema)


def split_errors(df: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(good, errors) — the dead-letter split; errors mirror the reference's
    PG `errors` table shape (deployment/sql/05-errors.sql)."""
    good = df.where(F.col("_corrupt").isNull()).drop("_corrupt")
    errors = df.where(F.col("_corrupt").isNotNull()).select(
        F.current_timestamp().alias("ts"),
        F.col("sequence"),
        F.col("_corrupt").alias("payload"),
    )
    return good, errors


# ---------------------------------------------------------------------------
# osmChange XML (S5): distributed SAX-free parse via mapInPandas
# ---------------------------------------------------------------------------

def _parse_osc_batch(
    batches: Iterator[pd.DataFrame], with_errors: bool = False
) -> Iterator[pd.DataFrame]:
    import xml.etree.ElementTree as ET

    cols = [f.name for f in schemas.CHANGES.fields]
    if with_errors:
        cols = cols + ["_corrupt"]
    for pdf in batches:
        out: list[dict] = []
        for _, row in pdf.iterrows():
            seq = int(
                os.path.basename(row["path"]).split(".")[0]
            )
            try:
                root = ET.fromstring(row["content"])
            except ET.ParseError:
                # dead-letter parity with the augmented-diff source: in
                # with_errors mode the corrupt file becomes ONE row whose
                # _corrupt column carries the (truncated) payload so
                # split_errors lands it in the errors table; the default
                # mode keeps the historical drop-silently contract
                if with_errors:
                    # every field explicitly None: pandas fills missing
                    # keys with float NaN, which Arrow rejects for the
                    # map/array-typed columns (tags, nds)
                    blank = {f.name: None for f in schemas.CHANGES.fields}
                    blank["sequence"] = seq
                    blank["_corrupt"] = str(row["content"])[:512]
                    out.append(blank)
                continue
            for action in root:  # create | modify | delete
                visible = action.tag != "delete"
                for el in action:
                    tags = {
                        t.get("k"): t.get("v") for t in el.findall("tag")
                    }
                    nds = [int(nd.get("ref")) for nd in el.findall("nd")] or None
                    out.append(
                        {
                            "sequence": seq,
                            "type": el.tag,
                            "id": int(el.get("id")),
                            "version": int(el.get("version", "0")),
                            "lat": float(el.get("lat")) if el.get("lat") else None,
                            "lon": float(el.get("lon")) if el.get("lon") else None,
                            "nds": nds,
                            "tags": tags,
                            "timestamp": pd.Timestamp(el.get("timestamp"))
                            if el.get("timestamp")
                            else None,
                            "changeset": int(el.get("changeset", "0")),
                            "uid": int(el.get("uid", "0")),
                            "user": el.get("user", ""),
                            "visible": visible,
                        }
                    )
        yield pd.DataFrame(out, columns=cols)


def read_changes_xml(
    spark: SparkSession,
    drop_dir: str,
    streaming: bool = False,
    with_errors: bool = False,
) -> DataFrame:
    """osmChange XML drop-dir (<sequence>.osc) → CHANGES rows. Whole-file
    text read (distributed), XML parse in Arrow-batched Python per executor —
    the SAXBench-equivalent path (src/bench/.../SAXBench.scala).

    `with_errors=True` adds the `_corrupt` column the augmented-diff source
    carries: an unparseable .osc file yields one row with its sequence and
    truncated payload instead of vanishing, and `split_errors` routes it to
    the errors (dead-letter) table — the 05-errors.sql discipline applied
    to the XML stream too. Default False preserves the plain CHANGES
    schema for existing consumers."""
    pattern = os.path.join(drop_dir, "*.osc")
    if streaming:
        raw = (
            spark.readStream.format("text")
            .option("wholetext", "true")
            .option("maxFilesPerTrigger", 1)
            .load(pattern)
        )
    else:
        raw = spark.read.format("text").option("wholetext", "true").load(pattern)
    raw = raw.select(
        F.input_file_name().alias("path"), F.col("value").alias("content")
    )
    from osmesa_spark.session import ship_package

    ship_package(spark)
    if with_errors:
        import functools

        from pyspark.sql import types as T

        # all-nullable variant: a corrupt row legitimately has no type/id,
        # and split_errors removes such rows before downstream consumers
        # that rely on the strict CHANGES contract see them
        schema = T.StructType(
            [T.StructField(f.name, f.dataType, True)
             for f in schemas.CHANGES.fields]
            + [T.StructField("_corrupt", T.StringType())]
        )
        fn = functools.partial(_parse_osc_batch, with_errors=True)
        return raw.mapInPandas(fn, schema=schema)
    return raw.mapInPandas(_parse_osc_batch, schema=schemas.CHANGES)


def read_changeset_metadata(
    spark: SparkSession, drop_dir: str, streaming: bool = False
) -> DataFrame:
    """Changeset-metadata drop-dir (<sequence>.jsonl of CHANGESETS rows) —
    the Source.Changesets equivalent (S4)."""
    schema = schemas.CHANGESETS
    if streaming:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .json(os.path.join(drop_dir, "*.jsonl"))
        )
    return spark.read.schema(schema).json(os.path.join(drop_dir, "*.jsonl"))
