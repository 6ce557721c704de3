"""Composed batch apps — the runnable entry points a reference user has
(`src/apps/src/main/scala/osmesa/apps/batch/`), each a thin composition of
the engine's operators:

  * `merge_changesets` — MergeChangesets.scala:75-118: extend an existing
    changesets table with newer replication metadata, resuming from the
    table's own last-modified timestamp.
  * `footprint` — FootprintCreator.scala:40-110 + Footprints.scala: per-user
    or per-hashtag tiled edit footprints (faceted tile pyramid), with the
    optional hashtag-list file filter (S3Utils.readText / local file — S15).
  * `changeset_stats_app` / `edit_histogram_app` — the two flagship
    creators, already first-class operators (stats.changeset_stats,
    vectorgrid pyramid); wrapped here so every `src/apps/batch` entry point
    has a callable twin.

All outputs are DataFrames; writing (ORC single-file, MVT pyramid, JDBC
upsert) composes with the sinks package exactly as the reference chains
`.repartition(1).write.orc` / tile writers / ForeachWriters.
"""

from __future__ import annotations

import urllib.request

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_text_lines(uri: str) -> list[str]:
    """S3Utils.readText parity (S15): fetch a small text resource (hashtag
    allow-list) from any urllib-able URI (file://, http(s)://, s3-over-http)
    and return non-empty trimmed lowercased lines — the reference's hashtag
    normalization (FootprintCreator.scala:61-72)."""
    with urllib.request.urlopen(uri) as resp:
        text = resp.read().decode("utf-8", "replace")
    return [ln.strip().lower() for ln in text.splitlines() if ln.strip()]


# MergeChangesets drops the per-run columns before the union
_CS_COLUMNS = [
    "id", "tags", "createdAt", "open", "closedAt", "commentsCount",
    "minLat", "maxLat", "minLon", "maxLon", "numChanges", "uid", "user",
]


def merge_changesets(
    spark: SparkSession,
    existing: DataFrame,
    drop_dir: str,
    end_sequence: int | None = None,
) -> DataFrame:
    """MergeChangesets.scala:75-118: top up a changesets table with newer
    replication metadata.

    The reference derives the resume point from the table itself
    (max(coalesce(closedAt, createdAt)) → replication sequence) and unions
    the new source rows; since its start sequence is derived, overlap
    "cannot" happen — we additionally collapse id collisions keeping the
    newest row (max by coalesce(closedAt, createdAt), new side winning
    ties), so a replayed sequence range cannot duplicate ids. One
    argmax-via-max(struct) shuffle on id; no windows."""
    from osmesa_spark.functions.timeseq import timestamp_to_sequence
    from osmesa_spark.sources.replication import read_changeset_metadata

    last_modified_seq = (
        existing.agg(
            F.max(
                timestamp_to_sequence(F.coalesce("closedAt", "createdAt"))
            ).alias("s")
        ).first()["s"]
    )
    new = read_changeset_metadata(spark, drop_dir)
    if last_modified_seq is not None:
        # `sequence > NULL` would silently drop every new row on an empty
        # (or all-null-timestamp) table; bootstrap reads all sequences.
        new = new.where(F.col("sequence") > F.lit(last_modified_seq))
    if end_sequence is not None:
        new = new.where(F.col("sequence") <= end_sequence)
    unioned = new.select(*_CS_COLUMNS, F.lit(1).alias("__new")).unionByName(
        existing.select(*_CS_COLUMNS, F.lit(0).alias("__new"))
    )
    payload = F.struct(*[F.col(c) for c in _CS_COLUMNS if c != "id"])
    order_key = F.struct(
        F.coalesce("closedAt", "createdAt").alias("__ts"), F.col("__new")
    )
    return (
        unioned.groupBy("id")
        .agg(F.max_by(payload, order_key).alias("__r"))
        .select(
            "id",
            *[F.col(f"__r.{c}").alias(c) for c in _CS_COLUMNS if c != "id"],
        )
    )


def changeset_metadata_creator(
    spark: SparkSession,
    changesets_csv: str,
    comments_csv: str,
    tags_csv: str,
    users_csv: str,
) -> DataFrame:
    """ChangesetMetadataCreator.scala:107-231: assemble the authoritative
    changesets table from OSM-DB CSV dumps (changesets, changeset_tags,
    changeset_comments, users).

    Parity notes:
      * CSV option set is the reference's exactly (scala:107-112): header,
        inferSchema, multiLine, quote='"', escape='"' — comment bodies
        contain quoted newlines/commas.
      * tags: k/v rows → map per changeset (scala:122-133, 200-208); we
        assemble via sorted map_from_entries so output is deterministic
        (the reference's zip order is collect_list order).
      * comments: rows → array<struct<date,user,uid,body>> + commentsCount
        (scala:135-153, 210-231), author name left-joined from users;
        array_sort by (date, uid, body) for determinism.
      * changesets: bbox ints decode ÷1e7 (scala:156-171), open=false,
        user name left-joined, sequence=-1 (scala:179-184).

    Result columns match the CHANGESETS table shape used everywhere else
    (merge_changesets, stats), so this is the from-scratch bootstrap path.
    """
    csv_opts = {
        "header": "true",
        "inferSchema": "true",
        "multiLine": "true",
        "quote": '"',
        "escape": '"',
    }
    users = (
        spark.read.options(**csv_opts).csv(users_csv)
        .select(F.col("id").cast("long").alias("uid"),
                F.col("display_name").alias("name"))
    )
    tags = (
        spark.read.options(**csv_opts).csv(tags_csv)
        .select(
            F.col("changeset_id").cast("long").alias("id"),
            F.struct(F.col("k"), F.col("v")).alias("kv"),
        )
        .groupBy("id")
        .agg(
            F.map_from_entries(F.array_sort(F.collect_list("kv"))).alias(
                "tags"
            )
        )
    )
    comments = (
        spark.read.options(**csv_opts).csv(comments_csv)
        .select(
            F.col("changeset_id").cast("long").alias("id"),
            F.col("author_id").cast("long").alias("uid"),
            F.col("body"),
            F.col("created_at").cast("timestamp").alias("date"),
        )
        .join(users, "uid", "left")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("int").alias("commentsCount"),
            F.array_sort(
                F.collect_list(F.struct("date", F.col("name").alias("user"),
                                        "uid", "body"))
            ).alias("comments"),
        )
    )
    changesets = (
        spark.read.options(**csv_opts).csv(changesets_csv)
        .select(
            F.col("id").cast("long").alias("id"),
            F.col("created_at").cast("timestamp").alias("createdAt"),
            F.lit(False).alias("open"),
            F.col("closed_at").cast("timestamp").alias("closedAt"),
            (F.col("min_lat").cast("double") / 1e7).alias("minLat"),
            (F.col("min_lon").cast("double") / 1e7).alias("minLon"),
            (F.col("max_lat").cast("double") / 1e7).alias("maxLat"),
            (F.col("max_lon").cast("double") / 1e7).alias("maxLon"),
            F.col("num_changes").cast("int").alias("numChanges"),
            F.col("user_id").cast("long").alias("uid"),
        )
    )
    return (
        changesets.join(users, "uid", "left")
        .withColumnRenamed("name", "user")
        .join(comments, "id", "left")
        .join(tags, "id", "left")
        .withColumn(
            "commentsCount", F.coalesce("commentsCount", F.lit(0))
        )
        .withColumn("sequence", F.lit(-1))
    )


def footprint(
    spark: SparkSession,
    history: DataFrame,
    changesets: DataFrame | None = None,
    hashtags_uri: str | None = None,
    kind: str = "user",
    base_zoom: int = 10,
    cells: int = 1,
) -> DataFrame:
    """FootprintCreator parity: tiled edit footprints per entity.

    kind="user": every located node version counts toward its uid's
    footprint. kind="hashtag": node versions join their changeset's
    hashtags (requires `changesets`); `hashtags_uri` optionally restricts
    to an allow-list fetched via `read_text_lines`.

    Output: (entity, zoom, abs_col, abs_row, value) for zooms
    base_zoom..0 — the faceted pyramid (one partial-agg shuffle per level,
    facet key rides the same exchange). For the reference's vector-tile
    output, `vectorgrid.vectorize(..., key_cols=["entity"])` it and feed
    `sinks.mvt.write_tile_pyramid_grouped` with `key_col="entity"` and a
    `sequence` column (`F.lit(s)` for a one-off run): one tile tree per
    entity."""
    from osmesa_spark.functions.text import changeset_hashtags
    from osmesa_spark.operators import vectorgrid as VG

    nodes = history.where(
        (F.col("type") == "node")
        & F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
    )
    if kind == "user":
        pts = nodes.select(F.col("uid").alias("entity"), "lon", "lat")
    elif kind == "hashtag":
        if changesets is None:
            raise ValueError("kind='hashtag' requires the changesets table")
        cs_tags = changesets.select(
            F.col("id").alias("cs_id"),
            F.explode(changeset_hashtags(F.col("tags"))).alias("entity"),
        )
        if hashtags_uri is not None:
            allow = read_text_lines(hashtags_uri)
            cs_tags = cs_tags.where(F.col("entity").isin(allow))
        pts = nodes.select(
            F.col("changeset").alias("cs_id"), "lon", "lat"
        ).join(cs_tags, "cs_id")  # hashtag-bearing changesets grow with
        # the corpus — no forced broadcast; optimizer decides by size
    else:
        raise ValueError(f"unknown footprint kind: {kind!r}")
    base = VG.tile_points(
        pts, zoom=base_zoom, cells=cells, key_cols=["entity"]
    )
    return VG.pyramid(base, base_zoom=base_zoom, key_cols=["entity"])


def changeset_stats_app(
    spark: SparkSession,
    history: DataFrame,
    changesets: DataFrame,
    countries: dict | None = None,
) -> DataFrame:
    """ChangesetStatsCreator.scala:86-163 — the flagship batch pipeline."""
    from osmesa_spark.operators.stats import changeset_stats

    return changeset_stats(history, changesets, countries=countries)


def edit_histogram_app(
    spark: SparkSession,
    history: DataFrame,
    base_zoom: int = 10,
    cells: int = 1,
) -> DataFrame:
    """EditHistogramTileCreator → EditHistogram.create parity: node edit
    density pyramid (unfaceted)."""
    from osmesa_spark.operators import vectorgrid as VG

    nodes = history.where(
        (F.col("type") == "node")
        & F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
    )
    base = VG.tile_points(nodes, zoom=base_zoom, cells=cells)
    return VG.pyramid(base, base_zoom=base_zoom)


def tile_updater(
    spark: SparkSession,
    replication_dir: str,
    tile_root: str,
    schema: str = "snapshot",
    min_zoom: int = 12,
    max_zoom: int | None = None,
    start_sequence: int | None = None,
    end_sequence: int | None = None,
    wire_format: str = "flat",
    layer_name: str = "elements",
) -> int:
    """TileUpdater CLI parity (updater/TileUpdater.scala:14-140): read a
    bounded run of augmented-diff sequences from the replication source
    and apply them to the vector-tile store across the min..max zoom
    range under the chosen tile schema (snapshot | history | urchn).
    Corrupt payloads are dropped here exactly like the CLI (the streaming
    ingest is where the dead-letter errors table hangs). All zooms ride
    ONE fan-out plan and one grouped write pass (`update_tiles` unions the
    per-zoom keyings). Returns tiles touched."""
    from osmesa_spark.sinks import updater as U
    from osmesa_spark.sources import replication as R

    diffs = R.read_augmented_diffs(
        spark,
        replication_dir,
        start_sequence=start_sequence,
        end_sequence=end_sequence,
        wire_format=wire_format,
    )
    good, _ = R.split_errors(diffs)
    zooms = list(range(min_zoom, (max_zoom or min_zoom) + 1))
    return U.update_tiles(
        good, tile_root, schema=schema, zoom=zooms, layer_name=layer_name
    )


def footprint_vt_zips(
    spark: SparkSession,
    geoms: DataFrame,
    root: str,
    min_zoom: int = 10,
    max_zoom: int = 12,
) -> dict[str, int]:
    """GenerateVT batch run over REAL geometries — the bm pipeline's
    actual use (building footprints / match overlays as polygons,
    GenerateVT.scala:85-115 + 120-261): per zoom, bbox fan-out → per-tile
    clip → StrictLayer ordering (polygons area-descending) → MVT bytes →
    zip-of-8-zooms packaging. `geoms`: (id, geomType, geom array of
    {lon,lat}). All zoom levels union into one frame so the packaging
    sink sees a single pyramid. Returns {"zips": n_archives}."""
    from osmesa_spark.sinks import updater as U
    from osmesa_spark.sinks.mvt import save_pyramid_in_zips

    # one scan feeds every zoom level; lazy — the write action's first
    # zoom stage materializes the blocks
    geoms = geoms.localCheckpoint(eager=False)
    encoded = U.generate_geometry_vt(geoms, min_zoom)
    for z in range(min_zoom + 1, max_zoom + 1):
        encoded = encoded.unionByName(U.generate_geometry_vt(geoms, z))
    return {"zips": save_pyramid_in_zips(encoded, root)}


def generate_vt_zips(
    spark: SparkSession,
    history: DataFrame,
    root: str,
    base_zoom: int = 10,
    cells: int = 16,
) -> dict[str, int]:
    """GenerateVT-style batch run ≙ the reference bm pipeline
    (GenerateVT.scala:85-115 `saveInZips` call path): located node
    versions → vector-grid pyramid → per-zoom MVT encoding → zip-of-zooms
    packaging (archives keyed at zoom−(zoom%8), entries Z2-ordered).

    One pyramid build feeds every zoom level; per-zoom filtering happens
    into 8-block subtree archives by save_pyramid_in_zips (one zip holds
    up to 8 zoom levels of one subtree). Returns {"zips": n_archives}."""
    from osmesa_spark.operators import vectorgrid as VG
    from osmesa_spark.sinks.mvt import encode_tiles, save_pyramid_in_zips

    pts = history.where(
        (F.col("type") == "node")
        & F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
    ).select("lon", "lat")
    base = VG.tile_points(pts, zoom=base_zoom, cells=cells)
    vect = VG.vectorize(VG.pyramid(base, base_zoom=base_zoom), cells=cells)
    encoded = encode_tiles(vect, cells=cells)
    return {"zips": save_pyramid_in_zips(encoded, root)}


def curate_training_corpus(
    docs: DataFrame,
    mixture: dict[str, float],
    pack_budget: int = 512,
    min_quality: float = 0.5,
    split_seed: int = 7,
    mixture_seed: int = 11,
    blocklist_terms: list[str] | None = None,
) -> DataFrame:
    """End-to-end training-corpus preparation — the LLM-pipeline analogue
    of the reference's batch apps (raw table in, serving table out):

      1. `curation_pipeline`: exact-dedup keep-best + quality gate + split
         assignment, ONE shuffle;
      2. `mixture_sample` on the TRAIN split: largest train corpus at the
         target domain mixture (binding stratum kept whole);
      3. `pack_assignment`: token-budget training packs of the sampled
         train docs (per-shard windows, no global sort).

    Every stage is individually hash-oracled; the composition is too (the
    `corpus_curation_app` registry row). Token counts re-join the raw text
    by doc_id — an id equi-join bounded by the sampled train set.

    Returns (doc_id, lang, quality, n_tokens, pack_id) for the sampled
    train docs.

    `blocklist_terms` (optional) prepends the strict C4 blocklist gate —
    a row-local literal-IN census (`text.blocklist_flags`), the cheapest
    rule, so it runs before anything shuffles; default None leaves the
    pipeline byte-identical to the oracled composition."""
    from osmesa_spark.operators import curation as cur

    if blocklist_terms:
        from osmesa_spark.functions.text import blocklist_flags

        docs = docs.where(blocklist_flags("text", blocklist_terms)["keep"])
    piped = cur.curation_pipeline(docs, min_quality=min_quality,
                                  seed=split_seed)
    train = piped.where(F.col("split") == "train")
    # `sampled` feeds two branches (the text join for packing and the
    # final output join); materialize the dedup-window + sampling subtree
    # once so neither branch re-runs those shuffles — the same
    # materialized-subtree pattern as knn_ivfpq
    sampled = cur.mixture_sample(
        train, "lang", mixture, seed=mixture_seed
    ).localCheckpoint(eager=True)
    withtext = sampled.select("doc_id", "lang", "quality").join(
        docs.select("doc_id", "text"), "doc_id"
    )
    packs = cur.pack_assignment(withtext, budget=pack_budget)
    return (
        sampled.select("doc_id", "lang", "quality")
        .join(packs.withColumnRenamed("id", "doc_id"), "doc_id")
        .select("doc_id", "lang", "quality", "n_tokens", "pack_id")
    )


def neardup_dedup_corpus(
    docs: DataFrame,
    threshold: float = 0.5,
    num_hashes: int = 16,
    bands: int = 4,
    rows_per_band: int = 4,
    max_bucket: int | None = 1000,
) -> DataFrame:
    """End-to-end NEAR-duplicate corpus dedup — the fuzzy counterpart of
    `curate_training_corpus`'s exact-dedup stage (the RefinedWeb-family
    chain):

      1. MinHash signatures → banded LSH candidates (one signature pass,
         candidate surface bounded per bucket);
      2. exact n-gram Jaccard verification of candidates only;
      3. connected components over the verified pair graph (star kernel
         past the propagation budget — diameter-proof);
      4. per-cluster representative: highest quality score (rounded 4dp so
         the argmax is engine-portable), ties to the lowest id.

    Returns per-doc verdicts (doc_id, lang, component, n_members, quality,
    kept): `kept` marks the cluster representative every downstream
    training pipeline retains; singletons keep themselves. Scale shape:
    every stage is the already-audited operator; the labeling joins are id-
    and component-keyed equi-joins sized by the optimizer (the best-table
    is O(#clusters) and broadcasts while it fits)."""
    from osmesa_spark.functions.text import quality_score
    from osmesa_spark.operators import dedup as dd

    sigs = dd.minhash_signatures(docs, num_hashes=num_hashes)
    # max_bucket defaults ON here (unlike the raw operator): the shipped
    # 100 TB chain must be skew-proof out of the box — a degenerate LSH
    # bucket (empty/boilerplate collisions) routes through exact
    # full-signature star edges instead of an O(n²) pair explosion
    cand = dd.lsh_candidate_pairs(
        sigs, bands=bands, rows_per_band=rows_per_band, max_bucket=max_bucket
    )
    verified = dd.jaccard_verify(docs, cand, threshold=threshold)
    comp = dd.connected_components(verified.select("id_a", "id_b"))
    scored = docs.select(
        "doc_id", "lang", F.round(quality_score("text"), 4).alias("quality")
    )
    labeled = (
        scored.join(comp, scored.doc_id == comp.node, "left")
        .select(
            "doc_id", "lang", "quality",
            F.coalesce("component_id", F.col("doc_id")).alias("component"),
        )
    )
    best = (
        labeled.groupBy("component")
        .agg(
            F.max(
                F.struct(
                    F.col("quality").alias("q"),
                    (-F.col("doc_id")).alias("neg_id"),
                )
            ).alias("b"),
            F.count(F.lit(1)).alias("n_members"),
        )
        .select(
            "component",
            (-F.col("b.neg_id")).cast("bigint").alias("keep_id"),
            "n_members",
        )
    )
    return labeled.join(best, "component").select(
        "doc_id",
        "lang",
        "component",
        "n_members",
        "quality",
        (F.col("doc_id") == F.col("keep_id")).alias("kept"),
    )


def streaming_lag_report(
    checkpoint_path: str,
    now_epoch: int,
    offset_threshold: int = 10,
) -> list[dict]:
    """monitor-checkpoints.sh parity (deployment/monitor-checkpoints.sh:
    17-31): for every proc in a CheckpointTable, compute how many minutely
    replication sequences it is behind "now" and whether that crosses the
    alert threshold (reference default OFFSET_THRESHOLD=10 ≈ 10 minutes).

    The reference runs this as a psql one-liner + mailx in cron; here it
    is a driver-side readout of the same bookkeeping — the checkpoint
    table holds one tiny row per processor, so no Spark job is needed (or
    wanted) for the health probe. `now_epoch` is a parameter, not a
    wall-clock read, so tests and replays are deterministic.

    Returns [{proc_name, checkpoint, now_sequence, offset, alert}]."""
    import json as _json
    import os as _os

    from osmesa_spark.functions.timeseq import (
        SEQUENCE_EPOCH_BASE,
        SEQUENCE_INTERVAL_S,
    )

    now_seq = (now_epoch - SEQUENCE_EPOCH_BASE) // SEQUENCE_INTERVAL_S
    out = []
    if not _os.path.isdir(checkpoint_path):
        return out
    for name in sorted(_os.listdir(checkpoint_path)):
        if not name.endswith(".json"):
            continue
        with open(_os.path.join(checkpoint_path, name)) as f:
            row = _json.load(f)
        offset = now_seq - int(row["sequence"])
        out.append(
            {
                "proc_name": row["proc_name"],
                "checkpoint": int(row["sequence"]),
                "now_sequence": int(now_seq),
                "offset": int(offset),
                "alert": offset >= offset_threshold,
            }
        )
    return out


def write_training_shards(
    df: DataFrame,
    path: str,
    n_shards: int = 64,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Write a curated corpus as n deterministic shards + a loader manifest.

    Layout: `<path>/data/shard=<k>/part-*.parquet` (exactly ONE file per
    shard — `repartition(n, shard)` lines physical partitions up with the
    hash assignment, so `partitionBy` never splits a shard across files)
    and `<path>/manifest/` (a tiny parquet of per-shard n_docs, n_tokens,
    id range and an order-independent checksum).

    Reproducibility contract: re-running on the same corpus produces
    byte-identical shard MEMBERSHIP and manifest (hash-assigned, no RNG,
    no task-order dependence); a loader verifies a shard by recomputing
    the folded checksum over what it read — no sort needed. The manifest
    is written AFTER the data so a partially-written output is detectable
    by its absence (the idempotent-sink convention the tile/JDBC sinks
    use). Returns the manifest DataFrame."""
    from osmesa_spark.operators.curation import shard_assignment, shard_manifest

    sharded = shard_assignment(df, n_shards, id_col=id_col)
    (
        sharded.repartition(n_shards, "shard")
        .write.mode("overwrite")
        .partitionBy("shard")
        .parquet(path + "/data")
    )
    manifest = shard_manifest(sharded, id_col=id_col, text_col=text_col)
    manifest.coalesce(1).write.mode("overwrite").parquet(path + "/manifest")
    return manifest


def prepare_pretraining_shards(
    docs: DataFrame,
    path: str,
    mixture: dict[str, float],
    n_shards: int = 16,
    pack_budget: int = 512,
    min_quality: float = 0.5,
    neardup_threshold: float = 0.5,
) -> DataFrame:
    """Raw document table → on-disk training shards, end to end — the full
    pretraining-data pipeline as ONE composed app:

      1. `neardup_dedup_corpus`: MinHash/LSH → Jaccard verify → connected
         components → keep-best representative per near-dup cluster;
      2. `leakage_safe_split` keyed by the SAME cluster labels (zero extra
         graph work), so the split is stable even if a cluster's kept
         representative changes between runs — the split key is the
         cluster, not the doc;
      3. quality gate + `mixture_sample` on the train split (target domain
         mixture, binding stratum kept whole);
      4. `pack_assignment` into token-budget training packs;
      5. `write_training_shards`: deterministic hash shards, one file per
         shard, order-independent manifest checksums.

    Every stage is an individually hash-oracled operator; this wrapper
    adds only materialization discipline (the dup-graph verdict table and
    the sampled train set each feed two branches — localCheckpoint each
    once, never re-run the LSH/sampling shuffles). Returns the manifest.
    """
    from osmesa_spark.operators import curation as cur

    verdicts = neardup_dedup_corpus(
        docs, threshold=neardup_threshold
    ).localCheckpoint(eager=False)
    components = verdicts.select(
        F.col("doc_id").alias("node"), F.col("component").alias("component_id")
    )
    reps = verdicts.where(F.col("kept") & (F.col("quality") >= min_quality))
    split = cur.leakage_safe_split(
        reps.select("doc_id", "lang", "quality"), components
    )
    train = split.where(F.col("split") == "train")
    sampled = cur.mixture_sample(train, "lang", mixture).localCheckpoint(
        eager=False
    )
    withtext = sampled.select("doc_id", "lang", "quality", "group_key").join(
        docs.select("doc_id", "text"), "doc_id"
    )
    packs = cur.pack_assignment(withtext, budget=pack_budget)
    final = withtext.join(
        packs.select(F.col("id").alias("doc_id"), "n_tokens", "pack_id"),
        "doc_id",
    )
    return write_training_shards(final, path, n_shards=n_shards)


def dataset_datasheet(spark: SparkSession, sf_dir: str, path: str) -> dict:
    """Emit a machine-readable "datasheet" for the corpus at `sf_dir` —
    the release-documentation artifact (Gebru et al., Datasheets for
    Datasets) a training-data pipeline publishes next to its shards:

      * composition: per-language docs/tokens/distinct-texts/quality
        (`corpus_profile`) and per-source token shares with uniform-mix
        sampling weights (`source_mix_weights`);
      * duplication: near-dup cluster census (`dedup_cluster_stats`);
      * quality: decile-bin histogram — the per-doc `doc_quality_bins`
        output aggregated to ≤ 10 rows here (never per-doc rows to the
        driver);
      * contamination: near-dup pairs straddling train/test under the
        per-doc vs cluster-keyed split (`split_contamination_report`);
      * filter yield: per-language Gopher rule pass rates + overall keep
        fraction (`doc_gopher_rules` joined to language) — the "what
        would this filter set discard" transparency number release docs
        quote.

    Every section is the output of an already hash-oracled registry query
    — the datasheet adds NO new computation semantics, only assembly. All
    collected sections are bounded aggregates (languages × sources × 10
    bins × 2 policies), never corpus rows, so assembly is driver-safe at
    any corpus size. Written atomically (tmp + rename). Returns the dict."""
    import json as _json
    import os

    from osmesa_spark import queries as Q

    registry = Q.registry()

    def rows(name: str) -> list[dict]:
        return [r.asDict() for r in registry[name].spark(spark, sf_dir).collect()]

    bins = (
        registry["doc_quality_bins"]
        .spark(spark, sf_dir)
        .groupBy("quality_bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.avg("quality"), 4).alias("avg_quality"),
        )
        .orderBy("quality_bin")
    )
    gopher = (
        registry["doc_gopher_rules"]
        .spark(spark, sf_dir)
        .join(
            Q._t(spark, sf_dir, "documents").select("doc_id", "lang"),
            "doc_id",
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            *[
                F.round(F.avg(F.col(r).cast("double")), 4).alias(r)
                for r in (
                    "r_word_count", "r_word_len", "r_symbols", "r_bullets",
                    "r_ellipsis", "r_alpha_words", "r_stopwords", "keep",
                )
            ],
        )
        .orderBy("lang")
    )
    sheet = {
        "composition_by_lang": rows("corpus_profile"),
        "composition_by_source": rows("source_mix_weights"),
        "duplication_clusters": rows("dedup_cluster_stats"),
        "quality_bins": [r.asDict() for r in bins.collect()],
        "split_contamination": rows("split_contamination_report"),
        "gopher_filter_yield": [r.asDict() for r in gopher.collect()],
    }
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        _json.dump(sheet, f, indent=1, default=str)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)
    return sheet
