"""Streaming semantics tests (SURVEY §2.10): dual-mode sources, dead-letter
split, XML changes parse, watermarked stateful rollup, idempotent upsert
(re-delivery is a no-op), stream-stream join, checkpoint bookkeeping."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from osmesa_spark.datagen import (
    COUNTRIES,
    write_augdiff_dropdir,
    write_changes_osc_dropdir,
    write_changeset_meta_dropdir,
)
from osmesa_spark.sinks.upsert import CheckpointTable, ParquetUpsertTable
from osmesa_spark.sources import replication as R
from osmesa_spark.streaming import stats_stream as S


@pytest.fixture(scope="module")
def dirs(tmp_path_factory):
    base = tmp_path_factory.mktemp("stream_fx")
    write_augdiff_dropdir(str(base / "augdiffs"), n_sequences=4, per_seq=30, corrupt_every=17)
    write_changes_osc_dropdir(str(base / "changes"), n_sequences=3, per_seq=20)
    write_changeset_meta_dropdir(str(base / "csmeta"), n_sequences=4, per_seq=10)
    return base


def test_augdiff_batch_read_and_dead_letter(spark, dirs):
    df = R.read_augmented_diffs(spark, str(dirs / "augdiffs"))
    good, errors = R.split_errors(df)
    assert good.count() == 120  # 4 × 30 valid features
    assert errors.count() == 7  # corrupt_every=17 over 120 rows
    assert set(good.select("sequence").distinct().toPandas()["sequence"]) == {
        1000,
        1001,
        1002,
        1003,
    }


def test_sequence_bounds(spark, dirs):
    df = R.read_augmented_diffs(
        spark, str(dirs / "augdiffs"), start_sequence=1001, end_sequence=1002
    )
    good, _ = R.split_errors(df)
    seqs = set(good.select("sequence").distinct().toPandas()["sequence"])
    assert seqs == {1001, 1002}


def test_changes_xml_parse(spark, dirs):
    changes = R.read_changes_xml(spark, str(dirs / "changes"))
    rows = changes.collect()
    assert len(rows) == 60  # 3 seq × (12 create + 6 modify + 2 delete)
    assert {r["sequence"] for r in rows} == {2000, 2001, 2002}
    deleted = [r for r in rows if not r["visible"]]
    assert len(deleted) == 6
    assert all(r["tags"]["building"] == "yes" for r in rows)


def test_bounded_rollup_matches_manual(spark, dirs):
    good, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"))
    )
    rolled = S.streaming_changeset_stats(good, COUNTRIES)
    total = rolled.agg(F.sum("total_edits")).first()[0]
    assert total == good.count()  # all fixture features are tagged


def test_streaming_upsert_idempotent(spark, dirs, tmp_path):
    good_stream, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"), streaming=True)
    )
    table_path = str(tmp_path / "stats_table")
    q = S.run_streaming_stats_to_upsert(
        good_stream,
        table_path,
        str(tmp_path / "ckpt"),
        countries=COUNTRIES,
    )
    # wait until all 4 files are processed: idle status alone can race the
    # source's first listing under load — also require a committed batch
    deadline = time.time() + 120
    while time.time() < deadline:
        processed = any(
            p["numInputRows"] > 0 for p in (q.recentProgress or [])
        )
        if (
            processed
            and not q.status["isDataAvailable"]
            and not q.status["isTriggerActive"]
        ):
            time.sleep(1)
            if not q.status["isDataAvailable"]:
                break
        time.sleep(0.5)
    q.stop()
    table = ParquetUpsertTable(table_path)
    stored = table.read(spark)
    assert stored is not None, "stream committed no batches before deadline"
    first = stored.orderBy("id").collect()
    assert len(first) > 0
    total_after_stream = sum(r["total_edits"] for r in first)
    good, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"))
    )
    assert total_after_stream == good.count()

    # RE-DELIVER the same batch — the sequence guard must make it a no-op
    batch = S.streaming_changeset_stats(good, COUNTRIES).select(
        F.col("changeset").alias("id"),
        F.col("counts").cast("map<string,bigint>"),
        "measurements",
        F.col("total_edits").cast("bigint"),
        F.array(F.col("sequence")).cast("array<int>").alias("augmented_diffs"),
    )
    table.upsert_stats(batch)
    second = table.read(spark).orderBy("id").collect()
    assert sum(r["total_edits"] for r in second) == total_after_stream
    assert [r["id"] for r in second] == [r["id"] for r in first]

    # checkpoint bookkeeping recorded the last sequence
    ck = CheckpointTable(f"{table_path}/_checkpoints")
    assert ck.load("augmented-diff-stats") == 1003


def test_stream_stream_join_bounded(spark, dirs):
    # bounded run of the same join code path (T8)
    diffs, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"))
    )
    meta = R.read_changeset_metadata(spark, str(dirs / "csmeta"))
    joined = S.merged_changeset_stream(diffs, meta)
    assert joined.count() > 0
    assert "editor" in joined.columns


def test_stream_stream_join_streaming(spark, dirs, tmp_path):
    diffs, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"), streaming=True)
    )
    meta = R.read_changeset_metadata(
        spark, str(dirs / "csmeta"), streaming=True
    )
    joined = S.merged_changeset_stream(diffs, meta)
    q = (
        joined.writeStream.format("memory")
        .queryName("ss_join")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ss_ckpt"))
        .start()
    )
    deadline = time.time() + 120
    rows = 0
    while time.time() < deadline:
        rows = spark.sql("SELECT COUNT(*) FROM ss_join").first()[0]
        if rows > 0 and not q.status["isDataAvailable"]:
            break
        time.sleep(2)
    q.stop()
    assert rows > 0


def test_streaming_tile_updater_idempotent(spark, dirs, tmp_path):
    """T8 twin of the tile pipeline: stream changes -> per-sequence MVT
    upsert; replay from a fresh checkpoint must not double-count."""
    import glob
    import gzip

    from osmesa_spark.sinks import mvt
    from osmesa_spark.streaming.tiles_stream import (
        edit_tiles_for_batch,
        run_streaming_tile_updater,
    )

    root = str(tmp_path / "tiles")

    def z0_total():
        tot = 0
        for p in glob.glob(f"{root}/0/*/*.mvt.gz"):
            layers = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))
            tot += sum(f.tags["density"] for f in layers["density"])
        return tot

    changes = R.read_changes_xml(spark, str(dirs / "changes"), streaming=True)
    q = run_streaming_tile_updater(
        changes, root, str(tmp_path / "ckpt1"), zoom=6, cells=16
    )
    q.awaitTermination(120)
    bounded = R.read_changes_xml(spark, str(dirs / "changes"))
    expected = edit_tiles_for_batch(bounded, 6, 16).where(
        F.col("zoom") == 6
    ).agg(F.sum("value")).first()[0]
    assert z0_total() == expected > 0
    # replay the whole stream with a FRESH checkpoint -> sequences already
    # committed in the tiles -> totals unchanged
    q2 = run_streaming_tile_updater(
        R.read_changes_xml(spark, str(dirs / "changes"), streaming=True),
        root, str(tmp_path / "ckpt2"), zoom=6, cells=16,
    )
    q2.awaitTermination(120)
    assert z0_total() == expected


def test_streaming_faceted_tile_updater(spark, dirs, tmp_path):
    """StreamingFacetedEditHistogramTileUpdater twin: augdiff stream →
    per-facet tiles; per-facet z-base totals must equal a bounded recompute,
    and a full replay with a fresh checkpoint must be a no-op."""
    import glob
    import gzip
    from collections import defaultdict

    from osmesa_spark.sinks import mvt
    from osmesa_spark.streaming.tiles_stream import (
        faceted_edit_tiles_for_batch,
        run_streaming_faceted_tile_updater,
    )

    root = str(tmp_path / "ftiles")

    def facet_totals(zoom):
        tot = defaultdict(int)
        for p in glob.glob(f"{root}/{zoom}/*/*.mvt.gz"):
            layers = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))
            for f in layers["density"]:
                for k, v in f.tags.items():
                    if k.startswith("density:"):
                        tot[k.split(":", 1)[1]] += v
        return dict(tot)

    diffs, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"), streaming=True)
    )
    q = run_streaming_faceted_tile_updater(
        diffs, root, str(tmp_path / "fckpt1"), zoom=6, cells=16
    )
    q.awaitTermination(120)

    bounded, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"))
    )
    expected = {
        r["facet"]: r["total"]
        for r in faceted_edit_tiles_for_batch(bounded, 6, 16)
        .where(F.col("zoom") == 6)
        .groupBy("facet")
        .agg(F.sum("value").alias("total"))
        .collect()
    }
    got = facet_totals(6)
    assert got == expected
    assert got.get("building", 0) > 0 and got.get("deleted", 0) > 0
    # fresh-checkpoint replay: all sequences already committed -> unchanged
    diffs2, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"), streaming=True)
    )
    q2 = run_streaming_faceted_tile_updater(
        diffs2, root, str(tmp_path / "fckpt2"), zoom=6, cells=16
    )
    q2.awaitTermination(120)
    assert facet_totals(6) == expected


def test_streaming_hashtag_footprint(spark, dirs, tmp_path):
    """HashtagFootprintUpdater twin: changes ⋈ changeset hashtags →
    per-hashtag keyed tile trees, idempotent on replay."""
    import glob
    import gzip

    from osmesa_spark.sinks import mvt
    from osmesa_spark.streaming.tiles_stream import (
        hashtag_footprint_points,
        run_streaming_hashtag_footprint,
    )

    root = str(tmp_path / "htiles")

    def hashtag_totals(zoom):
        tot = {}
        for p in glob.glob(f"{root}/*/{zoom}/*/*.mvt.gz"):
            tag = p[len(root) + 1:].split("/", 1)[0]
            layers = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))
            tot[tag] = tot.get(tag, 0) + sum(
                f.tags["density"] for f in layers["density"]
            )
        return tot

    changes = R.read_changes_xml(spark, str(dirs / "changes"), streaming=True)
    meta = R.read_changeset_metadata(
        spark, str(dirs / "csmeta"), streaming=True
    )
    q = run_streaming_hashtag_footprint(
        changes, meta, root, str(tmp_path / "hckpt1"), zoom=6, cells=16
    )
    q.awaitTermination(180)

    bounded_pts = hashtag_footprint_points(
        R.read_changes_xml(spark, str(dirs / "changes")),
        R.read_changeset_metadata(spark, str(dirs / "csmeta")),
    )
    expected = {
        r["hashtag"]: r["n"]
        for r in bounded_pts.groupBy("hashtag")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = hashtag_totals(6)
    assert got == expected and len(got) > 1
    # replay with a fresh checkpoint: committed sequences -> unchanged
    q2 = run_streaming_hashtag_footprint(
        R.read_changes_xml(spark, str(dirs / "changes"), streaming=True),
        R.read_changeset_metadata(spark, str(dirs / "csmeta"), streaming=True),
        root,
        str(tmp_path / "hckpt2"),
        zoom=6,
        cells=16,
    )
    q2.awaitTermination(180)
    assert hashtag_totals(6) == expected


def test_streaming_user_footprint(spark, dirs, tmp_path):
    """StreamingUserFootprintTileUpdater twin: located nodes keyed by uid
    → per-user keyed tile trees, idempotent on replay."""
    import glob
    import gzip

    from osmesa_spark.sinks import mvt
    from osmesa_spark.streaming.tiles_stream import (
        run_streaming_user_footprint,
    )

    root = str(tmp_path / "utiles")

    def user_totals(zoom):
        tot = {}
        for p in glob.glob(f"{root}/*/{zoom}/*/*.mvt.gz"):
            uid = p[len(root) + 1:].split("/", 1)[0]
            layers = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))
            tot[uid] = tot.get(uid, 0) + sum(
                f.tags["density"] for f in layers["density"]
            )
        return tot

    changes = R.read_changes_xml(spark, str(dirs / "changes"), streaming=True)
    q = run_streaming_user_footprint(
        changes, root, str(tmp_path / "uckpt1"), zoom=6, cells=16
    )
    q.awaitTermination(180)

    bounded = R.read_changes_xml(spark, str(dirs / "changes"))
    expected = {
        str(r["uid"]): r["n"]
        for r in bounded.where(
            (F.col("type") == "node")
            & F.col("lat").isNotNull()
            & F.col("lon").isNotNull()
        )
        .groupBy("uid")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    got = user_totals(6)
    assert got == expected and len(got) > 1
    # replay with a fresh checkpoint: committed sequences -> unchanged
    q2 = run_streaming_user_footprint(
        R.read_changes_xml(spark, str(dirs / "changes"), streaming=True),
        root,
        str(tmp_path / "uckpt2"),
        zoom=6,
        cells=16,
    )
    q2.awaitTermination(180)
    assert user_totals(6) == expected


def test_grouped_sink_multi_sequence_batch(spark, dirs, tmp_path):
    """Task: de-drivered sink. A single bounded 'batch' spanning ALL
    sequences must write every sequence's cells in one grouped plan (no
    per-sequence driver loop) and commit every sequence id in the tiles;
    re-upserting any individual sequence afterwards is a no-op."""
    import glob
    import gzip

    from osmesa_spark.sinks import mvt
    from osmesa_spark.streaming.tiles_stream import edit_tiles_for_batch

    root = str(tmp_path / "mtiles")
    bounded = R.read_changes_xml(spark, str(dirs / "changes"))
    vec = edit_tiles_for_batch(bounded, 6, 16)
    mvt.write_tile_pyramid_grouped(vec, root, cells=16)

    def z6_total():
        tot = 0
        for p in glob.glob(f"{root}/6/*/*.mvt.gz"):
            layers = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))
            tot += sum(f.tags["density"] for f in layers["density"])
        return tot

    expected = (
        vec.where(F.col("zoom") == 6).agg(F.sum("value")).first()[0]
    )
    assert z6_total() == expected
    # all three sequences committed in the touched tiles
    some_tile = glob.glob(f"{root}/6/*/*.mvt.gz")[0]
    layers = mvt.decode_tile(gzip.decompress(open(some_tile, "rb").read()))
    committed = set(mvt.committed_sequences(layers))
    assert committed <= {2000, 2001, 2002} and committed
    # replaying one sequence alone is skipped
    one_seq = edit_tiles_for_batch(
        bounded.where(F.col("sequence") == 2000), 6, 16
    )
    mvt.write_tile_pyramid_grouped(one_seq, root, cells=16)
    assert z6_total() == expected


def test_streaming_exact_dedup(spark, tmp_path):
    """dropDuplicatesWithinWatermark keeps only first-seen content on an
    unbounded stream; the bounded twin returns the same distinct set."""
    import json
    import os

    from osmesa_spark.streaming.dedup_stream import streaming_exact_dedup

    drop = tmp_path / "docs"
    os.makedirs(drop)
    batches = [
        [("a", "the quick brown fox"), ("b", "jumped over"), ("c", "the quick brown fox")],
        [("d", "the   quick  brown fox"), ("e", "entirely new text"), ("f", "jumped over")],
    ]
    for i, rows in enumerate(batches):
        path = drop / f"{i}.json"
        with open(path, "w") as f:
            for j, (doc, text) in enumerate(rows):
                f.write(json.dumps({
                    "doc_id": doc,
                    "text": text,
                    "event_time": f"2024-01-01 00:{i:02d}:{j:02d}",
                }) + "\n")
        # the file source orders micro-batches by modification time —
        # pin them so batch 0 really arrives first
        os.utime(path, (1700000000 + i, 1700000000 + i))
    schema = "doc_id string, text string, event_time timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(drop))
    )
    deduped = streaming_exact_dedup(stream)
    q = (
        deduped.writeStream.format("memory")
        .queryName("dedup_docs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "dd_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql("SELECT doc_id FROM dedup_docs").toPandas()["doc_id"]
    # 'c' duplicates 'a' in-batch; 'd' (same text modulo whitespace) and
    # 'f' duplicate across batches within the watermark horizon
    assert sorted(got) == ["a", "b", "e"]

    bounded = spark.read.schema(schema).json(str(drop))
    assert streaming_exact_dedup(bounded).count() == 3


def test_open_changeset_tracker(spark, dirs, tmp_path):
    """applyInPandasWithState: every changeset emits exactly one summary row
    once the event-time watermark passes its inactivity timeout, with the
    bounded per-changeset edit count."""
    import json
    import shutil

    from osmesa_spark.streaming.dedup_stream import (
        changes_with_event_time,
        open_changeset_tracker,
    )

    # copy the augdiff drop-dir and append two far-future "flush" sequences:
    # the watermark lags one micro-batch, so two extra batches guarantee
    # every original changeset's timeout fires before the stream drains.
    drop = str(tmp_path / "augdiffs_flush")
    shutil.copytree(str(dirs / "augdiffs"), drop)
    for seq in (1010, 1011):
        with open(f"{drop}/{seq}.jsonl", "w") as f:
            f.write(json.dumps({
                "sequence": seq, "id": 1, "type": "node", "version": 1,
                "minorVersion": 0, "updated": "2020-01-01T00:00:00",
                "visible": True, "tags": {"building": "yes"},
                "prevTags": None, "changeset": 9999, "uid": 2,
                "user": "flush", "geomType": "Point",
                "geom": [{"lon": 0.0, "lat": 0.0}], "prevGeom": None,
            }) + "\n")

    stream, _ = R.split_errors(
        R.read_augmented_diffs(spark, drop, streaming=True)
    )
    closed = open_changeset_tracker(
        changes_with_event_time(stream), close_after_ms=60_000
    )
    q = (
        closed.writeStream.format("memory")
        .queryName("closed_cs")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "cs_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = spark.sql(
        "SELECT changeset, edit_count FROM closed_cs"
    ).toPandas()
    # exactly-once per changeset
    assert got["changeset"].is_unique
    # every original (non-flush) changeset closed, with its bounded count
    bounded, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"))
    )
    expected = {
        r["changeset"]: r["n"]
        for r in bounded.groupBy("changeset").agg(
            F.count(F.lit(1)).alias("n")
        ).collect()
    }
    emitted = dict(zip(got["changeset"], got["edit_count"]))
    emitted.pop(9999, None)
    assert emitted == expected


def test_minutely_keepup_sla(spark, tmp_path):
    """BASELINE.md functional parity proxy for the reference's implied SLA
    (deployment/monitor-checkpoints.sh:19-31): one synthetic minutely
    replication sequence must go ingest → geocoded stats rollup → idempotent
    upsert in well under 60 s — the keep-up bound for a
    1-sequence-per-minute stream."""
    drop = str(tmp_path / "minutely")
    write_augdiff_dropdir(drop, n_sequences=1, per_seq=2000, corrupt_every=0)

    t0 = time.perf_counter()
    good, _ = R.split_errors(R.read_augmented_diffs(spark, drop))
    stats = S.streaming_changeset_stats(good, COUNTRIES)
    table = ParquetUpsertTable(str(tmp_path / "stats_table"))
    table.upsert_stats(
        stats.select(
            F.col("changeset").alias("id"),
            F.col("counts").cast("map<string,bigint>"),
            "measurements",
            F.col("total_edits").cast("bigint"),
            F.array(F.col("sequence")).cast("array<int>").alias("augmented_diffs"),
        )
    )
    wall = time.perf_counter() - t0

    total = sum(r["total_edits"] for r in table.read(spark).collect())
    assert total == 2000
    assert wall < 60, f"minutely batch took {wall:.1f}s (SLA: < 60s)"


def test_users_table_latest_name_wins(spark, tmp_path):
    """S7/S8 username-update rule (UpdateUsernamesQuery parity)."""
    from osmesa_spark.sinks.upsert import UsersTable

    t = UsersTable(str(tmp_path / "users"))
    t.upsert_users(
        spark.createDataFrame([(1, "alice"), (2, "bob")], "id long, name string")
    )
    t.upsert_users(
        spark.createDataFrame(
            [(1, "alice_renamed"), (3, "carol")], "id long, name string"
        )
    )
    rows = {r["id"]: r["name"] for r in t.read(spark).collect()}
    assert rows == {1: "alice_renamed", 2: "bob", 3: "carol"}


class _Users:
    """A `UsersTable` and its three deliveries."""

    def __init__(self, spark, path):
        from osmesa_spark.sinks.upsert import UsersTable

        self.spark, self.table = spark, UsersTable(path)

    def deliver(self, i):
        rows = [[(1, "alice"), (2, "bob")], [(3, "carol")], [(4, "dan")]][i]
        self.table.upsert_users(
            self.spark.createDataFrame(rows, "id long, name string")
        )


class _Sketch:
    """A `SketchTable` fed one sequence per delivery."""

    def __init__(self, spark, path):
        from osmesa_spark.streaming.sketch_stream import SketchTable

        self.spark, self.table = spark, SketchTable(path)

    def deliver(self, i):
        from osmesa_spark.streaming.sketch_stream import cms_increments

        df = self.spark.createDataFrame(
            [(i + 1, f"user{j % (i + 2)}") for j in range(9)],
            "sequence long, uid string",
        )
        self.table.merge(cms_increments(df, "uid", depth=2, width=16))


class _Manifest:
    """A `ManifestTable` fed one micro-batch of ten docs per delivery."""

    def __init__(self, spark, path):
        from osmesa_spark.streaming.manifest_stream import ManifestTable

        self.spark, self.table = spark, ManifestTable(path, n_shards=4)

    def deliver(self, i):
        docs = self.spark.range(10 * i, 10 * i + 10).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("doc "), F.col("id")).alias("text"),
        )
        self.table.merge_batch(docs, batch_id=i)


_KINDS = {"users": _Users, "sketch": _Sketch, "manifest": _Manifest}


def _snapshot(kind):
    """(rows, meta) as a fresh table object on the same path reads them."""
    fresh = type(kind.table)(kind.table.path)
    rows = sorted(tuple(r) for r in fresh.read(kind.spark).collect())
    return rows, fresh.meta()


@pytest.fixture(scope="module")
def uncut_states(spark, tmp_path_factory):
    """Per kind, the snapshots of an uncut table after each of its three
    deliveries, built on first use."""
    states: dict = {}

    def get(name):
        if name not in states:
            kind = _KINDS[name](spark, str(tmp_path_factory.mktemp(name)))
            states[name] = []
            for i in range(3):
                kind.deliver(i)
                states[name].append(_snapshot(kind))
        return states[name]

    return get


@pytest.mark.parametrize("step", ["write", "meta", "link", "replace", "gc"])
@pytest.mark.parametrize("name", sorted(_KINDS))
def test_commit_cut_by_a_crash_reads_old_or_new(
    spark, tmp_path, monkeypatch, uncut_states, name, step
):
    """A crash cuts the second commit of a table of each kind at one step
    of `VersionedTable.commit`: right after the version write, in the
    middle of the meta write (a torn `_meta.json`), right after the link
    creation, right after the `os.replace` flip, or before the GC. A fresh
    table object then reads exactly the old rows and meta (cut before the
    flip) or exactly the new ones (cut after it), never a mix; the
    cut delivery's replay and a further delivery then commit, leaving
    exactly one version dir and no link leftover."""
    import json
    import os
    import shutil

    from pyspark.sql import DataFrameWriter

    old, new, final = uncut_states(name)
    kind = _KINDS[name](spark, str(tmp_path / "table"))
    kind.deliver(0)
    assert _snapshot(kind) == old
    path = kind.table.path

    def mine(p):
        return str(p).startswith(path)

    def after(real):
        """`real`, dying right after it acts on a path of the table (its
        second argument: the write's path, the link's name, the flip's
        target)."""
        def cut(*a, **kw):
            out = real(*a, **kw)
            if mine(a[1]):
                raise OSError(f"crash after the {step} step")
            return out
        return cut

    if step == "write":
        monkeypatch.setattr(DataFrameWriter, "parquet",
                            after(DataFrameWriter.parquet))
    elif step == "meta":
        real_dump = json.dump

        def torn(obj, f, *a, **kw):
            if not mine(getattr(f, "name", "")):
                return real_dump(obj, f, *a, **kw)
            f.write(json.dumps(obj)[:3])
            raise OSError("crash in the meta write")

        monkeypatch.setattr(json, "dump", torn)
    elif step == "link":
        monkeypatch.setattr(os, "symlink", after(os.symlink))
    elif step == "replace":
        monkeypatch.setattr(os, "replace", after(os.replace))
    else:
        real_rmtree = shutil.rmtree

        def dies(p, *a, **kw):
            if mine(p):
                raise OSError("crash before the GC")
            return real_rmtree(p, *a, **kw)

        monkeypatch.setattr(shutil, "rmtree", dies)
    with pytest.raises(OSError, match="crash"):
        kind.deliver(1)
    monkeypatch.undo()

    flipped = step in ("replace", "gc")
    assert _snapshot(kind) == (new if flipped else old)
    kind.deliver(1)
    assert _snapshot(kind) == new
    kind.deliver(2)
    assert _snapshot(kind) == final
    names = os.listdir(path)
    assert len([n for n in names if n.startswith("v_")]) == 1, names
    assert "data.tmp" not in names


def test_parquet_and_jdbc_tables_guard_the_same_batch_alike(spark, tmp_path):
    """A batch that re-delivers an applied sequence and brings a new one
    for the same changeset: both stats tables skip the replayed part and
    apply the new one, so they store equal rows."""
    from osmesa_spark.sinks.jdbc import JdbcStatsSink

    schema = (
        "id long, counts map<string,bigint>, "
        "measurements map<string,double>, total_edits long, "
        "augmented_diffs array<int>"
    )
    first = spark.createDataFrame(
        [(7, {"roads_added": 1}, {"road_km_added": 0.5}, 1, [1001])], schema
    )
    batch = spark.createDataFrame(
        [
            (7, {"roads_added": 1}, {"road_km_added": 0.5}, 1, [1001]),
            (7, {"roads_added": 2}, {"road_km_added": 1.0}, 2, [1002]),
            (8, {"pois_added": 1}, {}, 1, [1002]),
        ],
        schema,
    )
    parquet = ParquetUpsertTable(str(tmp_path / "stats"))
    jdbc = JdbcStatsSink(str(tmp_path / "stats.db"))
    for table in (parquet, jdbc):
        table.upsert_stats(first)
        table.upsert_stats(batch)
    got = [
        {
            "id": r["id"],
            "counts": dict(r["counts"]),
            "measurements": dict(r["measurements"]),
            "total_edits": r["total_edits"],
            "augmented_diffs": sorted(r["augmented_diffs"]),
        }
        for r in parquet.read(spark).orderBy("id").collect()
    ]
    assert got == jdbc.read_stats()
    assert got[0]["total_edits"] == 3
    assert got[0]["augmented_diffs"] == [1001, 1002]
    assert got[0]["measurements"] == {"road_km_added": 1.5}


def test_dead_letter_replay_appends_nothing(spark, tmp_path):
    """A malformed flat line keeps its drop file's sequence, so the errors
    table's (sequence, payload) key matches a replayed batch and
    re-appending it adds no row."""
    from osmesa_spark.sinks.upsert import ErrorsTable

    drop = tmp_path / "drop"
    drop.mkdir()
    (drop / "1005.jsonl").write_text(
        '{"sequence": 1005, "id": BROKEN-1\n{"sequence": 1005, "id": BROKEN-2\n'
    )
    _, errors = R.split_errors(R.read_augmented_diffs(spark, str(drop)))
    assert [r["sequence"] for r in errors.collect()] == [1005, 1005]
    table = ErrorsTable(str(tmp_path / "errors"))
    table.append_errors(errors)
    table.append_errors(errors)
    assert table.read(spark).count() == 2


def test_stats_with_deadletter_is_one_query(spark, dirs, tmp_path):
    """The stats and dead-letter branches share one streaming query: both
    elements of the returned pair are the same query, one query starts,
    and the checkpoint dir holds only its `stats/` checkpoint."""
    import os

    from osmesa_spark.sinks.upsert import ErrorsTable

    before = len(spark.streams.active)
    ckpt = tmp_path / "ckpt"
    stats_q, errors_q = S.run_streaming_stats_with_deadletter(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"), streaming=True),
        str(tmp_path / "stats"),
        str(tmp_path / "errors"),
        str(ckpt),
        countries=COUNTRIES,
    )
    try:
        assert stats_q is errors_q
        assert len(spark.streams.active) == before + 1
        stats_q.processAllAvailable()
    finally:
        stats_q.stop()
    assert os.listdir(ckpt) == ["stats"]
    good, errors = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"))
    )
    stored = ParquetUpsertTable(str(tmp_path / "stats")).read(spark)
    assert stored.agg(F.sum("total_edits")).first()[0] == good.count()
    # the table keys on (sequence, payload): the fixture repeats a line
    assert ErrorsTable(str(tmp_path / "errors")).read(spark).count() == (
        errors.select("sequence", "payload").distinct().count()
    )
    ingest = [
        p["observedMetrics"]["stats_ingest"] for p in stats_q.recentProgress
    ]
    assert sum(m["dead_lettered"] for m in ingest) == errors.count()
    assert sum(m["edits"] for m in ingest) == good.count()


def test_hashtag_dictionary_stable_ids(spark, tmp_path):
    """S8 insert-returning dictionary: ids never change once assigned,
    new hashtags extend above the current max, lookups are lowercase."""
    from osmesa_spark.sinks.upsert import HashtagDictTable

    t = HashtagDictTable(str(tmp_path / "hashtags"))
    first = t.upsert_hashtags(
        spark.createDataFrame(
            [("MapLesotho",), ("hotosm",)], "hashtag string"
        )
    )
    ids1 = {r["hashtag"]: r["id"] for r in first.collect()}
    assert set(ids1) == {"maplesotho", "hotosm"}
    second = t.upsert_hashtags(
        spark.createDataFrame(
            [("hotosm",), ("missingmaps",)], "hashtag string"
        )
    )
    ids2 = {r["hashtag"]: r["id"] for r in second.collect()}
    assert ids2["maplesotho"] == ids1["maplesotho"]
    assert ids2["hotosm"] == ids1["hotosm"]
    assert ids2["missingmaps"] == max(ids1.values()) + 1
    # re-delivery is a no-op
    third = t.upsert_hashtags(
        spark.createDataFrame([("HOTOSM",)], "hashtag string")
    )
    assert {r["hashtag"]: r["id"] for r in third.collect()} == ids2


def test_hashtag_serial_assignment_bounded_and_contiguous(spark):
    """The serial-id assignment must never sort the whole dictionary in
    one task (planet backfill can push the distinct-hashtag dictionary to
    millions of rows): the two-phase salted assignment's only
    unpartitioned window is the n_salt-row bucket-offset table. Ids stay
    exactly contiguous (base+1..base+n) and deterministic."""
    from osmesa_spark.plans import audit_plan
    from osmesa_spark.sinks.upsert import _assign_serial_ids

    tags = spark.createDataFrame(
        [(f"tag{i:05d}",) for i in range(1000)], "hashtag string"
    )
    out = _assign_serial_ids(tags, base=7)
    a = audit_plan(out)
    assert len(a.unpartitioned_window_lines) == 1, (
        a.unpartitioned_window_lines
    )
    assert "__n#" in a.unpartitioned_window_lines[0], (
        "the unpartitioned window must be over the n_salt-row count "
        f"table, not the dictionary: {a.unpartitioned_window_lines[0]}"
    )
    rows = out.collect()
    assert sorted(r["id"] for r in rows) == list(range(8, 1008))
    again = {r["hashtag"]: r["id"] for r in _assign_serial_ids(tags, base=7).collect()}
    assert again == {r["hashtag"]: r["id"] for r in rows}, "non-deterministic"
    # contiguity holds at ANY salt width (n_salt > |tags| leaves empty
    # buckets; n_salt=1 degenerates to the single sort) and with unicode
    # / pathological tag shapes
    weird = spark.createDataFrame(
        [("#ümlaut",), ("з",), ("a b",), ("",), ("🙂🙂",), ("x" * 255,), ("0",)],
        "hashtag string",
    )
    for n_salt in (1, 3, 64, 1024):
        ids = sorted(
            r["id"] for r in _assign_serial_ids(weird, base=100, n_salt=n_salt).collect()
        )
        assert ids == list(range(101, 108)), (n_salt, ids)


def test_windowed_agg_drops_late_data(spark, tmp_path):
    """Watermark contract (T2 generalization): a row arriving later than
    the watermark is excluded from its (already finalized) window; the
    bounded twin of the same operator counts it."""
    import json
    import os

    from osmesa_spark.streaming.windows_stream import windowed_event_counts

    drop = tmp_path / "events"
    os.makedirs(drop)
    batches = [
        # batch 0: two rows in [10:00,11:00) + one at 13:30 that moves the
        # watermark to 11:30 (2h delay) at batch end
        [("2024-01-01 10:00:00", "click"), ("2024-01-01 10:30:00", "click"),
         ("2024-01-01 13:30:00", "click")],
        # batch 1: any on-time row; at THIS batch's end the eviction
        # watermark (11:30) finalizes window [10:00,11:00) with count 2
        [("2024-01-01 13:45:00", "click")],
        # batch 2: the late row — Spark 3.4+ filters late events against
        # the PREVIOUS batch's watermark (SPARK-40925), so the drop only
        # happens one batch after eviction; this row is discarded
        [("2024-01-01 10:15:00", "click")],
    ]
    for i, rows in enumerate(batches):
        p = drop / f"{i}.json"
        with open(p, "w") as f:
            for ts, et in rows:
                f.write(json.dumps({"ts": ts, "event_type": et}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))
    schema = "ts timestamp, event_type string"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(drop))
    )
    q = (
        windowed_event_counts(stream)
        .writeStream.format("memory")
        .queryName("win_counts")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "wc_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = [
        (str(r["window_start"]), r["n_events"])
        for r in spark.sql(
            "SELECT * FROM win_counts ORDER BY window_start"
        ).collect()
    ]
    # only the finalized window is emitted, WITHOUT the late 10:15 row
    assert got == [("2024-01-01 10:00:00", 2)]

    # bounded twin: same operator, no watermark semantics — late row counted
    bounded = windowed_event_counts(spark.read.schema(schema).json(str(drop)))
    by_window = {
        str(r["window_start"]): r["n_events"] for r in bounded.collect()
    }
    assert by_window["2024-01-01 10:00:00"] == 3


def test_streaming_session_windows_finalize(spark, tmp_path):
    """session_window on a stream: sessions merge events within the gap,
    and finalize (append emit) once the watermark passes session end."""
    import json
    import os

    from osmesa_spark.streaming.windows_stream import session_event_counts

    drop = tmp_path / "sess"
    os.makedirs(drop)
    batches = [
        # u1: one 2-event session; u2: singleton session
        [("2024-01-01 10:00:00", 1), ("2024-01-01 10:10:00", 1),
         ("2024-01-01 10:05:00", 2)],
        # far-future event advances the watermark to 21:00 (2h delay),
        # closing every session that ended before it
        [("2024-01-01 23:00:00", 9)],
    ]
    for i, rows in enumerate(batches):
        p = drop / f"{i}.json"
        with open(p, "w") as f:
            for ts, uid in rows:
                f.write(json.dumps({"ts": ts, "user_id": uid}) + "\n")
        os.utime(p, (1700000000 + i, 1700000000 + i))
    stream = (
        spark.readStream.schema("ts timestamp, user_id long")
        .option("maxFilesPerTrigger", 1)
        .json(str(drop))
    )
    q = (
        session_event_counts(stream)
        .writeStream.format("memory")
        .queryName("sessions")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "s_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = {
        (r["user_id"], str(r["session_start"]), r["n_events"])
        for r in spark.sql("SELECT * FROM sessions").collect()
    }
    # u9's session is still open (watermark never passes 23:30) — absent
    assert got == {
        (1, "2024-01-01 10:00:00", 2),
        (2, "2024-01-01 10:05:00", 1),
    }


def test_bounded_rollup_polygon_countries(spark, dirs):
    """The streaming stats chain accepts polygon country rings (ray-cast)
    interchangeably with bboxes — same rollup totals either way."""
    from osmesa_spark.datagen import COUNTRY_POLYGONS

    good, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"))
    )
    bbox_total = (
        S.streaming_changeset_stats(good, COUNTRIES)
        .agg(F.sum("total_edits"))
        .first()[0]
    )
    poly_total = (
        S.streaming_changeset_stats(good, COUNTRY_POLYGONS)
        .agg(F.sum("total_edits"))
        .first()[0]
    )
    assert poly_total == bbox_total == good.count()


def test_streaming_area_delta_flows_to_measurements(spark, dirs):
    """withAreaDelta parity (StreamingChangesetStatsUpdater.scala:119):
    Polygon diffs must produce nonzero landuse/natural km² measurements."""
    good, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"))
    )
    assert good.where(F.col("geomType") == "Polygon").count() > 0
    st = S.streaming_changeset_stats(good, COUNTRIES)
    km2 = (
        st.select(F.explode("measurements"))
        .where(F.col("key").rlike("^(landuse|natural)_km2"))
        .agg(F.sum("value"))
        .first()[0]
    )
    assert km2 is not None and km2 > 0


def test_streaming_grid_geocode_dispatch(spark, dirs, tmp_path):
    """Regression: the grid geocode path must work on a STREAMING input
    (the single-split parallelism guard inspects df.rdd, which streaming
    DataFrames forbid — it must be batch-gated). Drive the stats stream
    with a country set big enough to trip the grid dispatch and compare
    totals to the bounded run of the same chain."""
    from osmesa_spark.datagen import COUNTRY_POLYGONS_GRID
    from osmesa_spark.sinks.upsert import ParquetUpsertTable
    from osmesa_spark.streaming.stats_stream import (
        run_streaming_stats_to_upsert,
        streaming_changeset_stats,
    )

    assert len(COUNTRY_POLYGONS_GRID) > 32  # grid-dispatch regime
    good, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"), streaming=True)
    )
    table = str(tmp_path / "gstats")
    q = run_streaming_stats_to_upsert(
        good, table, str(tmp_path / "gckpt"), countries=COUNTRY_POLYGONS_GRID
    )
    q.processAllAvailable()
    q.stop()
    stored = ParquetUpsertTable(table).read(spark)
    assert stored is not None
    got = stored.agg(F.sum("total_edits")).first()[0]
    bounded, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"))
    )
    want = (
        streaming_changeset_stats(bounded, countries=COUNTRY_POLYGONS_GRID)
        .agg(F.sum("total_edits"))
        .first()[0]
    )
    assert got == want and got > 0


def test_streaming_cms_matches_batch_and_replays_idempotently(spark, dirs, tmp_path):
    """Streaming CMS over two augdiff sequences: the persisted counters
    must EQUAL the batch cms_build over the same rows (mergeability is
    exact integer math), estimates must obey the never-undercount law
    against exact per-key counts, and replaying the whole stream with a
    fresh checkpoint must not change a single counter (sequence guard)."""
    from pyspark.sql import functions as F

    from osmesa_spark.operators import sketches as sk
    from osmesa_spark.sources import replication as R
    from osmesa_spark.streaming.sketch_stream import (
        SketchTable, run_streaming_cms,
    )

    table = str(tmp_path / "cms_table")
    drop = str(dirs / "augdiffs")

    def run(ckpt: str):
        good, _ = R.split_errors(
            R.read_augmented_diffs(spark, drop, streaming=True)
        )
        q = run_streaming_cms(
            good.select("sequence", "uid"), table, ckpt, key_col="uid",
            depth=4, width=64,
        )
        q.processAllAvailable()
        q.stop()

    run(str(tmp_path / "ck1"))
    tbl = SketchTable(table)
    counters = {
        (r["row"], r["pos"]): r["cnt"] for r in tbl.read(spark).collect()
    }

    good_b, _ = R.split_errors(R.read_augmented_diffs(spark, drop))
    batch_counters = {
        (r["row"], r["pos"]): r["cnt"]
        for r in sk.cms_build(
            good_b.select("uid"), "uid", depth=4, width=64
        ).collect()
    }
    assert counters == batch_counters

    exact = {
        r["uid"]: r["c"]
        for r in good_b.groupBy("uid").agg(F.count("*").alias("c")).collect()
    }
    ests = {
        r["uid"]: r["est_count"]
        for r in tbl.estimates(
            good_b.select("uid").distinct(), "uid", depth=4, width=64
        ).collect()
    }
    assert all(ests[u] >= c for u, c in exact.items())

    # full replay, fresh checkpoint, same table: every sequence already
    # applied -> counters must not move
    run(str(tmp_path / "ck2"))
    again = {
        (r["row"], r["pos"]): r["cnt"] for r in tbl.read(spark).collect()
    }
    assert again == counters


def test_sketch_table_watermark_bounds_state(spark, tmp_path):
    """The applied-sequence bookkeeping stays O(MAX_RECENT) on an
    unbounded stream: older sequences fall below the watermark and remain
    implicitly applied (re-merging one is still a no-op)."""
    from osmesa_spark.streaming.sketch_stream import SketchTable, cms_increments

    tbl = SketchTable(str(tmp_path / "wm_table"))
    tbl.MAX_RECENT = 5  # shrink the window for the test

    def batch_for(seq: int):
        df = spark.createDataFrame(
            [(seq, f"user{i % 3}") for i in range(10)],
            "sequence long, uid string",
        )
        return cms_increments(df, "uid", depth=2, width=16)

    for seq in range(1, 9):
        tbl.merge(batch_for(seq))
    wm, recent = tbl._state()
    assert len(recent) == 5 and wm == 3, (wm, recent)

    counters = {(r["row"], r["pos"]): r["cnt"]
                for r in tbl.read(spark).collect()}
    # replay a sequence BELOW the watermark: implicitly applied, no-op
    tbl.merge(batch_for(2))
    # and one inside the recent window: explicitly applied, no-op
    tbl.merge(batch_for(7))
    again = {(r["row"], r["pos"]): r["cnt"]
             for r in tbl.read(spark).collect()}
    assert again == counters


def test_sketch_table_commit_is_atomic(spark, tmp_path):
    """Crash-safety of the versioned commit: committed state is only ever
    mutated by the one CURRENT-pointer replace, so (a) a merge interrupted
    after staging its version dir but before the flip leaves the table
    exactly at the previous state (counters and applied set AGREE — no
    double count, no undercount on replay), and (b) the orphan dir is
    garbage-collected by the next successful merge."""
    import json as _json
    import os

    from osmesa_spark.streaming.sketch_stream import SketchTable, cms_increments

    tbl = SketchTable(str(tmp_path / "atomic_table"))

    def batch_for(seq: int):
        df = spark.createDataFrame(
            [(seq, f"user{i % 3}") for i in range(9)],
            "sequence long, uid string",
        )
        return cms_increments(df, "uid", depth=2, width=16)

    tbl.merge(batch_for(1))
    committed = {(r["row"], r["pos"]): r["cnt"]
                 for r in tbl.read(spark).collect()}
    wm, recent = tbl._state()
    assert recent == {1}

    # simulate a crash mid-merge: a fully-staged NEWER version dir exists
    # but the pointer was never flipped
    orphan = os.path.join(tbl.path, "v_" + "9" * 20)
    os.makedirs(os.path.join(orphan, "counters"))
    with open(os.path.join(orphan, "applied.json"), "w") as f:
        _json.dump({"watermark": -1, "recent": [1, 2]}, f)

    # reads ignore the orphan entirely: state == last committed version
    assert tbl._state() == (wm, recent)
    assert {(r["row"], r["pos"]): r["cnt"]
            for r in tbl.read(spark).collect()} == committed

    # sequence 2 was NOT committed (the orphan doesn't count), so merging
    # it applies it exactly once; the orphan is GC'd by the commit
    tbl.merge(batch_for(2))
    assert not os.path.exists(orphan)
    after = {(r["row"], r["pos"]): r["cnt"]
             for r in tbl.read(spark).collect()}
    # one sequence = 9 rows × depth 2 = 18 increments, applied exactly once
    assert sum(after.values()) == sum(committed.values()) + 18
    assert tbl._state()[1] == {1, 2}
    # exactly one committed version dir remains next to CURRENT
    versions = [n for n in os.listdir(tbl.path) if n.startswith("v_")]
    assert len(versions) == 1


def test_streaming_observe_metrics_surface_in_progress(spark, dirs, tmp_path):
    """Every committed micro-batch reports (finalized_groups, edits,
    min_seq, max_seq) through observedMetrics in the progress events — the
    keep-up dashboard feed — and the totals reconcile with the batch
    rollup over the same fixture."""
    good_stream, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"), streaming=True)
    )
    q = S.run_streaming_stats_to_upsert(
        good_stream,
        str(tmp_path / "obs_table"),
        str(tmp_path / "obs_ckpt"),
        countries=COUNTRIES,
    )
    deadline = time.time() + 120
    while time.time() < deadline:
        processed = any(
            p["numInputRows"] > 0 for p in (q.recentProgress or [])
        )
        if (
            processed
            and not q.status["isDataAvailable"]
            and not q.status["isTriggerActive"]
        ):
            time.sleep(1)
            if not q.status["isDataAvailable"]:
                break
        time.sleep(0.5)
    metrics = [
        p["observedMetrics"]["stats_ingest"]
        for p in (q.recentProgress or [])
        if "stats_ingest" in (p.get("observedMetrics") or {})
    ]
    q.stop()
    nonempty = [m for m in metrics if m["finalized_groups"] > 0]
    assert nonempty, f"no observed metrics in progress: {q.recentProgress}"
    # totals reconcile with the bounded rollup (watermark finalizes all
    # groups whose next sequence arrived; the final sequence's groups may
    # stay open, so observed totals are a prefix of the batch totals)
    good, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"))
    )
    batch = S.streaming_changeset_stats(good, COUNTRIES)
    batch_groups = batch.count()
    batch_edits = batch.agg(F.sum("total_edits")).first()[0]
    obs_groups = sum(m["finalized_groups"] for m in nonempty)
    obs_edits = sum(m["edits"] for m in nonempty)
    assert 0 < obs_groups <= batch_groups
    assert 0 < obs_edits <= batch_edits
    seqs = {s for m in nonempty for s in (m["min_seq"], m["max_seq"])}
    assert all(s >= 1000 for s in seqs), seqs


def test_streaming_phash_dedup(spark, tmp_path):
    """Watermarked perceptual dedup: exact twins collide at Hamming 0 and
    drop; a reordered body whose 61-cell sums are unchanged (characters
    swapped 61 positions apart) ALSO collides — the near-dup win an exact
    fingerprint cannot see; genuinely different content survives."""
    import json
    import os

    from osmesa_spark.streaming.dedup_stream import streaming_phash_dedup

    base = "the quick brown fox jumps over the lazy dog again and again okay"
    assert len(base) >= 63
    # swap characters 61 apart: every pos % 61 cell sum is preserved
    b = list(base)
    b[0], b[61] = b[61], b[0]
    swapped = "".join(b)
    assert swapped != base

    drop = tmp_path / "media"
    os.makedirs(drop)
    batches = [
        [(3, base), (6, "completely different content here entirely")],
        [(9, base), (12, swapped)],  # exact twin + cell-sum twin
    ]
    for i, rows in enumerate(batches):
        path = drop / f"{i}.json"
        with open(path, "w") as f:
            for j, (doc, text) in enumerate(rows):
                f.write(json.dumps({
                    "doc_id": doc,
                    "text": text,
                    "event_time": f"2024-01-01 00:{i:02d}:{j:02d}",
                }) + "\n")
        os.utime(path, (1700000100 + i, 1700000100 + i))
    schema = "doc_id long, text string, event_time timestamp"
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .json(str(drop))
    )
    q = (
        streaming_phash_dedup(stream)
        .writeStream.format("memory")
        .queryName("phash_dedup")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ph_ckpt"))
        .start()
    )
    q.processAllAvailable()
    q.stop()
    got = sorted(
        spark.sql("SELECT id FROM phash_dedup").toPandas()["id"]
    )
    assert got == [3, 6]

    bounded = spark.read.schema(schema).json(str(drop))
    assert streaming_phash_dedup(bounded).count() == 2


def test_streaming_manifest_incremental_and_replay(spark, tmp_path):
    """Two dropped files fold into the committed manifest; the result
    equals a from-scratch batch manifest of all rows; replaying an
    already-applied batch_id is a no-op; an interrupted (unpointed)
    version dir is invisible and GC'd by the next commit."""
    import os

    from pyspark.sql import functions as F

    from osmesa_spark.operators.curation import shard_assignment, shard_manifest
    from osmesa_spark.streaming.manifest_stream import (
        ManifestTable,
        run_streaming_manifest,
    )

    src = tmp_path / "incoming"
    src.mkdir()

    def docs(lo, hi):
        return spark.range(lo, hi).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("streamed doc "), F.col("id")).alias("text"),
        )

    docs(0, 200).coalesce(1).write.parquet(str(src / "b0"))
    docs(200, 350).coalesce(1).write.parquet(str(src / "b1"))

    table_path = str(tmp_path / "manifest_table")
    q = run_streaming_manifest(spark, str(src) + "/*/", table_path,
                               n_shards=4)
    q.processAllAvailable()
    q.stop()

    table = ManifestTable(table_path, n_shards=4)
    got = {r["shard"]: r.asDict()
           for r in table.read(spark).collect()}
    want = {r["shard"]: r.asDict()
            for r in shard_manifest(shard_assignment(docs(0, 350), 4)).collect()}
    assert got == want
    assert sum(r["n_docs"] for r in got.values()) == 350

    # replay: same or older batch_id must not change committed state
    last = table.last_batch()
    before = table._current_version()
    table.merge_batch(docs(0, 200), batch_id=last)
    assert table._current_version() == before

    # crash-sim: a staged version dir without a pointer flip is invisible…
    orphan = os.path.join(table_path, "v_99999999999999999999")
    os.makedirs(orphan)
    assert table._current_version() == before
    # …and the next successful commit garbage-collects it
    table.merge_batch(docs(350, 400), batch_id=last + 1)
    assert not os.path.exists(orphan)
    got2 = {r["shard"]: r.asDict() for r in table.read(spark).collect()}
    want2 = {r["shard"]: r.asDict()
             for r in shard_manifest(shard_assignment(docs(0, 400), 4)).collect()}
    assert got2 == want2


def test_augdiff_pairs_wire_format_parity(spark, dirs, tmp_path):
    """The real {old,new} GeoJSON pair wire format must flatten to EXACTLY
    the rows the flat JSONL path yields (same rng stream in datagen) —
    translator parity field by field, including prevGeom/prevTags and the
    \\u001e record separators."""
    from osmesa_spark.datagen import write_augdiff_pairs_dropdir

    pair_dir = str(tmp_path / "augdiff_pairs")
    write_augdiff_pairs_dropdir(pair_dir, n_sequences=4, per_seq=30)
    pairs, perr = R.split_errors(
        R.read_augmented_diffs(spark, pair_dir, wire_format="pairs")
    )
    flat, _ = R.split_errors(
        R.read_augmented_diffs(spark, str(dirs / "augdiffs"))
    )
    assert perr.count() == 0
    key = ["sequence", "id", "type", "version"]
    cols = key + [
        "minorVersion", "updated", "visible", "tags", "prevTags",
        "geomType", "geom", "prevGeom", "changeset", "uid", "user",
    ]
    a = {tuple(r[k] for k in key): r for r in pairs.select(cols).collect()}
    b = {tuple(r[k] for k in key): r for r in flat.select(cols).collect()}
    assert set(a) == set(b) and len(a) == 120
    for k in a:
        ra, rb = a[k], b[k]
        for c in cols:
            if c in ("geom", "prevGeom"):
                ga, gb = ra[c], rb[c]
                assert (ga is None) == (gb is None), (k, c)
                if ga is not None:
                    assert [
                        (round(p["lon"], 9), round(p["lat"], 9)) for p in ga
                    ] == [
                        (round(p["lon"], 9), round(p["lat"], 9)) for p in gb
                    ], (k, c)
            else:
                assert ra[c] == rb[c], (k, c, ra[c], rb[c])


def test_pairs_stream_to_stats_and_errors_end_to_end(spark, tmp_path):
    """VERDICT r6 #4+#5: pair-format JSONL streamed through the FULL
    wiring — stats rollup → idempotent upsert AND corrupt pair →
    persistent errors table (05-errors.sql shape, ErrorHandler parity)."""
    from osmesa_spark.datagen import write_augdiff_pairs_dropdir
    from osmesa_spark.sinks.upsert import ErrorsTable

    drop = str(tmp_path / "pairs")
    write_augdiff_pairs_dropdir(drop, n_sequences=3, per_seq=20, corrupt_every=13)
    raw = R.read_augmented_diffs(
        spark, drop, streaming=True, wire_format="pairs"
    )
    stats_q, errors_q = S.run_streaming_stats_with_deadletter(
        raw,
        str(tmp_path / "stats_table"),
        str(tmp_path / "errors_table"),
        str(tmp_path / "ckpt"),
        countries=COUNTRIES,
    )
    deadline = time.time() + 180
    try:
        while time.time() < deadline:
            done = all(
                any(p["numInputRows"] > 0 for p in (q.recentProgress or []))
                and not q.status["isDataAvailable"]
                and not q.status["isTriggerActive"]
                for q in (stats_q, errors_q)
            )
            if done:
                time.sleep(1)
                if not any(
                    q.status["isDataAvailable"] for q in (stats_q, errors_q)
                ):
                    break
            time.sleep(0.5)
    finally:
        stats_q.stop()
        errors_q.stop()

    stored = ParquetUpsertTable(str(tmp_path / "stats_table")).read(spark)
    assert stored is not None
    good, errors = R.split_errors(
        R.read_augmented_diffs(spark, drop, wire_format="pairs")
    )
    assert sum(r["total_edits"] for r in stored.collect()) == good.count()

    etable = ErrorsTable(str(tmp_path / "errors_table")).read(spark)
    assert etable is not None
    erows = etable.collect()
    assert len(erows) == errors.count() == 4  # corrupt_every=13 over 60
    assert all("[BROKEN" in r["payload"] for r in erows)
    assert {r["sequence"] for r in erows} <= {1000, 1001, 1002}

    # replaying the same drop-dir through a FRESH pair of queries must not
    # double-count: both sinks are conflict-keyed (ON CONFLICT semantics)
    raw2 = R.read_augmented_diffs(
        spark, drop, streaming=True, wire_format="pairs"
    )
    q3, q4 = S.run_streaming_stats_with_deadletter(
        raw2,
        str(tmp_path / "stats_table"),
        str(tmp_path / "errors_table"),
        str(tmp_path / "ckpt2"),
        countries=COUNTRIES,
    )
    try:
        q3.processAllAvailable()
        q4.processAllAvailable()
    finally:
        q3.stop()
        q4.stop()
    stored2 = ParquetUpsertTable(str(tmp_path / "stats_table")).read(spark)
    assert sum(r["total_edits"] for r in stored2.collect()) == good.count()
    assert ErrorsTable(str(tmp_path / "errors_table")).read(spark).count() == 4


def test_streaming_corpus_intake_end_to_end(spark, tmp_path):
    """Full ingest pipeline on a 2-file drop: Gopher gate drops the
    too-short doc, cross-batch exact dedup keeps ONE copy of the repeated
    text, frozen-ratio DSIR scoring + threshold drops the spam doc, the
    accepted docs land in per-batch overwrite dirs, and the committed
    manifest equals the from-scratch batch manifest of exactly the
    accepted rows. Replay of an applied batch_id is a no-op."""
    import os

    from pyspark.sql import functions as F

    from osmesa_spark.functions.text import gopher_quality_flags
    from osmesa_spark.operators.curation import (
        dsir_ratio,
        shard_assignment,
        shard_manifest,
    )
    from osmesa_spark.streaming.intake_stream import (
        intake_accepted_docs,
        run_streaming_corpus_intake,
    )
    from osmesa_spark.streaming.manifest_stream import ManifestTable

    good_words = ["the", "data", "model", "and", "theory", "with", "science"]
    spam_words = ["casino", "pills", "jackpot", "buy", "the", "win", "now"]

    def good(i):
        return " ".join(good_words * 8) + f" doc{i}"

    def spam(i):
        return " ".join(spam_words * 8) + f" ad{i}"

    dup_text = " ".join(good_words * 8) + " repeated"

    # frozen ratio trained offline: target = prose vocab, raw adds spam
    train = spark.createDataFrame(
        [(i, good(100 + i), True) for i in range(4)]
        + [(10 + i, spam(100 + i), False) for i in range(4)],
        ["doc_id", "text", "is_t"],
    )
    ratio = dsir_ratio(
        train, F.col("is_t"), n_buckets=64
    ).localCheckpoint()

    # threshold from the batch twin: midway between prose and spam scores
    probe = spark.createDataFrame(
        [(1, good(1)), (2, spam(1))], ["doc_id", "text"]
    )
    sc = {
        r["doc_id"]: r["logw"]
        for r in intake_accepted_docs(probe, ratio, n_buckets=64).collect()
    }
    assert sc[1] > sc[2], "prose must outscore spam under the prose target"
    thr = (sc[1] + sc[2]) / 2

    # frozen LR classifier trained on the same reference corpus; batch
    # twin gates independently of the DSIR threshold
    from osmesa_spark.operators.textops import lr_train_weights

    w_lr, b0_lr = lr_train_weights(train, F.col("is_t"))
    only_lr = intake_accepted_docs(
        probe, ratio, n_buckets=64, lr_model=(w_lr, b0_lr), min_p=0.5
    )
    assert {r["doc_id"] for r in only_lr.collect()} == {1}

    t0 = "2024-01-01 00:00:00"
    b0 = [(1, good(1)), (2, good(2)), (3, good(3)), (4, good(4)),
          (5, spam(1)), (6, "too short"), (7, dup_text)]
    b1 = [(8, good(8)), (9, dup_text), (10, spam(2)),
          (11, good(11) + " nsfw")]  # good text + blocklisted term
    src = tmp_path / "incoming"
    src.mkdir()
    for name, rows in (("b0", b0), ("b1", b1)):
        spark.createDataFrame(rows, ["doc_id", "text"]).select(
            "doc_id", "text", F.to_timestamp(F.lit(t0)).alias("event_time")
        ).coalesce(1).write.parquet(str(src / name))

    out = str(tmp_path / "intake")
    q = run_streaming_corpus_intake(
        spark, str(src) + "/*/", out, ratio,
        n_shards=4, min_logw=thr, n_buckets=64,
        lr_model=(w_lr, b0_lr), min_p=0.5,
        blocklist_terms=["nsfw", "jackpotxx"],
    )
    q.processAllAvailable()
    q.stop()

    got = spark.read.parquet(os.path.join(out, "docs"))
    ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    # 5/10 spam (threshold), 6 short (gopher), one dup copy (dedup),
    # 11 blocklisted (C4 gate — its text passes every OTHER gate)
    assert {1, 2, 3, 4, 8} <= ids
    assert 5 not in ids and 10 not in ids and 6 not in ids
    assert 11 not in ids, "blocklisted doc must be dropped by the C4 gate"
    assert len(ids & {7, 9}) == 1, "exactly one copy of the repeated text"
    assert {"n_tokens", "logw", "lr_p"} <= set(got.columns)
    assert got.where(F.col("lr_p") < 0.5).count() == 0

    # committed manifest == from-scratch batch manifest of the accepted set
    table = ManifestTable(os.path.join(out, "manifest"), n_shards=4)
    got_m = {r["shard"]: r.asDict() for r in table.read(spark).collect()}
    want_m = {
        r["shard"]: r.asDict()
        for r in shard_manifest(
            shard_assignment(got.select("doc_id", "text"), 4)
        ).collect()
    }
    assert got_m == want_m

    # replay no-op
    before = table._current_version()
    table.merge_batch(got.limit(1), batch_id=table.last_batch())
    assert table._current_version() == before

    # the whole accepted set passes the gate it was filtered by
    n_gate = got.where(gopher_quality_flags("text")["keep"]).count()
    assert n_gate == got.count()

    # compaction: per-batch dirs fold into shard=*/ files, verified
    # against the committed manifest (layout-invariant checksums)
    from osmesa_spark.streaming.intake_stream import compact_intake_docs

    tgt = str(tmp_path / "compacted")
    stats = compact_intake_docs(spark, out, tgt, n_shards=4)
    assert stats["n_docs"] == got.count()
    assert stats["n_files_after"] <= stats["n_files_before"]
    comp = spark.read.parquet(tgt)
    assert comp.count() == got.count()
    assert {r["doc_id"] for r in comp.select("doc_id").collect()} == ids

    # a corrupted rewrite must fail the manifest verification loudly:
    # drop one doc from a batch dir and re-compact
    import glob as _glob

    victim = sorted(_glob.glob(os.path.join(out, "docs", "batch=*")))[0]
    kept = spark.read.parquet(victim)
    one_less = kept.limit(kept.count() - 1).collect()
    spark.createDataFrame(one_less, kept.schema).write.mode(
        "overwrite"
    ).parquet(victim)
    import pytest as _pytest

    with _pytest.raises(ValueError, match="disagrees with the committed"):
        compact_intake_docs(
            spark, out, str(tmp_path / "compacted2"), n_shards=4
        )


def test_intake_refuses_to_clobber_on_checkpoint_loss(spark, tmp_path):
    """ADVICE r8: if the streaming checkpoint is lost (or a caller reuses
    out_dir with a fresh checkpoint_dir), micro-batch ids restart at 0 and
    the per-batch OVERWRITE dirs would silently clobber earlier accepted
    batches while merge_batch no-ops on the old watermark — docs and
    manifest diverge and the loss only surfaces at compaction. The sink
    must detect the different-content rewrite and fail AT INGEST."""
    import os

    from pyspark.sql import functions as F

    from osmesa_spark.operators.curation import dsir_ratio
    from osmesa_spark.streaming.intake_stream import (
        run_streaming_corpus_intake,
    )

    words = ["the", "data", "model", "and", "theory", "with", "science"]

    def doc(i):
        return " ".join(words * 8) + f" doc{i}"

    train = spark.createDataFrame(
        [(i, doc(100 + i), i % 2 == 0) for i in range(6)],
        ["doc_id", "text", "is_t"],
    )
    ratio = dsir_ratio(train, F.col("is_t"), n_buckets=64).localCheckpoint()

    t0 = "2024-01-01 00:00:00"
    src = tmp_path / "incoming"
    src.mkdir()
    spark.createDataFrame(
        [(1, doc(1)), (2, doc(2))], ["doc_id", "text"]
    ).select(
        "doc_id", "text", F.to_timestamp(F.lit(t0)).alias("event_time")
    ).coalesce(1).write.parquet(str(src / "b0"))

    out = str(tmp_path / "intake")
    q = run_streaming_corpus_intake(
        spark, str(src) + "/*/", out, ratio, n_shards=4, n_buckets=64,
        checkpoint_dir=str(tmp_path / "ckpt_a"),
    )
    q.processAllAvailable()
    q.stop()
    batch0 = os.path.join(out, "docs", "batch=0")
    committed = {
        r["doc_id"]
        for r in spark.read.parquet(batch0).select("doc_id").collect()
    }
    assert committed == {1, 2}

    # "checkpoint loss": fresh checkpoint dir + different source content,
    # same out_dir — the restarted stream's batch 0 must NOT clobber
    src2 = tmp_path / "incoming2"
    src2.mkdir()
    spark.createDataFrame(
        [(7, doc(7)), (8, doc(8))], ["doc_id", "text"]
    ).select(
        "doc_id", "text", F.to_timestamp(F.lit(t0)).alias("event_time")
    ).coalesce(1).write.parquet(str(src2 / "c0"))

    from pyspark.errors.exceptions.captured import StreamingQueryException

    q2 = run_streaming_corpus_intake(
        spark, str(src2) + "/*/", out, ratio, n_shards=4, n_buckets=64,
        checkpoint_dir=str(tmp_path / "ckpt_b"),
    )
    import pytest as _pytest

    with _pytest.raises(StreamingQueryException, match="checkpoint was lost"):
        q2.processAllAvailable()
    q2.stop()

    # batch 0's committed content survived the refused clobber
    survived = {
        r["doc_id"]
        for r in spark.read.parquet(batch0).select("doc_id").collect()
    }
    assert survived == {1, 2}


def test_streaming_dedup_state_is_watermark_bounded(spark, tmp_path):
    """The 100 TB claim behind streaming_exact_dedup — 'state is bounded by
    the horizon, not by stream length' — made machine-checked: feed
    batches whose event time advances far past the 10-minute horizon and
    assert, from the engine's own stateOperators metrics, that total state
    rows stay WELL below the number of distinct keys ever seen (eviction
    is happening) instead of growing monotonically like a naive
    dropDuplicates would."""
    import json
    import os

    from osmesa_spark.streaming.dedup_stream import streaming_exact_dedup

    drop = tmp_path / "docs"
    os.makedirs(drop)
    keys_per_batch, n_batches = 200, 6
    for i in range(n_batches):
        path = drop / f"{i}.json"
        with open(path, "w") as f:
            for j in range(keys_per_batch):
                f.write(json.dumps({
                    "doc_id": f"{i}-{j}",
                    "text": f"unique document body {i} {j}",
                    # each batch jumps 1 hour — 6x the 10-minute horizon,
                    # so batch i's state is evictable once batch i+1 lands
                    "event_time": f"2024-01-01 {i:02d}:00:{j % 60:02d}",
                }) + "\n")
        os.utime(path, (1700000000 + i, 1700000000 + i))
    stream = (
        spark.readStream.schema(
            "doc_id string, text string, event_time timestamp"
        )
        .option("maxFilesPerTrigger", 1)
        .json(str(drop))
    )
    q = (
        streaming_exact_dedup(stream)
        .writeStream.format("memory")
        .queryName("dedup_state_probe")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    q.processAllAvailable()
    state_rows = None
    progress = q.recentProgress
    q.stop()
    totals = [
        op["numRowsTotal"]
        for p in progress
        for op in (p.get("stateOperators") or [])
        if "numRowsTotal" in op
    ]
    assert totals, "no stateOperators metrics captured"
    state_rows = max(totals)
    distinct_seen = keys_per_batch * n_batches
    # all rows are distinct, so unbounded state would reach 1200; the
    # watermark keeps at most ~2 horizons' worth (one live batch + the
    # not-yet-evicted previous one)
    assert state_rows <= 2 * keys_per_batch + 50, (
        f"state grew to {state_rows} rows for {distinct_seen} distinct keys "
        f"— watermark eviction is not bounding it"
    )
    # and the output kept every distinct doc (eviction lost nothing)
    assert (
        spark.sql("SELECT COUNT(*) FROM dedup_state_probe").first()[0]
        == distinct_seen
    )


def test_changes_xml_dead_letters_corrupt_files(spark, tmp_path):
    """S5 dead-letter parity: a corrupt .osc sequence file must not vanish
    silently — with_errors=True surfaces it as a _corrupt row that
    split_errors routes to the errors-table shape, while well-formed
    sequences parse identically to the default mode."""
    import os

    from osmesa_spark.sources import replication as R

    drop = tmp_path / "changes"
    os.makedirs(drop)
    good_xml = (
        '<osmChange version="0.6"><create>'
        '<node id="1" version="1" lat="1.0" lon="2.0" changeset="10"'
        ' uid="7" user="u" timestamp="2024-01-01T00:00:00Z">'
        '<tag k="building" v="yes"/></node>'
        "</create></osmChange>"
    )
    (drop / "100.osc").write_text(good_xml)
    (drop / "101.osc").write_text("<osmChange><create><node id=BROKEN")

    # default mode: corrupt file silently dropped (historical contract)
    plain = R.read_changes_xml(spark, str(drop))
    assert plain.count() == 1
    assert "_corrupt" not in plain.columns

    flagged = R.read_changes_xml(spark, str(drop), with_errors=True)
    good, errors = R.split_errors(flagged)
    assert good.count() == 1
    assert good.where("id = 1 AND sequence = 100").count() == 1
    err = errors.collect()
    assert len(err) == 1
    assert err[0]["sequence"] == 101
    assert "BROKEN" in err[0]["payload"]


def test_streaming_knn_serves_frozen_index(spark, tmp_path):
    """Online retrieval: query vectors dropped as two files are answered
    per micro-batch against a frozen IVF index; the union of streamed
    answers equals the batch probe over the same queries AND the
    end-to-end batch knn_ivf_nprobe (train+probe) — the train/serve
    split changes nothing. Replay idempotence comes from the per-batch
    overwrite dirs."""
    import os

    from pyspark.sql import functions as F

    from osmesa_spark.operators.similarity import (
        ivf_probe_frozen,
        knn_ivf_nprobe,
    )
    from osmesa_spark.queries import _t
    from osmesa_spark.streaming.knn_stream import (
        build_ivf_index,
        run_streaming_knn,
    )
    from tests.conftest import SF_CORRECT

    e = _t(spark, SF_CORRECT, "embeddings")
    corpus = e.where(F.col("vec_id") >= 8)
    queries = e.where(F.col("vec_id") < 8)

    index = build_ivf_index(corpus, coarse_k=4, iters=2, seed=29)

    t0 = "2024-01-01 00:00:00"
    src = tmp_path / "queries"
    src.mkdir()
    qa = queries.where(F.col("vec_id") < 4)
    qb = queries.where(F.col("vec_id") >= 4)
    for name, qdf in (("qa", qa), ("qb", qb)):
        qdf.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding"),
            F.to_timestamp(F.lit(t0)).alias("event_time"),
        ).coalesce(1).write.parquet(str(src / name))

    out = str(tmp_path / "knn_out")
    q = run_streaming_knn(
        spark, str(src) + "/*/", out, index, k=5, nprobe=2
    )
    q.processAllAvailable()
    q.stop()

    got = sorted(
        map(tuple, spark.read.parquet(os.path.join(out, "answers"))
            .select("query_id", "neighbor_id", "rank").collect())
    )
    assert len(got) == 8 * 5

    assigned, cents = index
    batch_twin = sorted(
        map(tuple, ivf_probe_frozen(
            assigned,
            queries.select("vec_id",
                           F.col("embedding").cast("array<double>")
                           .alias("embedding")),
            cents, k=5, nprobe=2,
        ).collect())
    )
    assert got == batch_twin, "stream answers must equal the batch probe"

    e2e = sorted(
        map(tuple, knn_ivf_nprobe(
            corpus, queries, k=5, nprobe=2, coarse_k=4, iters=2, seed=29
        ).collect())
    )
    assert got == e2e, "frozen-index serving must equal train+probe"


def test_streaming_intake_repetition_gate(spark, tmp_path):
    """The optional Gopher table-A2 repetition gate: a varied prose doc
    flows through, a doc that PASSES the A1 quality gate but carries a
    dominant repeated 2-gram is dropped — and the attribution is proven
    by evaluating both bundles directly."""
    import os
    import random

    from pyspark.sql import functions as F

    from osmesa_spark.functions.text import (
        gopher_quality_flags,
        gopher_repetition_flags,
    )
    from osmesa_spark.operators.curation import dsir_ratio
    from osmesa_spark.streaming.intake_stream import (
        run_streaming_corpus_intake,
    )

    rnd = random.Random(13)
    vocab = ("science theory model data result method study paper value "
             "test claim proof idea fact note case view plan goal step "
             "the of and to with that have for").split()

    def varied(i, n=70):
        return " ".join(rnd.choice(vocab) for _ in range(n)) + f" doc{i}"

    repetitive = "of the data and " * 20  # A1-clean, A2 top-2-gram ~0.58
    ok1, ok2 = varied(1), varied(2)

    flags = spark.createDataFrame(
        [(12, repetitive), (1, ok1)], ["doc_id", "text"]
    ).select(
        "doc_id",
        gopher_quality_flags("text")["keep"].alias("a1"),
        gopher_repetition_flags("text")["keep"].alias("a2"),
    ).collect()
    by = {r["doc_id"]: r for r in flags}
    assert by[12]["a1"] is True and by[12]["a2"] is False
    assert by[1]["a1"] is True and by[1]["a2"] is True

    train = spark.createDataFrame(
        [(100 + i, varied(100 + i), True) for i in range(4)]
        + [(200 + i, "buy pills now win casino jackpot " * 12, False)
           for i in range(4)],
        ["doc_id", "text", "is_t"],
    )
    ratio = dsir_ratio(train, F.col("is_t"), n_buckets=64).localCheckpoint()

    t0 = "2024-01-01 00:00:00"
    src = tmp_path / "in"
    src.mkdir()
    spark.createDataFrame(
        [(1, ok1), (2, ok2), (12, repetitive)], ["doc_id", "text"]
    ).select(
        "doc_id", "text", F.to_timestamp(F.lit(t0)).alias("event_time")
    ).coalesce(1).write.parquet(str(src / "b0"))

    out = str(tmp_path / "out")
    q = run_streaming_corpus_intake(
        spark, str(src) + "/*/", out, ratio,
        n_shards=4, n_buckets=64, repetition_gate=True,
    )
    q.processAllAvailable()
    q.stop()

    ids = {
        r["doc_id"]
        for r in spark.read.parquet(os.path.join(out, "docs")).collect()
    }
    assert {1, 2} <= ids
    assert 12 not in ids, "A2 gate must drop the repetitive doc"


def test_stats_stream_one_stateless_batch_per_sequence(spark, tmp_path):
    """The rollup runs inside the sink on the bounded micro-batch: the
    query holds no state, and the micro-batch that reads a sequence also
    upserts and checkpoints it — no second, no-data batch to evict it."""
    drop = str(tmp_path / "one_seq")
    write_augdiff_dropdir(drop, n_sequences=1, per_seq=60, corrupt_every=0)
    good_stream, _ = R.split_errors(
        R.read_augmented_diffs(spark, drop, streaming=True)
    )
    table_path = str(tmp_path / "stats_table")
    q = S.run_streaming_stats_to_upsert(
        good_stream, table_path, str(tmp_path / "ckpt"), countries=COUNTRIES
    )
    try:
        q.processAllAvailable()
        progress = q.recentProgress
    finally:
        q.stop()
    assert progress
    assert all(not p["stateOperators"] for p in progress), progress
    assert sum(1 for p in progress if p["numInputRows"] > 0) == 1
    assert CheckpointTable(f"{table_path}/_checkpoints").load(
        "augmented-diff-stats"
    ) == 1000
    good, _ = R.split_errors(R.read_augmented_diffs(spark, drop))
    want = (
        S.streaming_changeset_stats(good, COUNTRIES)
        .agg(F.sum("total_edits")).first()[0]
    )
    stored = ParquetUpsertTable(table_path).read(spark)
    assert stored.agg(F.sum("total_edits")).first()[0] == want > 0


def test_stats_with_deadletter_exactly_once_across_restart(spark, tmp_path):
    """Kill and restart: the stats query crashes after its upsert but
    before Spark commits the batch (the newest `commits/` entry removed),
    so the restart replays that batch. The upsert guard makes the replay a
    no-op: every (changeset, sequence) lands once, and the errors table
    holds each injected corrupt line once."""
    import os
    import shutil

    from osmesa_spark.sinks.upsert import ErrorsTable

    staging, drop = tmp_path / "staging", tmp_path / "drop"
    write_augdiff_dropdir(str(staging), n_sequences=3, per_seq=30, corrupt_every=0)
    # distinct corrupt lines: the errors table keys on (sequence, payload)
    injected = 0
    for seq in (1000, 1001, 1002):
        with open(staging / f"{seq}.jsonl", "a") as f:
            for i in range(seq - 998):
                f.write('{"sequence": %d, "id": BROKEN-%d\n' % (seq, i))
                injected += 1
    drop.mkdir()
    ckpt = tmp_path / "ckpt"
    table_path, errors_path = str(tmp_path / "stats"), str(tmp_path / "errors")

    def run_to_idle():
        raw = R.read_augmented_diffs(spark, str(drop), streaming=True)
        queries = S.run_streaming_stats_with_deadletter(
            raw, table_path, errors_path, str(ckpt), countries=COUNTRIES
        )
        try:
            for q in queries:
                q.processAllAvailable()
            return [p["batchId"] for p in queries[0].recentProgress]
        finally:
            for q in queries:
                q.stop()

    for seq in (1000, 1001):
        shutil.copy(staging / f"{seq}.jsonl", drop)
    run_to_idle()
    commits = ckpt / "stats" / "commits"
    newest = max(int(p.name) for p in commits.iterdir() if p.name.isdigit())
    for name in (str(newest), f".{newest}.crc"):
        if (commits / name).exists():
            os.remove(commits / name)
    shutil.copy(staging / "1002.jsonl", drop)
    assert run_to_idle()[0] == newest, "the uncommitted batch was not replayed"

    good, _ = R.split_errors(R.read_augmented_diffs(spark, str(staging)))
    want = {
        r["changeset"]: (r["edits"], sorted(r["seqs"]))
        for r in S.streaming_changeset_stats(good, COUNTRIES)
        .groupBy("changeset")
        .agg(
            F.sum("total_edits").alias("edits"),
            F.collect_set("sequence").alias("seqs"),
        )
        .collect()
    }
    stored = ParquetUpsertTable(table_path).read(spark).collect()
    got = {r["id"]: (r["total_edits"], sorted(r["augmented_diffs"])) for r in stored}
    assert got == want
    assert sum(e for e, _ in got.values()) == good.count()
    assert ErrorsTable(errors_path).read(spark).count() == injected


def test_committed_tables_read_at_rest(spark, tmp_path):
    """The at-rest paths outside readers use — the benchmark's catch-up
    checks and the reference's lag monitor — read the committed rows after
    one stats + dead-letter micro-batch: the stats table through
    `data_dir` (pyarrow) and `stats/data/*.parquet` (DuckDB), the errors
    table through `errors/data` (pyarrow), and the checkpoint row as
    `_checkpoints/<proc>.json`."""
    import json
    import os

    import duckdb
    import pyarrow.parquet as pq

    drop, root = tmp_path / "drop", tmp_path / "root"
    write_augdiff_dropdir(str(drop), n_sequences=1, per_seq=30, corrupt_every=7)
    stats_q, _ = S.run_streaming_stats_with_deadletter(
        R.read_augmented_diffs(spark, str(drop), streaming=True),
        str(root / "stats"),
        str(root / "errors"),
        str(tmp_path / "ckpt"),
        countries=COUNTRIES,
    )
    try:
        stats_q.processAllAvailable()
    finally:
        stats_q.stop()

    table = ParquetUpsertTable(str(root / "stats"))
    committed = sorted(
        (r["id"], r["total_edits"]) for r in table.read(spark).collect()
    )
    assert sum(e for _, e in committed) == 30
    at_rest = pq.read_table(table.data_dir, columns=["id", "total_edits"])
    assert sorted(zip(*at_rest.to_pydict().values())) == committed
    glob = os.path.join(root, "stats", "data", "*.parquet")
    assert sorted(duckdb.sql(
        f"SELECT id, total_edits FROM read_parquet('{glob}')"
    ).fetchall()) == committed
    _, dead = R.split_errors(R.read_augmented_diffs(spark, str(drop)))
    want = {(r["sequence"], r["payload"]) for r in dead.collect()}
    errors = pq.read_table(os.path.join(root, "errors", "data"))
    got = errors.select(["sequence", "payload"]).to_pydict()
    assert errors.num_rows == len(want) > 0
    assert set(zip(got["sequence"], got["payload"])) == want
    with open(os.path.join(root, "stats", "_checkpoints",
                           "augmented-diff-stats.json")) as f:
        assert json.load(f) == {
            "proc_name": "augmented-diff-stats", "sequence": 1000
        }
