"""Composed batch apps (src/apps/batch parity): MergeChangesets resume +
id-collision collapse, user/hashtag footprints with the allow-list file,
edit-histogram pyramid sums."""

from __future__ import annotations

import json
import os
from datetime import datetime, timedelta, timezone

import pytest
from pyspark.sql import functions as F

from osmesa_spark import apps as A
from osmesa_spark.functions.timeseq import (
    SEQUENCE_EPOCH_BASE,
    SEQUENCE_INTERVAL_S,
)


def _seq_ts(seq: int) -> str:
    return datetime.fromtimestamp(
        SEQUENCE_EPOCH_BASE + seq * SEQUENCE_INTERVAL_S, tz=timezone.utc
    ).isoformat()


def _meta_row(cs_id: int, seq: int, user: str, changes: int = 5) -> dict:
    return {
        "id": cs_id,
        "tags": {"created_by": "iD 2.19", "comment": f"work by {user}"},
        "createdAt": _seq_ts(seq),
        "open": False,
        "closedAt": _seq_ts(seq),
        "commentsCount": 0,
        "numChanges": changes,
        "uid": 1,
        "user": user,
        "sequence": seq,
    }


def test_merge_changesets_resume_and_collision(spark, tmp_path):
    drop = str(tmp_path / "meta")
    os.makedirs(drop)
    # sequences 100 (already absorbed), 200 and 300 (new)
    for seq, rows in [
        (100, [_meta_row(1, 100, "old-dup")]),
        (200, [_meta_row(1, 200, "updated"), _meta_row(7, 200, "seven")]),
        (300, [_meta_row(9, 300, "nine")]),
    ]:
        with open(os.path.join(drop, f"{seq}.jsonl"), "w") as f:
            f.write("\n".join(json.dumps(r) for r in rows))

    # existing table: ids 1 and 2, last modified at sequence 150 → resume
    # strictly after 150, so sequence 100 must NOT be re-read
    existing = spark.createDataFrame(
        [
            (1, {"k": "v"}, _seq_ts(90), False, _seq_ts(150), 0,
             None, None, None, None, 3, 1, "old-dup"),
            (2, {"k": "v"}, _seq_ts(95), False, _seq_ts(120), 0,
             None, None, None, None, 4, 1, "two"),
        ],
        "id long, tags map<string,string>, createdAt string, "
        "open boolean, closedAt string, commentsCount int, minLat double, "
        "maxLat double, minLon double, maxLon double, numChanges int, "
        "uid long, user string",
    ).withColumns(
        {
            "createdAt": F.to_timestamp("createdAt"),
            "closedAt": F.to_timestamp("closedAt"),
        }
    )
    merged = A.merge_changesets(spark, existing, drop)
    rows = {r["id"]: r for r in merged.collect()}
    assert set(rows) == {1, 2, 7, 9}
    assert rows[1]["user"] == "updated"  # id collision → newest row wins
    assert rows[2]["user"] == "two"  # untouched existing row survives
    assert rows[7]["user"] == "seven" and rows[9]["user"] == "nine"

    bounded = A.merge_changesets(spark, existing, drop, end_sequence=200)
    assert set(r["id"] for r in bounded.collect()) == {1, 2, 7}

    # bootstrap: an EMPTY existing table has no resume point — every
    # sequence must be read, not silently dropped by `sequence > NULL`
    empty = existing.limit(0)
    boot = A.merge_changesets(spark, empty, drop)
    assert set(r["id"] for r in boot.collect()) == {1, 7, 9}


@pytest.fixture(scope="module")
def history(spark):
    from osmesa_spark.queries_osm import _history

    return _history(spark)


def test_footprint_user_totals(spark, history):
    fp = A.footprint(spark, history, kind="user", base_zoom=6)
    nodes = history.where(
        (F.col("type") == "node")
        & F.col("lat").isNotNull()
        & F.col("lon").isNotNull()
    )
    expected = {
        r["uid"]: r["n"]
        for r in nodes.groupBy("uid").agg(F.count("*").alias("n")).collect()
    }
    base = {
        r["entity"]: r["v"]
        for r in fp.where(F.col("zoom") == 6)
        .groupBy("entity")
        .agg(F.sum("value").alias("v"))
        .collect()
    }
    z0 = {
        r["entity"]: r["v"]
        for r in fp.where(F.col("zoom") == 0)
        .groupBy("entity")
        .agg(F.sum("value").alias("v"))
        .collect()
    }
    assert base == expected  # every located node lands in its uid's facet
    assert z0 == expected  # downsampling is sum-preserving per facet


def test_footprint_hashtag_allowlist(spark, history, tmp_path):
    from osmesa_spark.queries_osm import _changesets

    cs = _changesets(spark)
    full = A.footprint(
        spark, history, changesets=cs, kind="hashtag", base_zoom=5
    )
    tags = [r["entity"] for r in full.select("entity").distinct().collect()]
    assert len(tags) >= 2
    keep = sorted(tags)[0]
    allow = tmp_path / "hashtags.txt"
    allow.write_text(f"{keep.upper()}\n\n")  # mixed case + blank line
    filtered = A.footprint(
        spark, history, changesets=cs, kind="hashtag",
        hashtags_uri=allow.as_uri(), base_zoom=5,
    )
    got = {r["entity"] for r in filtered.select("entity").distinct().collect()}
    assert got == {keep}


def test_edit_histogram_pyramid_sum_preserving(spark, history):
    hist = A.edit_histogram_app(spark, history, base_zoom=8)
    sums = {
        r["zoom"]: r["v"]
        for r in hist.groupBy("zoom").agg(F.sum("value").alias("v")).collect()
    }
    assert len(set(sums.values())) == 1  # same total at every level
    assert sorted(sums) == list(range(0, 9))


def test_generate_vt_zips_end_to_end(spark, tmp_path):
    """bm saveInZips call path: pyramid → encoded MVT → zip archives;
    read one tile back through the seam and decode it."""
    import gzip as _gzip

    from osmesa_spark.sinks import mvt
    from tests.fixtures_gen import write_fixtures

    fx = tmp_path / "fx"
    write_fixtures(str(fx), n_elements=300, seed=42)
    history = spark.read.parquet(f"{fx}/history.parquet")
    root = str(tmp_path / "vtzips")
    written = A.generate_vt_zips(spark, history, root, base_zoom=4, cells=8)
    assert written["zips"] >= 1
    # zooms 0-4 all share block base 0 → ONE archive per subtree holding
    # every zoom level (the zip-of-8-zooms shape)
    import os
    import zipfile

    z0 = os.path.join(root, "0")
    assert os.path.isdir(z0)
    found = None
    zooms_seen = set()
    for dirpath, _, files in os.walk(z0):
        for f in files:
            if f.endswith(".zip"):
                with zipfile.ZipFile(os.path.join(dirpath, f)) as zf:
                    for n in zf.namelist():
                        zooms_seen.add(int(n.split("/")[0]))
                    names = [n for n in zf.namelist() if n.startswith("4/")]
                    if names and found is None:
                        found = (zf.read(names[0]), names[0])
    assert found, "no zoom-4 tile entry in any zip"
    assert zooms_seen == set(range(0, 5)), zooms_seen
    raw, name = found
    layers = mvt.decode_tile(_gzip.decompress(raw))
    assert "density" in layers and len(layers["density"]) >= 1
    # read-back helper agrees byte-for-byte
    _, ztx, zty = name.removesuffix(".mvt").split("/")
    assert mvt.read_zip_tile(root, 4, int(ztx), int(zty)) == raw


def test_changeset_metadata_creator_e2e(spark):
    """ChangesetMetadataCreator app over the CSV-dump fixtures: the full
    assembled table (before the registry query's hash flattening) must
    carry the reference shapes — tags as map, comments as sorted struct
    array with joined author names, bbox ints decoded ÷1e7, left-join
    nulls where the users dump is incomplete, sequence=-1."""
    import csv
    import os

    from osmesa_spark.queries_osm import _CSDUMP_DIR, ensure_csdump_fixtures

    ensure_csdump_fixtures()
    full = A.changeset_metadata_creator(
        spark,
        os.path.join(_CSDUMP_DIR, "changesets.csv"),
        os.path.join(_CSDUMP_DIR, "changeset_comments.csv"),
        os.path.join(_CSDUMP_DIR, "changeset_tags.csv"),
        os.path.join(_CSDUMP_DIR, "users.csv"),
    )
    rows = {r["id"]: r for r in full.collect()}
    with open(os.path.join(_CSDUMP_DIR, "changesets.csv")) as f:
        raw_cs = {int(r["id"]): r for r in csv.DictReader(f)}
    assert set(rows) == set(raw_cs)  # one output row per changeset
    # bbox decode
    some = rows[1]
    assert some["minLat"] == int(raw_cs[1]["min_lat"]) / 1e7
    assert some["sequence"] == -1 and some["open"] is False
    # tags map assembled from k/v rows
    with open(os.path.join(_CSDUMP_DIR, "changeset_tags.csv")) as f:
        by_cs = {}
        for r in csv.DictReader(f):
            by_cs.setdefault(int(r["changeset_id"]), {})[r["k"]] = r["v"]
    for cid, tags in list(by_cs.items())[:20]:
        assert rows[cid]["tags"] == tags
    untagged = set(raw_cs) - set(by_cs)
    assert untagged and all(rows[c]["tags"] is None for c in untagged)
    # comments: counts match, arrays sorted by date, multiline body survives
    with open(os.path.join(_CSDUMP_DIR, "changeset_comments.csv")) as f:
        n_by_cs = {}
        multiline_cs = set()
        for r in csv.DictReader(f):
            n_by_cs[int(r["changeset_id"])] = (
                n_by_cs.get(int(r["changeset_id"]), 0) + 1
            )
            if "\n" in r["body"]:
                multiline_cs.add(int(r["changeset_id"]))
    for cid, n in n_by_cs.items():
        assert rows[cid]["commentsCount"] == n
        dates = [c["date"] for c in rows[cid]["comments"]]
        assert dates == sorted(dates)
    assert multiline_cs and any(
        "\n" in c["body"]
        for cid in multiline_cs
        for c in rows[cid]["comments"]
    )
    # incomplete users dump -> null author/user names, never dropped rows
    assert any(r["user"] is None for r in rows.values())


def test_curate_training_corpus_end_to_end(spark):
    """Composition invariants of the training-corpus app: only train-split
    sampled docs come out, no duplicates, achieved mixture stays near the
    target (binomial tolerance), packs respect the shard*2^32 encoding."""
    from pyspark.sql import functions as F

    from osmesa_spark import apps
    from osmesa_spark.operators import curation as cur
    from tests.conftest import SF_CORRECT

    from osmesa_spark.queries import _t

    d = _t(spark, SF_CORRECT, "documents")
    mix = {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1}
    out = apps.curate_training_corpus(d, mix, pack_budget=512)
    rows = out.collect()
    assert len(rows) > 0
    ids = [r["doc_id"] for r in rows]
    assert len(ids) == len(set(ids)), "duplicate docs in packed output"

    piped = cur.curation_pipeline(d, min_quality=0.5)
    train_ids = {
        r["doc_id"] for r in piped.where("split = 'train'").collect()
    }
    assert set(ids) <= train_ids, "non-train doc leaked into packs"

    by_lang = {}
    for r in rows:
        by_lang[r["lang"]] = by_lang.get(r["lang"], 0) + 1
    total = sum(by_lang.values())
    for lang, w in mix.items():
        if lang in by_lang:
            # ±4σ binomial tolerance around the target share
            sigma = (w * (1 - w) * total) ** 0.5
            assert abs(by_lang[lang] - w * total) <= 4 * sigma + 3, (
                lang, by_lang, total
            )
    for r in rows:
        assert r["pack_id"] >= 0 and (r["pack_id"] >> 32) < 64

    # optional C4 blocklist pre-gate: terms absent from the corpus leave
    # the output byte-identical; a term present in some docs strictly
    # shrinks it and no surviving doc contains the term
    same = apps.curate_training_corpus(
        d, mix, pack_budget=512, blocklist_terms=["qzxnotaword"]
    )
    assert sorted(map(tuple, same.collect())) == sorted(map(tuple, rows))
    # (no subset assertion: removing docs legitimately reshuffles dedup
    # representatives and the count-derived mixture rates downstream)
    gated = apps.curate_training_corpus(
        d, mix, pack_budget=512, blocklist_terms=["slow"]
    )
    gated_ids = {r["doc_id"] for r in gated.collect()}
    assert gated_ids
    texts = {
        r["doc_id"]: (r["text"] or "")
        for r in d.select("doc_id", "text").collect()
    }
    import re as _re
    for i in gated_ids:
        toks = _re.findall(r"[a-z0-9]+", texts[i].lower())
        assert "slow" not in toks, i


def test_neardup_dedup_corpus_keeps_best_per_cluster(spark):
    """Crafted corpus: three near-identical docs (one clearly
    higher-quality), one exact twin pair, two unrelated singletons. The
    app must cluster the near-dups, keep exactly one representative per
    cluster (the best-quality one, ties to lowest id), and mark singletons
    as their own kept representatives."""
    base = ("the quick brown fox jumps over the lazy dog and then the fox "
            "runs away into the woods for a while ")
    rows = [
        (1, base * 3, "en"),
        (2, base * 3 + "zq", "en"),           # near-dup of 1
        (3, base * 3 + "xj kv", "en"),        # near-dup of 1
        (10, "short words only here " * 10, "en"),
        (11, "short words only here " * 10, "en"),  # exact twin of 10
        (20, "0101 1010 0110 1001 " * 20, "xx"),    # unrelated singleton
        (21, "completely different prose about sailing ships and the sea "
             * 5, "en"),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    out = {r["doc_id"]: r for r in A.neardup_dedup_corpus(d).collect()}
    assert len(out) == len(rows)

    # docs 1,2,3 share a component; exactly one kept
    comp123 = {out[i]["component"] for i in (1, 2, 3)}
    assert len(comp123) == 1
    kept123 = [i for i in (1, 2, 3) if out[i]["kept"]]
    assert len(kept123) == 1
    assert out[kept123[0]]["n_members"] == 3
    # the kept doc has the max (quality, -id) in its cluster
    best = max((out[i]["quality"], -i) for i in (1, 2, 3))
    assert (out[kept123[0]]["quality"], -kept123[0]) == best

    # exact twins cluster together, lower id wins the quality tie
    assert out[10]["component"] == out[11]["component"]
    assert out[10]["kept"] and not out[11]["kept"]
    assert out[10]["n_members"] == 2

    # singletons keep themselves
    for i in (20, 21):
        assert out[i]["n_members"] == 1 and out[i]["kept"]
        assert out[i]["component"] == i


def test_streaming_lag_report_matches_reference_arithmetic(tmp_path):
    """monitor-checkpoints.sh parity: sequence-now derives from the epoch
    formula (epoch − 1347432900) / 60, offset = now − checkpoint, alert at
    the reference's default threshold 10."""
    from osmesa_spark.sinks.upsert import CheckpointTable

    ck = CheckpointTable(str(tmp_path / "cks"))
    # now = epoch of sequence 5_000_000 exactly
    now_epoch = 5_000_000 * 60 + 1347432900
    ck.save("ChangesetStatsUpdater", 4_999_995)  # 5 behind: healthy
    ck.save("TileUpdater", 4_999_980)            # 20 behind: alert
    got = {r["proc_name"]: r for r in A.streaming_lag_report(
        str(tmp_path / "cks"), now_epoch)}
    assert got["ChangesetStatsUpdater"]["offset"] == 5
    assert not got["ChangesetStatsUpdater"]["alert"]
    assert got["TileUpdater"]["offset"] == 20
    assert got["TileUpdater"]["alert"]
    assert all(r["now_sequence"] == 5_000_000 for r in got.values())


def test_checkpoint_save_cut_by_a_crash_keeps_the_old_row(tmp_path, monkeypatch):
    """A checkpoint write that dies halfway must leave the previous row
    readable (load and the lag report), never a torn file."""
    from osmesa_spark.sinks.upsert import CheckpointTable

    ck = CheckpointTable(str(tmp_path / "cks"))
    ck.save("TileUpdater", 4_999_980)

    def torn_dump(obj, f, *a, **kw):
        f.write('{"proc_name": "TileUpdater", "sequ')
        raise OSError("crash mid-write")

    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError):
        ck.save("TileUpdater", 4_999_990)
    monkeypatch.undo()
    assert ck.load("TileUpdater") == 4_999_980
    now_epoch = 5_000_000 * 60 + 1347432900
    (row,) = A.streaming_lag_report(str(tmp_path / "cks"), now_epoch)
    assert (row["proc_name"], row["checkpoint"]) == ("TileUpdater", 4_999_980)


def test_write_training_shards_roundtrip_and_manifest(spark, tmp_path):
    """One file per shard; manifest recomputable from what a loader reads
    back (order-independent checksum); rerun produces identical manifest."""
    import glob

    from pyspark.sql import functions as F

    from osmesa_spark.apps import write_training_shards
    from osmesa_spark.operators.curation import shard_manifest

    docs = spark.range(0, 400).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("doc text number "), F.col("id")).alias("text"),
    )
    out = str(tmp_path / "shards")
    m1 = write_training_shards(docs, out, n_shards=8)
    rows1 = {r["shard"]: r.asDict() for r in m1.collect()}
    assert set(rows1) == set(range(8))
    assert sum(r["n_docs"] for r in rows1.values()) == 400

    # exactly one data file per shard directory
    for k in range(8):
        files = glob.glob(f"{out}/data/shard={k}/*.parquet")
        assert len(files) == 1, f"shard {k}: {files}"

    # loader-side verification: recompute the manifest from the files
    back = spark.read.parquet(out + "/data")
    m2 = shard_manifest(back)
    rows2 = {r["shard"]: r.asDict() for r in m2.collect()}
    assert rows1 == rows2

    # determinism under rerun
    m3 = write_training_shards(docs, str(tmp_path / "shards2"), n_shards=8)
    rows3 = {r["shard"]: r.asDict() for r in m3.collect()}
    assert rows1 == rows3


def test_prepare_pretraining_shards_end_to_end(spark, tmp_path):
    """Raw docs with planted near-dup mirror pairs → shards on disk:
    exactly one mirror per family survives, the output is train-only and
    leakage-safe by construction, and the manifest verifies against what a
    loader reads back."""
    from pyspark.sql import functions as F

    from osmesa_spark.apps import prepare_pretraining_shards
    from osmesa_spark.operators.curation import shard_manifest

    base = [
        (i, f"unique document number {i} with its own words "
            f"{' '.join(str(i * 7 + j) for j in range(12))}", "en")
        for i in range(0, 80)
    ]
    # mirror family: 100/101/102 are near-identical paraphrase mirrors
    fam = "the quick brown fox jumps over the lazy dog again and again " * 3
    mirrors = [(100, fam, "en"), (101, fam + " extra", "en"),
               (102, fam + " more tail", "en"),
               (200, "otra familia de documentos duplicados casi identicos "
                     * 4, "es"),
               (201, "otra familia de documentos duplicados casi identicos "
                     * 4 + " fin", "es")]
    docs = spark.createDataFrame(base + mirrors,
                                 "doc_id long, text string, lang string")
    out = str(tmp_path / "corpus")
    manifest = prepare_pretraining_shards(
        docs, out, mixture={"en": 0.8, "es": 0.2}, n_shards=4,
        min_quality=0.0,
    )
    data = spark.read.parquet(out + "/data")
    got_ids = {r["doc_id"] for r in data.select("doc_id").collect()}
    # at most one member of each mirror family in the output
    assert len(got_ids & {100, 101, 102}) <= 1
    assert len(got_ids & {200, 201}) <= 1
    # manifest verifies against read-back
    m1 = {r["shard"]: r.asDict() for r in manifest.collect()}
    m2 = {r["shard"]: r.asDict()
          for r in shard_manifest(data).collect()}
    assert m1 == m2
    # deterministic under re-run into a fresh dir
    m3 = {r["shard"]: r.asDict()
          for r in prepare_pretraining_shards(
              docs, str(tmp_path / "corpus2"), mixture={"en": 0.8, "es": 0.2},
              n_shards=4, min_quality=0.0).collect()}
    assert m1 == m3


def test_dataset_datasheet_sections_and_consistency(spark, tmp_path):
    """Datasheet assembles the five oracled sections, totals agree across
    sections, and the file is valid JSON written atomically."""
    import json

    from osmesa_spark.apps import dataset_datasheet

    out = str(tmp_path / "datasheet.json")
    sheet = dataset_datasheet(spark, "/root/testdata/sf0.001", out)
    on_disk = json.load(open(out))
    assert set(sheet) == {
        "composition_by_lang", "composition_by_source",
        "duplication_clusters", "quality_bins", "split_contamination",
        "gopher_filter_yield",
    }
    assert set(on_disk) == set(sheet)
    # cross-section consistency: both composition views count every doc
    n_by_lang = sum(r["n_docs"] for r in sheet["composition_by_lang"])
    n_by_bins = sum(r["n_docs"] for r in sheet["quality_bins"])
    assert n_by_lang == n_by_bins > 0
    # filter-yield section: every doc counted, rates are probabilities,
    # keep can never exceed the loosest individual rule
    gy = sheet["gopher_filter_yield"]
    assert sum(r["n_docs"] for r in gy) == n_by_lang
    for r in gy:
        rates = [r[k] for k in r if k.startswith("r_")] + [r["keep"]]
        assert all(0.0 <= x <= 1.0 for x in rates)
        assert r["keep"] <= min(r[k] for k in r if k.startswith("r_"))
    # contamination section carries both policies
    assert {r["policy"] for r in sheet["split_contamination"]} == {
        "per_doc", "per_cluster",
    }
