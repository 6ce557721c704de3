"""Per-element MVT tile updater (G11): snapshot / history / urchn schema
strategies + end-to-end grouped upsert with sequence idempotence."""

from __future__ import annotations

import glob
import gzip

import pytest

from osmesa_spark.sinks import mvt
from osmesa_spark.sinks import updater as U


def feat(eid, version, visible=True, updated=100, author="a", extra=None):
    tags = {
        "__id": eid,
        "__version": version,
        "__updated": updated,
        "__visible": visible,
    }
    if extra:
        tags.update(extra)
    return mvt.MvtFeature(fid=eid, geom_type=1, points=[(10, 10)], tags=tags)


def test_snapshot_schema():
    existing = [feat(1, 1), feat(2, 1)]
    out = U._apply_snapshot(existing, [feat(1, 2), feat(3, 1)])
    ids = {int(f.tags["__id"]): int(f.tags["__version"]) for f in out}
    assert ids == {1: 2, 2: 1, 3: 1}
    # stale version ignored; delete removes
    out = U._apply_snapshot(out, [feat(1, 1), feat(2, 2, visible=False)])
    ids = {int(f.tags["__id"]): int(f.tags["__version"]) for f in out}
    assert ids == {1: 2, 3: 1}


def test_history_schema_valid_until():
    out = U._apply_history([], [feat(1, 1, updated=100)])
    out = U._apply_history(out, [feat(1, 2, updated=200)])
    assert len(out) == 2
    v1 = next(f for f in out if int(f.tags["__version"]) == 1)
    v2 = next(f for f in out if int(f.tags["__version"]) == 2)
    assert int(v1.tags["__validUntil"]) == 200
    assert "__validUntil" not in v2.tags
    # duplicate redelivery of v2 adds nothing
    out = U._apply_history(out, [feat(1, 2, updated=200)])
    assert len(out) == 2


def test_urchn_schema_lineage():
    out = U._apply_urchn([], [feat(1, 1, extra={"__author": "alice"})])
    out = U._apply_urchn(out, [feat(1, 3, extra={"__author": "bob"})])
    f = out[0]
    assert f.tags["__creation_author"] == "alice"
    assert f.tags["__author"] == "bob"
    assert int(f.tags["__versions"]) == 2


@pytest.fixture()
def diffs(spark, tmp_path):
    from osmesa_spark.datagen import write_augdiff_dropdir
    from osmesa_spark.sources import replication as R

    write_augdiff_dropdir(str(tmp_path / "ad"), n_sequences=3, per_seq=40)
    return R.read_augmented_diffs(spark, str(tmp_path / "ad"))


def test_update_tiles_snapshot_end_to_end(spark, diffs, tmp_path):
    root = str(tmp_path / "tiles")
    n = U.update_tiles(diffs, root, schema="snapshot", zoom=6)
    assert n > 0

    def read_all():
        out = {}
        for p in glob.glob(f"{root}/**/*.mvt.gz", recursive=True):
            layers = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))
            out[p] = layers.get("elements", [])
        return out

    tiles = read_all()
    assert any(tiles.values())
    # snapshot invariant: one feature per ELEMENT (type, id) PER TILE, all
    # visible (the fixture reuses numeric ids across nodes and ways, and
    # at unrelated coords across tiles — both are expected; the element
    # key is type-qualified like the reference's elementId)
    for p, feats in tiles.items():
        seen = set()
        for f in feats:
            ekey = (f.tags["__type"], int(f.tags["__id"]))
            assert ekey not in seen, f"duplicate element in snapshot tile {p}"
            seen.add(ekey)
            assert f.tags["__visible"] is True
    flat = {
        (p, f.tags["__type"], int(f.tags["__id"]), int(f.tags["__version"]))
        for p, fs in tiles.items()
        for f in fs
    }
    # ways made it in as line/polygon features, points as points
    assert {f.geom_type for fs in tiles.values() for f in fs} >= {1, 2, 3}
    # re-apply the same diffs -> sequences committed -> unchanged
    U.update_tiles(diffs, root, schema="snapshot", zoom=6)
    flat2 = {
        (p, f.tags["__type"], int(f.tags["__id"]), int(f.tags["__version"]))
        for p, fs in read_all().items()
        for f in fs
    }
    assert flat2 == flat


def test_update_tiles_counts_in_the_write_job(spark, diffs, tmp_path):
    """The returned tile count is the write job's own result: no second
    action re-plans and re-shuffles the per-zoom fan-out just to count."""
    from tests.conftest import jobs_launched

    with jobs_launched(spark) as jobs:
        n = U.update_tiles(
            diffs, str(tmp_path / "tiles"), schema="snapshot", zoom=[5, 6]
        )
    assert n > 0
    assert len(jobs) <= 2, sorted(jobs)


def test_upserted_tiles_are_byte_stable(spark, diffs, tmp_path):
    """Tile puts carry no wall-clock time: the gzip header's mtime field
    (bytes 4:8) is zero, so re-writing identical content rewrites
    identical bytes."""
    root = str(tmp_path / "tiles")
    U.update_tiles(diffs, root, schema="snapshot", zoom=6)
    mvt.upsert_tile_multi(root, 3, 1, 2, {7: [feat(1, 1)]}, "elements")
    paths = glob.glob(f"{root}/**/*.mvt.gz", recursive=True)
    assert len(paths) > 1
    for p in paths:
        assert open(p, "rb").read()[4:8] == b"\0\0\0\0", p


def test_update_tiles_history_accumulates(spark, diffs, tmp_path):
    root = str(tmp_path / "tiles")
    U.update_tiles(diffs, root, schema="history", zoom=6)
    total = 0
    closed = 0
    for p in glob.glob(f"{root}/**/*.mvt.gz", recursive=True):
        layers = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))
        for f in layers.get("elements", []):
            total += 1
            if "__validUntil" in f.tags:
                closed += 1
    assert total > 0
    # any element with >1 version in one tile produced a closed feature
    assert closed >= 0  # structural smoke; closure logic unit-tested above


def test_update_tiles_rejects_unknown_schema(spark, diffs, tmp_path):
    with pytest.raises(ValueError):
        U.update_tiles(diffs, str(tmp_path / "t"), schema="nope")


def _write_seq(dirpath, seq, features):
    import json
    import os

    os.makedirs(dirpath, exist_ok=True)
    with open(os.path.join(dirpath, f"{seq}.jsonl"), "w") as fh:
        fh.write("\n".join(json.dumps(f) for f in features) + "\n")


def _way_feature(seq, eid, version, coords, gtype="LineString", visible=True):
    return {
        "sequence": seq, "id": eid, "type": "way", "version": version,
        "minorVersion": 0, "updated": "2024-01-01T00:00:00",
        "visible": visible, "tags": {"highway": "primary"},
        "prevTags": None, "changeset": 1, "uid": 7, "user": "u7",
        "geomType": gtype,
        "geom": [{"lon": x, "lat": y} for x, y in coords],
        "prevGeom": None,
    }


def test_update_tiles_way_spans_two_tiles_history(spark, tmp_path):
    """A way crossing a tile boundary must land in BOTH covering tiles,
    clipped to each tile's extent (updater/package.scala:182-208 fan-out +
    per-key intersection), and history-schema versioning must work per
    tile independently."""
    from osmesa_spark.sources import replication as R

    # zoom 1: tile x boundary at lon 0 — a way from lon -5 to +5 spans
    # tiles (0, y) and (1, y)
    drop = str(tmp_path / "ad")
    _write_seq(drop, 2000, [
        _way_feature(2000, 42, 1, [(-5.0, 10.0), (5.0, 10.0)]),
    ])
    diffs = R.read_augmented_diffs(spark, drop)
    root = str(tmp_path / "tiles")
    U.update_tiles(diffs, root, schema="history", zoom=1)

    paths = sorted(glob.glob(f"{root}/**/*.mvt.gz", recursive=True))
    assert len(paths) == 2, paths

    def feats(p):
        return mvt.decode_tile(gzip.decompress(open(p, "rb").read()))["elements"]

    west, east = (feats(p) for p in paths)  # 1/0/y then 1/1/y
    assert len(west) == 1 and len(east) == 1
    for side in (west, east):
        f = side[0]
        assert f.geom_type == 2 and len(f.parts) == 1
        assert int(f.tags["__id"]) == 42 and f.tags["__type"] == "way"
    # clip shares the boundary vertex: west part ends at x=4096, east
    # starts at x=0, same pixel row
    (wpart,), (epart,) = west[0].parts, east[0].parts
    assert wpart[-1][0] == mvt.DEFAULT_EXTENT or wpart[0][0] == mvt.DEFAULT_EXTENT
    assert epart[0][0] == 0 or epart[-1][0] == 0
    assert {p[1] for p in wpart} == {p[1] for p in epart}

    # a second version closes the first IN EACH tile (history semantics)
    _write_seq(drop, 2001, [
        _way_feature(2001, 42, 2, [(-5.0, 10.0), (5.0, 10.2)]),
    ])
    diffs2 = R.read_augmented_diffs(spark, drop)
    U.update_tiles(diffs2, root, schema="history", zoom=1)
    for p in paths:
        fs = feats(p)
        assert len(fs) == 2
        v1 = next(f for f in fs if int(f.tags["__version"]) == 1)
        v2 = next(f for f in fs if int(f.tags["__version"]) == 2)
        assert "__validUntil" in v1.tags
        assert "__validUntil" not in v2.tags


def test_update_tiles_polygon_clip_and_departure(spark, tmp_path):
    """Polygon diffs are clipped per covering tile; when a later version
    moves the element out of a tile it previously covered, the snapshot
    schema removes it there (prevGeom fan-out = reference prevKeys)."""
    from osmesa_spark.sources import replication as R

    drop = str(tmp_path / "ad")
    # zoom 2 at lat≈0, lon≈45: tile x boundary at lon 0/90, y boundary at
    # lat 0 — a square straddling the equator covers 2 tiles
    sq = [(40.0, -2.0), (50.0, -2.0), (50.0, 2.0), (40.0, 2.0), (40.0, -2.0)]
    _write_seq(drop, 3000, [_way_feature(3000, 9, 1, sq, gtype="Polygon")])
    diffs = R.read_augmented_diffs(spark, drop)
    root = str(tmp_path / "tiles")
    U.update_tiles(diffs, root, schema="snapshot", zoom=2)
    paths = sorted(glob.glob(f"{root}/**/*.mvt.gz", recursive=True))
    assert len(paths) == 2, paths
    for p in paths:
        layers = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))
        (f,) = layers["elements"]
        assert f.geom_type == 3 and len(f.parts) == 1
        assert len(f.parts[0]) >= 3  # clipped ring, stored open
        assert mvt.ring_area2(f.parts[0]) != 0

    # v2 moves the square fully north of the equator: the southern tile
    # must drop the element (departure), the northern one replaces it
    sq2 = [(40.0, 1.0), (50.0, 1.0), (50.0, 4.0), (40.0, 4.0), (40.0, 1.0)]
    _write_seq(drop, 3001, [
        dict(_way_feature(3001, 9, 2, sq2, gtype="Polygon"),
             prevGeom=[{"lon": x, "lat": y} for x, y in sq]),
    ])
    diffs2 = R.read_augmented_diffs(spark, drop)
    U.update_tiles(diffs2, root, schema="snapshot", zoom=2)
    remaining = {}
    for p in paths:
        layers = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))
        remaining[p] = layers["elements"]
    north = [p for p in paths if "/1.mvt.gz" in p]
    south = [p for p in paths if "/2.mvt.gz" in p]
    assert len(north) == 1 and len(south) == 1
    assert len(remaining[north[0]]) == 1
    assert int(remaining[north[0]][0].tags["__version"]) == 2
    assert remaining[south[0]] == []


def test_tile_updater_app_multi_zoom(spark, tmp_path):
    """TileUpdater CLI parity: one run covers the full zoom range in a
    single plan; per-zoom content matches individual single-zoom runs,
    and re-running is a no-op (sequence idempotence per tile)."""
    from osmesa_spark import apps as A
    from osmesa_spark.datagen import write_augdiff_pairs_dropdir

    drop = str(tmp_path / "ad")
    write_augdiff_pairs_dropdir(drop, n_sequences=2, per_seq=15)
    root = str(tmp_path / "tiles")
    n = A.tile_updater(
        spark, drop, root, schema="snapshot", min_zoom=1, max_zoom=3,
        wire_format="pairs",
    )
    assert n > 0
    by_zoom = {}
    for p in glob.glob(f"{root}/**/*.mvt.gz", recursive=True):
        z = int(p[len(root) + 1:].split("/")[0])
        feats = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))["elements"]
        by_zoom.setdefault(z, set()).update(
            (p[len(root):], f.tags["__type"], int(f.tags["__id"]),
             int(f.tags["__version"]))
            for f in feats
        )
    assert set(by_zoom) == {1, 2, 3}

    # single-zoom twin run produces identical zoom-2 content
    from osmesa_spark.sources import replication as R

    solo = str(tmp_path / "solo")
    good, _ = R.split_errors(
        R.read_augmented_diffs(spark, drop, wire_format="pairs")
    )
    from osmesa_spark.sinks import updater as U

    U.update_tiles(good, solo, schema="snapshot", zoom=2)
    solo_set = set()
    for p in glob.glob(f"{solo}/**/*.mvt.gz", recursive=True):
        feats = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))["elements"]
        solo_set.update(
            (p[len(solo):], f.tags["__type"], int(f.tags["__id"]),
             int(f.tags["__version"]))
            for f in feats
        )
    assert solo_set == by_zoom[2]

    # idempotent re-run
    n2 = A.tile_updater(
        spark, drop, root, schema="snapshot", min_zoom=1, max_zoom=3,
        wire_format="pairs",
    )
    after = set()
    for p in glob.glob(f"{root}/**/*.mvt.gz", recursive=True):
        feats = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))["elements"]
        after.update(
            (p[len(root):], f.tags["__type"], int(f.tags["__id"]),
             int(f.tags["__version"]))
            for f in feats
        )
    assert after == set().union(*by_zoom.values())


def test_streaming_element_tiles_matches_batch(spark, tmp_path):
    """Streaming per-element updater twin: the stream-applied tile store
    must equal the batch-applied one feature for feature (same schema
    logic, committed-sequence idempotence absorbs retries)."""
    from osmesa_spark.datagen import write_augdiff_pairs_dropdir
    from osmesa_spark.sources import replication as R

    drop = str(tmp_path / "ad")
    write_augdiff_pairs_dropdir(drop, n_sequences=3, per_seq=12)
    good, _ = R.split_errors(
        R.read_augmented_diffs(spark, drop, wire_format="pairs")
    )
    batch_root = str(tmp_path / "batch")
    U.update_tiles(good, batch_root, schema="history", zoom=2)

    stream_root = str(tmp_path / "stream")
    raw = R.read_augmented_diffs(
        spark, drop, streaming=True, wire_format="pairs"
    )
    sgood, _ = R.split_errors(raw)
    q = U.run_streaming_element_tiles(
        sgood, stream_root, str(tmp_path / "ckpt"), schema="history", zoom=2
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    def snap(root):
        out = set()
        for p in glob.glob(f"{root}/**/*.mvt.gz", recursive=True):
            feats = mvt.decode_tile(
                gzip.decompress(open(p, "rb").read())
            )["elements"]
            out.update(
                (p[len(root):], f.tags["__type"], int(f.tags["__id"]),
                 int(f.tags["__version"]),
                 int(f.tags.get("__validUntil", -1)))
                for f in feats
            )
        return out

    assert snap(stream_root) == snap(batch_root)
    assert len(snap(stream_root)) > 0


def test_footprint_vt_zips_polygons(spark, tmp_path):
    """GenerateVT polygon path: real ring geometries → clipped per-tile
    polygon features, area-descending within each tile layer, packaged
    into the zip pyramid."""
    import io
    import zipfile

    from osmesa_spark import apps as A

    rows = [
        # big square straddling lon 0 (tile boundary at every zoom)
        (1, "Polygon", [{"lon": x, "lat": y} for x, y in
                        [(-3.0, 1.0), (5.0, 1.0), (5.0, 7.0), (-3.0, 7.0),
                         (-3.0, 1.0)]]),
        # small square inside the big one's east half
        (2, "Polygon", [{"lon": x, "lat": y} for x, y in
                        [(1.0, 2.0), (2.0, 2.0), (2.0, 3.0), (1.0, 3.0),
                         (1.0, 2.0)]]),
        # a way crossing both
        (3, "LineString", [{"lon": -4.0, "lat": 4.0}, {"lon": 6.0, "lat": 4.0}]),
        (4, "Point", [{"lon": 1.5, "lat": 2.5}]),
    ]
    geoms = spark.createDataFrame(
        rows,
        "id long, geomType string, "
        "geom array<struct<lon:double,lat:double>>",
    )
    root = str(tmp_path / "vt")
    out = A.footprint_vt_zips(spark, geoms, root, min_zoom=3, max_zoom=5)
    assert out["zips"] >= 1

    feats_by_tile = {}
    for zp in glob.glob(f"{root}/**/*.zip", recursive=True):
        with zipfile.ZipFile(zp) as zf:
            for name in zf.namelist():
                raw = gzip.decompress(zf.read(name))
                feats_by_tile[name] = mvt.decode_tile(raw)["features"]
    assert feats_by_tile
    seen_ids = {f.fid for fs in feats_by_tile.values() for f in fs}
    assert seen_ids == {1, 2, 3, 4}
    for name, fs in feats_by_tile.items():
        # StrictLayer order: points, lines, polygons area-desc
        kinds = [f.geom_type for f in fs]
        assert kinds == sorted(kinds), (name, kinds)
        areas = [mvt.feature_area2(f) for f in fs if f.geom_type == 3]
        assert areas == sorted(areas, reverse=True), (name, areas)
        for f in fs:
            if f.geom_type == 3:
                assert len(f.parts) == 1 and len(f.parts[0]) >= 3
                assert mvt.ring_area2(f.parts[0]) > 0
    # the big polygon (id 1) must appear in >= 2 tiles at zoom 5
    z5 = [n for n, fs in feats_by_tile.items()
          if n.startswith("5/") and any(f.fid == 1 for f in fs)]
    assert len(z5) >= 2


def test_update_tiles_urchn_end_to_end(spark, tmp_path):
    """urchn schema through the full grouped upsert: creation author
    survives later edits, version counts accumulate across micro-batches,
    and way features carry their lineage exactly like points."""
    from osmesa_spark.sources import replication as R

    drop = str(tmp_path / "ad")
    base = [(-1.0, 5.0), (1.0, 5.0)]
    f1 = _way_feature(4000, 77, 1, base)
    f1["user"], f1["uid"] = "alice", 1
    _write_seq(drop, 4000, [f1])
    root = str(tmp_path / "tiles")
    U.update_tiles(
        R.read_augmented_diffs(spark, drop), root, schema="urchn", zoom=3
    )

    f2 = _way_feature(4001, 77, 2, [(-1.0, 5.0), (1.0, 5.2)])
    f2["user"], f2["uid"] = "bob", 2
    _write_seq(drop, 4001, [f2])
    U.update_tiles(
        R.read_augmented_diffs(spark, drop), root, schema="urchn", zoom=3
    )

    paths = glob.glob(f"{root}/**/*.mvt.gz", recursive=True)
    assert paths
    for p in paths:
        feats = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))["elements"]
        (f,) = [x for x in feats if int(x.tags["__id"]) == 77]
        assert f.tags["__creation_author"] == "alice"
        assert f.tags["__author"] == "bob"
        assert int(f.tags["__versions"]) == 2
        assert int(f.tags["__version"]) == 2
        assert f.geom_type == 2  # lineage rides the way geometry


def test_feature_payload_and_minor_version_history(spark, tmp_path):
    """Reference makeFeature payload parity (History.scala:86-118):
    element tags + __changeset/__uid/__user ride on every tiled feature,
    and a minorVersion-only update (way-induced geometry change) closes
    the previous feature in the history schema."""
    from osmesa_spark.sources import replication as R

    drop = str(tmp_path / "ad")
    f1 = _way_feature(5000, 11, 2, [(-1.0, 5.0), (1.0, 5.0)])
    f1["changeset"], f1["uid"] = 777, 42
    _write_seq(drop, 5000, [f1])
    root = str(tmp_path / "tiles")
    U.update_tiles(
        R.read_augmented_diffs(spark, drop), root, schema="history", zoom=3
    )
    f2 = dict(f1, sequence=5001, minorVersion=1,
              updated="2024-01-02T00:00:00",
              geom=[{"lon": -1.0, "lat": 5.0}, {"lon": 1.0, "lat": 5.1}])
    _write_seq(drop, 5001, [f2])
    U.update_tiles(
        R.read_augmented_diffs(spark, drop), root, schema="history", zoom=3
    )

    paths = glob.glob(f"{root}/**/*.mvt.gz", recursive=True)
    assert paths  # the way spans the lon-0 boundary → 2 tiles at zoom 3
    for p in paths:
        feats = mvt.decode_tile(
            gzip.decompress(open(p, "rb").read())
        )["elements"]
        assert len(feats) == 2
        by_minor = {int(f.tags["__minorVersion"]): f for f in feats}
        assert set(by_minor) == {0, 1}
        # minor 0 closed by minor 1's timestamp; minor 1 open
        assert "__validUntil" in by_minor[0].tags
        assert "__validUntil" not in by_minor[1].tags
        for f in feats:
            assert f.tags["highway"] == "primary"  # element tags ride along
            assert int(f.tags["__changeset"]) == 777
            assert int(f.tags["__uid"]) == 42
            assert f.tags["__user"] == "u7"


def test_relation_multipolygon_through_pairs_wire(spark, tmp_path):
    """A relation-typed augmented-diff feature with MultiPolygon geometry
    (the {old,new} pair wire format) must flow through flattening →
    fan-out → clip → snapshot tiles as a polygon feature keyed
    type='relation' — the way/relation claim end to end."""
    import json
    import os

    from osmesa_spark.sources import replication as R

    ring = [[-2.0, 1.0], [3.0, 1.0], [3.0, 5.0], [-2.0, 5.0], [-2.0, 1.0]]
    island = [[8.0, 1.0], [9.0, 1.0], [9.0, 2.0], [8.0, 2.0], [8.0, 1.0]]
    line = json.dumps({
        "type": "FeatureCollection",
        "features": [{
            "type": "Feature", "id": "new",
            "geometry": {"type": "MultiPolygon",
                         "coordinates": [[ring], [island]]},
            "properties": {
                "id": 500, "type": "relation", "version": 1,
                "minorVersion": 0, "timestamp": "2024-01-01T00:00:00",
                "visible": True, "tags": {"type": "multipolygon",
                                          "landuse": "forest"},
                "changeset": 9, "uid": 3, "user": "u3",
                "augmentedDiff": 6000,
            },
        }],
    })
    drop = str(tmp_path / "ad")
    os.makedirs(drop, exist_ok=True)
    with open(os.path.join(drop, "6000.jsonl"), "w") as fh:
        fh.write(line + "\n")

    diffs = R.read_augmented_diffs(spark, drop, wire_format="pairs")
    good, errors = R.split_errors(diffs)
    assert errors.count() == 0
    (row,) = good.collect()
    assert row["type"] == "relation" and row["geomType"] == "Polygon"
    # VERTICES model is single-ring: the FIRST polygon's exterior
    assert [(p["lon"], p["lat"]) for p in row["geom"]] == [
        tuple(c) for c in ring
    ]

    root = str(tmp_path / "tiles")
    U.update_tiles(good, root, schema="snapshot", zoom=3)
    paths = glob.glob(f"{root}/**/*.mvt.gz", recursive=True)
    assert len(paths) == 2  # exterior spans the lon-0 tile boundary
    for p in paths:
        (f,) = mvt.decode_tile(
            gzip.decompress(open(p, "rb").read())
        )["elements"]
        assert f.geom_type == 3
        assert f.tags["__type"] == "relation"
        assert f.tags["landuse"] == "forest"
        assert mvt.ring_area2(f.parts[0]) > 0
