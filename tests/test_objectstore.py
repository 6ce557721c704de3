"""Object-store seam (S3-style IO, updater/package.scala:36-180 parity):
scheme dispatch, content-encoding metadata, missing-key → None, atomic
local writes, and the MVT tile store running over mem:// and file:// roots
through the exact same code path an s3:// root would take."""

from __future__ import annotations

import gzip

import pytest

from osmesa_spark.sinks import mvt
from osmesa_spark.sources.objectstore import (
    HAVE_BOTO3,
    LocalStore,
    MemStore,
    join_key,
    open_store,
)


def test_memstore_roundtrip_and_encoding():
    MemStore.wipe("t1")
    s = MemStore("t1")
    assert s.get("a/b") is None  # NoSuchKey -> None
    payload = gzip.compress(b"tile-bytes")
    s.put("a/b", payload, content_encoding="gzip")
    assert s.get("a/b") == payload  # raw get: stored bytes as-is
    assert s.encoding("a/b") == "gzip"
    assert s.get_decoded("a/b") == b"tile-bytes"  # client-style get
    s.put("a/c", b"plain")
    assert s.get_decoded("a/c") == b"plain"
    assert s.list("a/") == ["a/b", "a/c"]


def test_localstore_atomic_and_list(tmp_path):
    s = LocalStore(str(tmp_path))
    payload = gzip.compress(b"abc")
    s.put("z/1/2.mvt.gz", payload, content_encoding="gzip")
    assert s.get("z/1/2.mvt.gz") == payload
    assert s.encoding("z/1/2.mvt.gz") == "gzip"
    assert s.list() == ["z/1/2.mvt.gz"]
    assert not any(
        p.name.endswith(".tmp") for p in tmp_path.rglob("*") if p.is_file()
    ), "tmp file left behind — write not atomic"


def test_localstore_encoding_survives_a_fresh_store(tmp_path):
    """A file root keeps no metadata: the gzip label a tile upsert put is
    read back off the stored bytes by a store opened afterwards."""
    root = str(tmp_path / "pyramid")
    mvt.upsert_tile_multi(root, 3, 1, 2, {100: [_feat(7, 5)]}, "density")
    store, prefix = open_store(root)
    key = join_key(prefix, "3/1/2.mvt.gz")
    assert store.get(key) is not None
    assert store.encoding(key) == "gzip"
    store.put("plain", b"abc")
    assert store.encoding("plain") is None
    assert store.encoding("missing") is None


def test_open_store_dispatch(tmp_path):
    store, prefix = open_store(f"file://{tmp_path}")
    assert isinstance(store, LocalStore) and prefix == ""
    store, prefix = open_store(str(tmp_path))
    assert isinstance(store, LocalStore) and prefix == ""
    store, prefix = open_store("mem://bkt/some/prefix")
    assert isinstance(store, MemStore) and prefix == "some/prefix"
    with pytest.raises(ValueError):
        open_store("ftp://nope/x")
    if not HAVE_BOTO3:
        # honest dependency gate: clear error, not a silent fallback
        with pytest.raises(ImportError):
            open_store("s3://bucket/prefix")


def test_join_key():
    assert join_key("p", "1", "2.gz") == "p/1/2.gz"
    assert join_key("", "1/2", "3.gz") == "1/2/3.gz"
    assert join_key("/p/", "/x/") == "p/x"


def _feat(fid: int, density: int) -> mvt.MvtFeature:
    return mvt.MvtFeature(
        fid=fid, geom_type=1, points=[(8, 8)],
        tags={"density": density, "__id": fid},
    )


def test_tile_upsert_over_memstore():
    """The full tile upsert cycle (G8/G9) against an in-memory bucket —
    what the reference does against S3, without the network: write, merge,
    idempotent skip, committed-sequence bookkeeping, gzip labeling."""
    MemStore.wipe("tiles")
    root = "mem://tiles/pyramid"
    assert mvt.read_tile(root, 3, 1, 2) is None
    r1 = mvt.upsert_tile_multi(root, 3, 1, 2, {100: [_feat(7, 5)]}, "density")
    assert r1 == "written"
    r2 = mvt.upsert_tile_multi(root, 3, 1, 2, {101: [_feat(7, 3)]}, "density")
    assert r2 == "updated"
    # re-delivery of an already-committed sequence is a no-op
    r3 = mvt.upsert_tile_multi(root, 3, 1, 2, {100: [_feat(7, 99)]}, "density")
    assert r3 == "skipped"
    layers = mvt.read_tile(root, 3, 1, 2)
    (f,) = layers["density"]
    assert f.tags["density"] == 8  # 5 + 3, the 99 skipped
    assert mvt.committed_sequences(layers) == [100, 101]
    # the stored object is gzip-labeled like the reference's S3 put
    store = MemStore("tiles")
    assert store.encoding("pyramid/3/1/2.mvt.gz") == "gzip"


def test_tile_pyramid_file_uri_root(spark, tmp_path):
    """write_tile_pyramid_grouped with a file:// URI root — executor-side writes
    scheme-routed through the store seam, same layout as bare paths."""
    import os

    from pyspark.sql import functions as F

    from osmesa_spark.operators import vectorgrid as VG

    pts = spark.createDataFrame(
        [(float(i % 30) * 3, float(i % 15) * 3) for i in range(300)],
        "lon double, lat double",
    )
    base = VG.tile_points(pts, zoom=4, cells=16)
    vec = VG.vectorize(base, cells=16)
    root_uri = f"file://{tmp_path}/tiles"
    n = mvt.write_tile_pyramid_grouped(
        vec.withColumn("sequence", F.lit(1)), root_uri, cells=16
    )
    assert n > 0
    written = [
        p for p in (tmp_path / "tiles").rglob("*.mvt.gz")
    ]
    assert len(written) == n
    # readable back through the same URI root
    any_tile = written[0]
    z, tx, tyf = any_tile.parts[-3:]
    layers = mvt.read_tile(
        root_uri, int(z), int(tx), int(tyf.split(".")[0])
    )
    assert layers and "density" in layers
    assert not any(
        str(p).endswith(".tmp") for p in (tmp_path / "tiles").rglob("*")
    )
