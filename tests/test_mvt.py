"""MVT codec + tile-pyramid sink: wire-format round-trip, pyramid sum
preservation, sequence-idempotent upsert (G8-G10, S12-S13, VectorGrid
committed-sequences semantics)."""

from __future__ import annotations

import glob
import gzip

import pytest
from pyspark.sql import functions as F

from osmesa_spark.operators import vectorgrid as vg
from osmesa_spark.sinks import mvt

SF = "/root/testdata/sf0.001"


def test_wire_round_trip():
    layers = {
        "edits": [
            mvt.MvtFeature(
                fid=7,
                geom_type=1,
                points=[(100, 200), (50, 4000)],
                tags={"density": 42, "__id": 7, "name": "a b", "neg": -3,
                      "flag": True, "ratio": 0.5},
            ),
            mvt.MvtFeature(fid=None, geom_type=1, points=[(0, 0)],
                           tags={"density": 1, "__id": 9}),
        ],
        "other": [
            mvt.MvtFeature(fid=1, geom_type=1, points=[(4095, 4095)],
                           tags={"__id": 1}),
        ],
    }
    out = mvt.decode_tile(mvt.encode_tile(layers))
    assert set(out) == {"edits", "other"}
    f0 = out["edits"][0]
    assert f0.fid == 7
    assert f0.points == [(100, 200), (50, 4000)]
    assert f0.tags == {"density": 42, "__id": 7, "name": "a b", "neg": -3,
                       "flag": True, "ratio": 0.5}
    assert out["edits"][1].fid is None
    assert out["other"][0].points == [(4095, 4095)]


@pytest.fixture()
def pyramid_df(spark):
    from osmesa_spark.queries import _t

    ev = _t(spark, SF, "events")
    pts = ev.select(
        (F.col("value") - 100.0).alias("lon"),
        ((F.col("user_id") * 7) % 140 - 70.0).cast("double").alias("lat"),
    )
    base = vg.tile_points(pts, zoom=6, cells=16)
    return vg.vectorize(vg.pyramid(base, base_zoom=6), cells=16)


def test_pyramid_write_and_read_back(spark, pyramid_df, tmp_path):
    root = str(tmp_path / "tiles")
    n_points = pyramid_df.where(F.col("zoom") == 6).agg(
        F.sum("value")
    ).first()[0]
    n_tiles = mvt.write_tile_pyramid_grouped(
        pyramid_df.withColumn("sequence", F.lit(100)), root, cells=16
    )
    files = glob.glob(f"{root}/**/*.mvt.gz", recursive=True)
    assert len(files) == n_tiles > 0
    # per-level density sums are all equal to the base point count
    for zoom in (6, 3, 0):
        total = 0
        for p in glob.glob(f"{root}/{zoom}/*/*.mvt.gz"):
            layers = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))
            total += sum(f.tags["density"] for f in layers["density"])
        assert total == n_points, f"zoom {zoom}"
    # committed sequence recorded
    some = glob.glob(f"{root}/0/*/*.mvt.gz")[0]
    layers = mvt.decode_tile(gzip.decompress(open(some, "rb").read()))
    assert mvt.committed_sequences(layers) == [100]


def test_upsert_idempotent_and_merging(spark, pyramid_df, tmp_path):
    root = str(tmp_path / "tiles")
    z0 = pyramid_df.where(F.col("zoom") == 0)
    base_total = z0.agg(F.sum("value")).first()[0]

    def z0_total():
        tot = 0
        for p in glob.glob(f"{root}/0/*/*.mvt.gz"):
            layers = mvt.decode_tile(gzip.decompress(open(p, "rb").read()))
            tot += sum(f.tags["density"] for f in layers["density"])
        return tot

    mvt.write_tile_pyramid_grouped(z0.withColumn("sequence", F.lit(1)), root, cells=16)
    assert z0_total() == base_total
    # same sequence re-applied -> skipped (idempotent)
    mvt.write_tile_pyramid_grouped(z0.withColumn("sequence", F.lit(1)), root, cells=16)
    assert z0_total() == base_total
    # new sequence -> merged by __id, densities sum
    mvt.write_tile_pyramid_grouped(z0.withColumn("sequence", F.lit(2)), root, cells=16)
    assert z0_total() == 2 * base_total
    some = glob.glob(f"{root}/0/*/*.mvt.gz")[0]
    layers = mvt.decode_tile(gzip.decompress(open(some, "rb").read()))
    assert mvt.committed_sequences(layers) == [1, 2]


def test_committed_sequence_cap():
    seq_layer = mvt._sequence_layer(list(range(1500)))
    seqs = sorted(int(f.tags["sequence"]) for f in seq_layer)
    assert len(seqs) == mvt.MAX_COMMITTED_SEQUENCES
    assert seqs[0] == 500 and seqs[-1] == 1499


# ---------------------------------------------------------------------------
# hypothesis fuzz: codec round-trip over arbitrary layers
# ---------------------------------------------------------------------------

try:
    from hypothesis import given, settings
    from hypothesis import strategies as st

    HAVE_HYPOTHESIS = True
except Exception:  # pragma: no cover
    HAVE_HYPOTHESIS = False

if HAVE_HYPOTHESIS:
    _tag_values = st.one_of(
        st.booleans(),
        st.integers(min_value=-(2**62), max_value=2**62),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=24),
    )
    _features = st.lists(
        st.builds(
            mvt.MvtFeature,
            fid=st.one_of(st.none(), st.integers(min_value=0, max_value=2**53)),
            geom_type=st.just(1),
            points=st.lists(
                st.tuples(
                    st.integers(min_value=-8192, max_value=8191),
                    st.integers(min_value=-8192, max_value=8191),
                ),
                min_size=1,
                max_size=8,
            ),
            tags=st.dictionaries(st.text(min_size=1, max_size=12), _tag_values, max_size=4),
        ),
        max_size=6,
    )
    _layers = st.dictionaries(
        st.text(min_size=1, max_size=16), _features, min_size=1, max_size=3
    )

    @settings(max_examples=150, deadline=None)
    @given(layers=_layers)
    def test_codec_roundtrip_fuzz(layers):
        """encode→decode is the identity on fid/geom/points/tags for any
        point-layer tile (varint boundaries, negative ints via sint64,
        doubles, unicode keys/values, shared value interning)."""
        out = mvt.decode_tile(mvt.encode_tile(layers))
        assert set(out) == set(layers)
        for name, feats in layers.items():
            got = out[name]
            assert len(got) == len(feats)
            for f, g in zip(feats, got):
                assert g.fid == f.fid
                assert g.geom_type == f.geom_type
                assert g.points == f.points
                assert g.tags == f.tags


def test_save_in_zips_z2_order_and_readback(spark, tmp_path):
    """saveInZips parity (GenerateVT.scala:85-115): zoom 10 → offset 2 →
    archives keyed at zoom 8 by (tx>>2, ty>>2); entries Z2-ordered with
    names {zoom}/{tx}/{ty}.mvt; re-run writes byte-identical archives."""
    import itertools
    import zipfile

    rows = [
        (tx, ty, f"tile-{tx}-{ty}".encode())
        for tx, ty in itertools.product(range(8, 16), range(4, 10))
    ]
    df = spark.createDataFrame(rows, "tx int, ty int, data binary")
    root = str(tmp_path / "zips")
    n = mvt.save_pyramid_in_zips(df.withColumn("zoom", F.lit(10)), root)
    # ancestors: tx>>2 in {2,3}, ty>>2 in {1,2} → 4 zips at zoom 8
    assert n == 4
    import os

    zpath = os.path.join(root, "8", "2", "1.zip")
    with zipfile.ZipFile(zpath) as zf:
        names = zf.namelist()
        # all 16 children of ancestor (2,1): tx 8-11, ty 4-7
        assert len(names) == 16
        def z2(tx, ty):
            z = 0
            for i in range(16):
                z |= ((tx >> i) & 1) << (2 * i)
                z |= ((ty >> i) & 1) << (2 * i + 1)
            return z
        keys = [tuple(map(int, nm.split("/")[1:3 ])) for nm in
                (nm.removesuffix(".mvt") for nm in names)]
        assert [z2(tx, ty) for tx, ty in keys] == sorted(
            z2(tx, ty) for tx, ty in keys
        )
        assert zf.read(names[0]).startswith(b"tile-")
    # single-tile read-back through the seam
    got = mvt.read_zip_tile(root, 10, 9, 5)
    assert got == b"tile-9-5"
    assert mvt.read_zip_tile(root, 10, 99, 99) is None
    # idempotent byte-stable re-run
    before = open(zpath, "rb").read()
    mvt.save_pyramid_in_zips(df.withColumn("zoom", F.lit(10)), root)
    assert open(zpath, "rb").read() == before
