"""Vector-grid pipeline property tests: pyramid sum preservation, level
agreement, cell bounds, z-order bijectivity."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from osmesa_spark.operators import vectorgrid as VG


@pytest.fixture(scope="module")
def points(spark):
    import random

    rng = random.Random(7)
    rows = [
        (rng.uniform(-170, 170), rng.uniform(-80, 80), rng.randint(1, 3))
        for _ in range(2000)
    ]
    return spark.createDataFrame(rows, ["lon", "lat", "w"])


def test_rasterize_total_preserved(spark, points):
    pyr = VG.point_pyramid(points, 10, 128, weight_col="w")
    total_in = points.agg(F.sum("w")).first()[0]
    assert pyr.where(F.col("zoom") == 10).agg(F.sum("value")).first()[0] == total_in


def test_pyramid_sum_preserved_per_level(spark, points):
    pyr = VG.point_pyramid(points, 6, 128)
    sums = {
        r["zoom"]: r["s"]
        for r in pyr.groupBy("zoom").agg(F.sum("value").alias("s")).collect()
    }
    assert set(sums) == set(range(0, 7))
    assert len(set(sums.values())) == 1  # every level preserves the total


def test_downsample_parent_relation(spark, points):
    """Level z of a zoom-4 pyramid is exactly the base level of a pyramid
    rasterized from the raw points at zoom z, for every z: the `abs >> dz`
    ancestors agree with the per-level floor."""
    pyr = VG.point_pyramid(points, 4, 128, keys=["w"])
    for z in range(0, 5):
        level = pyr.where(F.col("zoom") == z)
        direct = VG.point_pyramid(points, z, 128, keys=["w"]).where(
            F.col("zoom") == z
        )
        assert sorted(map(tuple, level.collect())) == sorted(
            map(tuple, direct.collect())
        ), f"zoom {z}"


def test_vectorize_zorder_unique_per_tile(spark, points):
    feats = VG.vectorize(VG.point_pyramid(points, 8, 128))
    dup = (
        feats.groupBy("zoom", "tx", "ty", "__id")
        .count()
        .where(F.col("count") > 1)
        .count()
    )
    assert dup == 0
    bad = feats.where((F.col("ccol") >= 128) | (F.col("crow") >= 128)).count()
    assert bad == 0
