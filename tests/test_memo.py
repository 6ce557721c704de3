"""The package's one memo (`util.ctx_memo`): its rule, each use's
staleness case, and a lint that keeps every cache on it."""

from __future__ import annotations

import ast
import gc
import os
import pathlib
import shutil

import pytest
from pyspark.sql import functions as F

from osmesa_spark import util as U
from tests.conftest import SF_CORRECT, jobs_launched

PKG = pathlib.Path(__file__).resolve().parent.parent / "osmesa_spark"


class _Ctx:
    """Stands in for a SparkContext: hashable by identity, weakly referable."""


def test_ctx_memo_rule():
    a, b = _Ctx(), _Ctx()
    builds = []

    def build(v):
        def f():
            builds.append(v)
            return v
        return f

    # entries are per context
    assert U.ctx_memo(a, "k", build(1)) == 1
    assert U.ctx_memo(a, "k", build(2)) == 1
    assert U.ctx_memo(b, "k", build(3)) == 3
    assert builds == [1, 3]

    # a changed stamp rebuilds; the same stamp is served
    assert U.ctx_memo(a, "s", build(4), stamp=(1, 10)) == 4
    assert U.ctx_memo(a, "s", build(5), stamp=(1, 10)) == 4
    assert U.ctx_memo(a, "s", build(6), stamp=(2, 10)) == 6
    assert builds == [1, 3, 4, 6]

    # a build that raises stores nothing
    def boom():
        raise RuntimeError("build failed")

    with pytest.raises(RuntimeError):
        U.ctx_memo(a, "r", boom)
    assert "r" not in U._MEMO[a]
    assert U.ctx_memo(a, "r", build(7)) == 7

    # a dropped context's entries vanish
    n = len(U._MEMO)
    del b
    gc.collect()
    assert len(U._MEMO) == n - 1
    assert U._MEMO[a]["k"] == (None, 1)


def test_path_stamp(tmp_path):
    p = tmp_path / "f"
    p.write_bytes(b"abc")
    (s,) = U.path_stamp(str(p))
    assert s[1] == 3
    p.write_bytes(b"abcd")
    assert U.path_stamp(str(p)) != (s,)
    assert U.path_stamp(str(tmp_path / "missing")) == (None,)


def test_read_parquet_sees_rewritten_schema(spark, tmp_path):
    import pyarrow as pa
    import pyarrow.parquet as pq

    from osmesa_spark.queries import _read_parquet

    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1]}), path)
    assert _read_parquet(spark, path).columns == ["a"]
    pq.write_table(pa.table({"a": [3], "b": ["x"]}), path)
    df = _read_parquet(spark, path)
    assert df.columns == ["a", "b"]
    assert [tuple(r) for r in df.collect()] == [(3, "x")]


def _square(lon: float, lat: float, r: float = 2.0) -> list:
    return [(lon - r, lat - r), (lon + r, lat - r), (lon + r, lat + r), (lon - r, lat + r)]


def _point(spark, lon: float, lat: float):
    return spark.createDataFrame([(lon, lat)], "lon double, lat double").select(
        F.array(F.struct("lon", "lat")).alias("geom")
    )


def test_grid_geocode_sees_country_added_in_place(spark):
    from osmesa_spark.datagen import COUNTRY_POLYGONS
    from osmesa_spark.operators.geocode import geocode_grid

    countries = dict(COUNTRY_POLYGONS)
    pt = _point(spark, 101.0, 51.0)
    assert geocode_grid(pt, countries).first()["countries"] == []
    countries["ZZZ"] = _square(101.0, 51.0)
    assert geocode_grid(pt, countries).first()["countries"] == ["ZZZ"]


def test_grid_index_reused_for_equal_content_copy(spark, monkeypatch):
    from osmesa_spark.operators import geocode as G

    builds = []
    real = G.build_grid_index

    def counting(*a, **kw):
        builds.append(a)
        return real(*a, **kw)

    monkeypatch.setattr(G, "build_grid_index", counting)
    # content no other test memoizes, so the first call must build
    countries = {"YYY": _square(-123.25, 37.75), "XXX": _square(17.5, -3.5, 1.0)}
    pt = _point(spark, -123.0, 38.0)
    G.geocode_grid(pt, countries)
    G.geocode_grid(pt, {k: list(v) for k, v in countries.items()})
    assert len(builds) == 1


def test_stats_memo_rebuilds_on_stamp_change(spark, tmp_path, monkeypatch):
    from osmesa_spark import queries_osm as Qo

    Qo.ensure_fixtures()
    paths = {}
    for name in ("_HISTORY", "_CHANGESETS"):
        src = getattr(Qo, name)
        paths[name] = str(tmp_path / os.path.basename(src))
        shutil.copyfile(src, paths[name])
        monkeypatch.setattr(Qo, name, paths[name])
    first = Qo._stats_df(spark)
    assert Qo._stats_df(spark) is first
    st = os.stat(paths["_CHANGESETS"])
    os.utime(paths["_CHANGESETS"], ns=(st.st_atime_ns, st.st_mtime_ns + 10**9))
    assert Qo._stats_df(spark) is not first


@pytest.mark.parametrize(
    "name",
    ["osm_user_statistics", "osm_geocode_realworld", "knn_lsh", "pricing_summary"],
)
def test_warm_construction_launches_no_jobs(spark, name):
    from osmesa_spark import queries as Q

    q = Q.registry()[name]
    q.spark(spark, SF_CORRECT)
    with jobs_launched(spark) as jobs:
        q.spark(spark, SF_CORRECT)
    assert not jobs, (
        f"a warm construction of {name} launched jobs"
    )


def _memo_lint(tree: ast.Module, is_util: bool) -> list[str]:
    """Ways to cache around `ctx_memo`: a `global` rebinding, a
    module-level MEMO/CACHE name outside util.py, or state stored on a
    SparkContext."""

    def ctx_target(t) -> bool:
        return isinstance(t, ast.Attribute) and (
            (isinstance(t.value, ast.Name) and t.value.id == "sc")
            or (isinstance(t.value, ast.Attribute) and t.value.attr == "sparkContext")
        )

    bad = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Global):
            bad.append(f"{node.lineno}: global {', '.join(node.names)}")
        targets = []
        if isinstance(node, ast.Assign):
            targets = node.targets
        elif isinstance(node, (ast.AnnAssign, ast.AugAssign)):
            targets = [node.target]
        elif (isinstance(node, ast.Call) and isinstance(node.func, ast.Name)
              and node.func.id == "setattr" and node.args):
            targets = [ast.Attribute(value=node.args[0], attr="?")]
        for t in targets:
            if ctx_target(t):
                bad.append(f"{node.lineno}: attribute stored on a SparkContext")
    if not is_util:
        for node in tree.body:
            names = []
            if isinstance(node, ast.Assign):
                names = [t.id for t in node.targets if isinstance(t, ast.Name)]
            elif isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
                names = [node.target.id]
            elif isinstance(node, (ast.FunctionDef, ast.ClassDef)):
                names = [node.name]
            bad += [f"{node.lineno}: module-level {n}" for n in names
                    if "memo" in n.lower() or "cache" in n.lower()]
    return bad


def test_every_cache_goes_through_ctx_memo():
    found = {}
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        bad = _memo_lint(tree, path == PKG / "util.py")
        if bad:
            found[str(path.relative_to(PKG))] = bad
    assert not found, f"caches outside util.ctx_memo: {found}"


def test_memo_lint_catches_each_form():
    src = (
        "_X_CACHE = {}\n"
        "def f(sc, spark):\n"
        "    global y\n"
        "    sc._shipped = True\n"
        "    spark.sparkContext.flag = 1\n"
        "    setattr(sc, 'k', 2)\n"
    )
    assert len(_memo_lint(ast.parse(src), False)) == 5
    assert len(_memo_lint(ast.parse(src), True)) == 4
