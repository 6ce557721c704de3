"""The four rollup views (`operators/rollups.py`) against a pure-Python
reference: every output column, maps and top-k cuts included, over a seeded
stats frame with NULL user_id/editor/closed_at/hashtags/countries, changesets
without tagged features, and groups holding more keys than their cut."""

from __future__ import annotations

import random
from collections import defaultdict
from datetime import datetime, timedelta, timezone

import pytest

from osmesa_spark.operators import rollups
from tests.conftest import jobs_launched

STATS_SCHEMA = (
    "id bigint, measurements map<string,double>, counts map<string,bigint>, "
    "total_edits bigint, editor string, user_id bigint, created_at timestamp, "
    "closed_at timestamp, countries map<string,bigint>, hashtags array<string>"
)
FIELDS = [f.split()[0] for f in STATS_SCHEMA.split(", ")]
T0 = datetime(2024, 3, 1, 6, 0, 0)


def _stats_rows(seed: int = 7) -> list[dict]:
    rng = random.Random(seed)
    users = [1] * 12 + list(range(2, 31)) + [None] * 3
    editors = [f"ed{i:02d}" for i in range(14)] + [None] * 3
    tags = [f"h{i:02d}" for i in range(70)]
    codes = [f"C{i:02d}" for i in range(12)]
    mkeys = ["road_km_added", "road_km_modified", "landuse_km2_added", "coastline_km_added"]
    ckeys = ["roads_added", "buildings_added", "pois_modified", "other_deleted", "natural_added"]
    rows = []
    for i in range(420):
        created = T0 + timedelta(days=rng.randrange(40), seconds=rng.randrange(86400))
        row = dict(
            id=i,
            user_id=rng.choice(users),
            editor=rng.choice(editors),
            total_edits=rng.randrange(7),
            created_at=created,
            closed_at=None if rng.random() < 0.2 else created + timedelta(hours=rng.randrange(30)),
            hashtags=None,
            countries=None,
            measurements={k: rng.uniform(0.01, 3.0) for k in rng.sample(mkeys, rng.randrange(3))},
            counts={k: rng.randrange(1, 9) for k in rng.sample(ckeys, rng.randrange(4))},
        )
        r = rng.random()
        if r < 0.1:
            row["hashtags"] = []
        elif r < 0.9:
            popular = tags[:6] if rng.random() < 0.5 else tags
            row["hashtags"] = rng.sample(popular, rng.randrange(1, 5))
        r = rng.random()
        if r < 0.1:
            row["countries"] = {}
        elif r < 0.85:
            row["countries"] = {c: rng.randrange(1, 6) for c in rng.sample(codes, rng.randrange(1, 4))}
        if rng.random() < 0.08:  # a changeset with no tagged features
            row.update(measurements=None, counts=None, countries=None, total_edits=0)
        rows.append(row)
    # a NULL total, a NULL hashtag element, a changeset with neither timestamp
    rows[3]["total_edits"] = None
    rows[4]["hashtags"] = [None, "h01"]
    rows[5].update(created_at=None, closed_at=None)
    # a user whose changesets carry counts but no measurements (its
    # measurements map is {}, not NULL) and one with no tagged features at all
    for j, (uid, counts) in enumerate([(40, {"roads_added": 1}), (40, {"roads_added": 2}), (41, None)]):
        rows.append(dict(id=1000 + j, user_id=uid, editor="ed00", total_edits=1,
                         created_at=T0, closed_at=None, hashtags=["h02"], countries=None,
                         measurements=None if counts is None else {}, counts=counts))
    return rows


def _collision_rows() -> list[dict]:
    """(hashtag 'a|5', user NULL) and (hashtag 'a', user 5): distinct
    (hashtag, user) pairs whose `|`-joined string keys coincide."""
    base = dict(editor="ed00", total_edits=1, created_at=T0, closed_at=None, countries=None, counts={})
    return [
        dict(base, id=1, user_id=None, hashtags=["a|5"], measurements={"roads_added": 1.0}),
        dict(base, id=2, user_id=5, hashtags=["a"], measurements={"roads_added": 2.0}),
    ]


def _frame(spark, rows):
    return spark.createDataFrame([tuple(r[f] for f in FIELDS) for r in rows], STATS_SCHEMA)


# --------------------------------------------------------------------------
# pure-Python reference
# --------------------------------------------------------------------------

def _last(r):
    return r["closed_at"] or r["created_at"]


def _day(ts):
    # the session computes days in UTC; naive datetimes are local wall time
    return None if ts is None else datetime.fromtimestamp(ts.timestamp(), timezone.utc).date().isoformat()


def _general(rows, edits):
    lasts = [_last(r) for r in rows if _last(r) is not None]
    return dict(
        last_edit=max(lasts) if lasts else None,
        changeset_count=len(rows),
        edit_count=sum(edits(r) or 0 for r in rows),
    )


def _tally(pairs, k=None, prefix=""):
    """(key, edits) pairs → {prefix_changesets, prefix_edits}, cut to the
    first k keys by (edits desc, key) — RANK() over a unique key."""
    n, e = defaultdict(int), defaultdict(int)
    for key, edits in pairs:
        if key is not None:
            n[key] += 1
            e[key] += edits or 0
    keep = sorted(n, key=lambda key: (-e[key], key))[:k]
    if not keep:
        return {f"{prefix}_changesets": None, f"{prefix}_edits": None}
    return {f"{prefix}_changesets": {key: n[key] for key in keep},
            f"{prefix}_edits": {key: e[key] for key in keep}}


def _sum_maps(rows):
    """measurements and counts summed per key; a group with no entry in
    either gets NULL for both, otherwise {} for an empty one."""
    m, c = defaultdict(float), defaultdict(int)
    for r in rows:
        for key, v in (r["measurements"] or {}).items():
            m[key] += v
        for key, v in (r["counts"] or {}).items():
            c[key] += v
    if not m and not c:
        return dict(measurements=None, counts=None)
    return dict(measurements=dict(m), counts=dict(c))


def ref_user_statistics(rows):
    out = {}
    for uid, rs in _group(rows, lambda r: [r["user_id"]]).items():
        o = _general(rs, lambda r: r["total_edits"])
        if uid is None:  # a NULL user matches none of the view's map joins
            o.update(dict.fromkeys(["measurements", "counts"] + [
                f"{p}_{s}" for p in ("editor", "day", "country", "hashtag") for s in ("changesets", "edits")]))
        else:
            o.update(_sum_maps(rs))
            o.update(_tally([(r["editor"], r["total_edits"]) for r in rs], 10, "editor"))
            o.update(_tally([(_day(_last(r)), r["total_edits"]) for r in rs], None, "day"))
            o.update(_tally([(h, r["total_edits"]) for r in rs for h in r["hashtags"] or []], 50, "hashtag"))
            o.update(_tally([kv for r in rs for kv in (r["countries"] or {}).items()], None, "country"))
        out[(uid,)] = o
    return out


def ref_hashtag_statistics(rows):
    out = {}
    for tag, rs in _group(rows, lambda r: r["hashtags"] or []).items():
        o = _general(rs, lambda r: r["total_edits"])
        if tag is None:
            o.update(measurements=None, counts=None, user_changesets=None, user_edits=None)
        else:
            o.update(_sum_maps(rs))
            o.update(_tally([(_str(r["user_id"]), r["total_edits"]) for r in rs], 10, "user"))
        out[(tag,)] = o
    return out


def ref_country_statistics(rows):
    out = {}
    for code, rs in _group(rows, lambda r: list(r["countries"] or {})).items():
        o = _general(rs, lambda r: r["countries"][code])
        o.update(_tally([(h, r["countries"][code]) for r in rs for h in r["hashtags"] or []], 10, "hashtag"))
        out[(code,)] = o
    return out


def ref_hashtag_user_statistics(rows):
    out = {}
    for tag, rs in _group(rows, lambda r: r["hashtags"] or []).items():
        for uid, urs in _group(rs, lambda r: [r["user_id"]]).items():
            o = _general(urs, lambda r: r["total_edits"])
            o.update(_sum_maps(urs))
            out[(tag, uid)] = o
    return out


def _group(rows, keys):
    g = defaultdict(list)
    for r in rows:
        for k in keys(r):
            g[k].append(r)
    return g


def _str(v):
    return None if v is None else str(v)


# --------------------------------------------------------------------------
# comparison
# --------------------------------------------------------------------------

VIEWS = {
    "user_statistics": (["user_id"], ref_user_statistics),
    "hashtag_statistics": (["hashtag"], ref_hashtag_statistics),
    "country_statistics": (["code"], ref_country_statistics),
    "hashtag_user_statistics": (["hashtag", "user_id"], ref_hashtag_user_statistics),
}


def _same(got, want):
    if isinstance(want, dict) and isinstance(got, dict):
        return got.keys() == want.keys() and all(_same(got[k], want[k]) for k in want)
    if isinstance(want, float):
        return got == pytest.approx(want, rel=1e-9)
    return got == want and type(got) is type(want)


def _check_view(spark, name, rows):
    keys, ref = VIEWS[name]
    df = getattr(rollups, name)(_frame(spark, rows))
    want = ref(rows)
    got = {tuple(r[k] for k in keys): r.asDict() for r in df.collect()}
    assert got.keys() == want.keys()
    cols = [c for c in df.columns if c not in keys]
    assert set(cols) == set(next(iter(want.values())))
    bad = [(g, c, got[g][c], want[g][c]) for g in want for c in cols if not _same(got[g][c], want[g][c])]
    assert not bad, bad[:5]


@pytest.fixture(scope="module")
def stats_rows():
    return _stats_rows()


def test_fixture_exceeds_every_cut(stats_rows):
    """The top-k cuts are only exercised if some group has more keys."""
    def most(group, key):
        seen = defaultdict(set)
        for r in stats_rows:
            for g in group(r):
                for k in key(r):
                    if k is not None:
                        seen[g].add(k)
        return max(len(s) for s in seen.values())

    assert most(lambda r: [r["user_id"]], lambda r: [r["editor"]]) > 10
    assert most(lambda r: [r["user_id"]], lambda r: r["hashtags"] or []) > 50
    assert most(lambda r: r["hashtags"] or [], lambda r: [r["user_id"]]) > 10
    assert most(lambda r: list(r["countries"] or {}), lambda r: r["hashtags"] or []) > 10


@pytest.mark.parametrize("name", sorted(VIEWS))
def test_view_matches_reference(spark, stats_rows, name):
    _check_view(spark, name, stats_rows)


def test_hashtag_user_keys_do_not_collide(spark):
    rows = _collision_rows()
    _check_view(spark, "hashtag_user_statistics", rows)
    got = {
        (r["hashtag"], r["user_id"]): r["measurements"]
        for r in rollups.hashtag_user_statistics(_frame(spark, rows)).collect()
    }
    assert got == {("a|5", None): {"roads_added": 1.0}, ("a", 5): {"roads_added": 2.0}}


def test_user_statistics_job_count(spark, stats_rows):
    """All maps and scalars of the view come out of one aggregation chain:
    a handful of jobs, not one per map and per join."""
    df = rollups.user_statistics(_frame(spark, stats_rows[:60]))
    with jobs_launched(spark) as jobs:
        df.collect()
    assert len(jobs) <= 5, sorted(jobs)
