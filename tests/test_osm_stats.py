"""OSM-domain pipeline tests on FIXTURES.md-shaped synthetic data:
preprocess validity windows, way reconstruction, deltas, geocode,
changeset stats — checked against DuckDB re-derivations and invariants."""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from osmesa_spark.operators import geometry as G
from osmesa_spark.operators import preprocess as P
from osmesa_spark.operators.stats import changeset_stats
from tests.fixtures_gen import COUNTRIES, write_fixtures


@pytest.fixture(scope="module")
def fx_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("osm_fx")
    write_fixtures(str(d), n_elements=800, seed=42)
    return str(d)


@pytest.fixture(scope="module")
def history(spark, fx_dir):
    return spark.read.parquet(f"{fx_dir}/history.parquet")


@pytest.fixture(scope="module")
def changesets(spark, fx_dir):
    return spark.read.parquet(f"{fx_dir}/changesets.parquet")


@pytest.fixture(scope="module")
def fx_duck(fx_dir):
    con = duckdb.connect()
    con.sql(
        f"CREATE VIEW history AS SELECT * FROM read_parquet('{fx_dir}/history.parquet')"
    )
    con.sql(
        f"CREATE VIEW changesets AS SELECT * FROM read_parquet('{fx_dir}/changesets.parquet')"
    )
    yield con
    con.close()


def test_valid_until_windows(spark, history, fx_duck):
    nodes = P.preprocess_nodes(history)
    got = {
        (r["id"], r["version"]): r["validUntil"]
        for r in nodes.select("id", "version", "validUntil").collect()
    }
    exp = fx_duck.sql(
        """
        SELECT id, version,
               LEAD(timestamp) OVER (PARTITION BY id ORDER BY version) AS vu
        FROM history WHERE type = 'node'
        """
    ).fetchall()
    for nid, ver, vu in exp:
        spark_vu = got[(nid, ver)]
        if vu is None:
            assert spark_vu is None
        else:
            assert spark_vu is not None
            assert abs((spark_vu - vu.replace(tzinfo=spark_vu.tzinfo)).total_seconds()) < 1


def test_way_reconstruction_vertex_counts(spark, history, fx_duck):
    nodes = P.preprocess_nodes(history)
    ways = P.preprocess_ways(history)
    recon = G.reconstruct_way_geometries(ways, nodes)
    got = {
        (r["id"], r["version"]): r["nverts"]
        for r in recon.select(
            "id", "version", F.size("geom").alias("nverts")
        ).collect()
    }
    # DuckDB re-derivation of the temporal join (same validity rule)
    exp = fx_duck.sql(
        """
        WITH nv AS (
            SELECT id, lat, lon, visible, timestamp,
                   LEAD(timestamp) OVER (PARTITION BY id ORDER BY version) AS valid_until
            FROM history WHERE type = 'node'),
        wx AS (
            SELECT w.id AS way_id, w.version AS way_version, w.timestamp AS wts,
                   unnest(w.nds) AS ref
            FROM history w WHERE w.type = 'way')
        SELECT way_id, way_version, COUNT(*) AS nverts
        FROM wx JOIN nv ON wx.ref = nv.id
             AND nv.timestamp <= wx.wts
             AND wx.wts < COALESCE(nv.valid_until, TIMESTAMP '9999-01-01')
        WHERE nv.lon IS NOT NULL AND nv.lat IS NOT NULL AND nv.visible
        GROUP BY way_id, way_version
        HAVING COUNT(*) >= 2
        """
    ).fetchall()
    exp_map = {(w, v): n for w, v, n in exp}
    assert exp_map, "fixture produced no reconstructable ways"
    assert got == exp_map


def test_polygon_rule(spark, history):
    nodes = P.preprocess_nodes(history)
    ways = P.preprocess_ways(history)
    recon = G.reconstruct_way_geometries(ways, nodes)
    polys = recon.where(F.col("geomType") == "Polygon")
    bad = polys.where(
        (F.size("geom") < 4)
        | (F.get("geom", F.lit(0)) != F.get("geom", F.size("geom") - 1))
    ).count()
    assert bad == 0


def test_deltas_nonnegative_and_points_zero(spark, history):
    feats = G.with_deltas(
        G.with_prev_geom(
            G.construct_point_geometries(P.preprocess_nodes(history))
        )
    )
    assert feats.where(F.col("linearDelta") < 0).count() == 0
    assert feats.where(F.col("areaDelta") != 0).count() == 0  # points: no area


def test_changeset_stats_totals(spark, history, changesets, fx_duck):
    stats = changeset_stats(history, changesets, countries=COUNTRIES)
    rows = {r["id"]: r for r in stats.collect()}

    # 1 row per changeset incl. element-less ones
    n_changesets = fx_duck.sql("SELECT COUNT(*) FROM changesets").fetchone()[0]
    assert len(rows) == n_changesets

    # node-side buildings_added parity with a pure-SQL rederivation.
    # Reference semantics: "added" = version 1 (isNew), independent of
    # visible — a v1 delete counts as added AND deleted (DefaultCounts,
    # stats/package.scala:155-157).
    exp = dict(
        fx_duck.sql(
            """
            SELECT changeset, COUNT(*) FROM history
            WHERE type = 'node' AND version = 1
              AND lat IS NOT NULL AND lon IS NOT NULL
              AND (tags['building'])[1] IS NOT NULL AND (tags['building'])[1] <> 'no'
            GROUP BY changeset
            """
        ).fetchall()
    )
    for cs_id, n in exp.items():
        counts = rows[cs_id]["counts"] or {}
        way_part = fx_duck.sql(
            f"""
            SELECT COUNT(*) FROM history
            WHERE type='way' AND version=1 AND changeset={cs_id}
              AND (tags['building'])[1] IS NOT NULL AND (tags['building'])[1] <> 'no'
            """
        ).fetchone()[0]
        assert counts.get("buildings_added", 0) >= n, (cs_id, counts)
        assert counts.get("buildings_added", 0) <= n + way_part

    # hashtags extracted + lowercased + merged with ;-tag variant
    some = [r for r in rows.values() if r["hashtags"]]
    assert some, "no hashtags extracted"
    for r in some:
        for h in r["hashtags"]:
            assert h == h.lower() and " " not in h

    # geocode: every nonempty countries map uses known codes
    for r in rows.values():
        for code in (r["countries"] or {}):
            assert code in COUNTRIES


def test_changeset_stats_map_presence(spark, history, changesets):
    """A changeset with tagged features gets all three maps, {} for a kind
    it has no entry of (countries, with no countries dict given); one with
    none gets NULL maps and total_edits 0."""
    rows = changeset_stats(history, changesets).collect()
    feats = [r for r in rows if r["total_edits"] > 0]
    bare = [r for r in rows if r["total_edits"] == 0]
    assert feats and bare
    assert any(r["measurements"] == {} for r in feats)
    for r in feats:
        assert r["countries"] == {}
        assert r["counts"] is not None and r["measurements"] is not None
    for r in bare:
        assert (r["measurements"], r["counts"], r["countries"]) == (None, None, None)


def test_editor_and_user_join(spark, history, changesets):
    stats = changeset_stats(history, changesets)
    row = stats.where(F.col("editor").isNotNull()).first()
    assert row is not None
    assert any(
        row["editor"].startswith(e.split("/")[0].split(" ")[0])
        for e in ["iD", "JOSM", "Potlatch", "StreetComplete"]
    )


# ---------------------------------------------------------------------------
# relation (multipolygon) assembly
# ---------------------------------------------------------------------------

def test_stitch_rings_variants():
    from osmesa_spark.operators.geometry import _stitch_rings

    sq = [(0, 0), (1, 0), (1, 1), (0, 1), (0, 0)]
    # closed ring passes through
    assert _stitch_rings([sq]) == [sq]
    # two open halves chain into one closed ring
    h1 = [(0, 0), (1, 0), (1, 1)]
    h2 = [(1, 1), (0, 1), (0, 0)]
    out = _stitch_rings([h1, h2])
    assert len(out) == 1 and out[0][0] == out[0][-1] and len(out[0]) == 5
    # reversed second half still chains
    out = _stitch_rings([h1, h2[::-1]])
    assert len(out) == 1 and out[0][0] == out[0][-1]
    # unclosable segment drops
    assert _stitch_rings([[(0, 0), (5, 5)]]) == []
    # mixed: one closed + two halves -> two rings
    out = _stitch_rings([sq, h1, h2])
    assert len(out) == 2


def test_relation_assembly_rings_closed(spark, history):
    from osmesa_spark.operators import geometry as G
    from osmesa_spark.operators import preprocess as P

    wg = G.reconstruct_way_geometries(
        P.preprocess_ways(history), P.preprocess_nodes(history)
    )
    rels = G.reconstruct_relation_geometries(history, wg).collect()
    assert len(rels) > 0
    for r in rels:
        assert r.geomType == "MultiPolygon"
        for ring in r.rings:
            pts = [(p.lon, p.lat) for p in ring.ring]
            assert pts[0] == pts[-1] and len(pts) >= 4
            assert ring.role in ("outer", "inner")


def test_nested_relation_members_one_level(spark, history):
    """resolve_relations=True expands type='relation' members through the
    member relation's validity window (live at the SUPER timestamp) into
    that relation's way members; direct rows are unchanged."""
    wg = G.reconstruct_way_geometries(
        P.preprocess_ways(history), P.preprocess_nodes(history)
    )
    flat = G.relation_members_resolved(history, wg).collect()
    nested = G.relation_members_resolved(
        history, wg, resolve_relations=True
    ).collect()
    # direct rows identical (nested adds, never mutates)
    key = lambda r: (r.relId, r.version, r.pos, r.ref)
    direct_in_nested = {key(r) for r in nested if r.via_ref is None}
    assert {key(r) for r in flat} == direct_in_nested
    added = [r for r in nested if r.via_ref is not None]
    assert added, "fixture super-relations produced no nested rows"
    # every nested row's via_ref is a relation the super listed as member,
    # and its (sub_pos, ref) matches a way member of a via-relation version
    # whose [timestamp, validUntil) window contains the super's timestamp
    hist = {
        (r.id, r.version): r
        for r in history.where(F.col("type") == "relation").collect()
    }
    windows: dict[int, list] = {}
    for (rid, ver), row in sorted(hist.items()):
        windows.setdefault(rid, []).append(row)
    for r in added:
        sup = hist[(r.relId, r.version)]
        assert any(
            m["type"] == "relation" and m["ref"] == r.via_ref
            for m in sup.members
        )
        versions = windows[r.via_ref]
        live = [
            v
            for i, v in enumerate(versions)
            if v.timestamp <= sup.timestamp
            and (
                i + 1 == len(versions)
                or sup.timestamp < versions[i + 1].timestamp
            )
        ]
        assert len(live) == 1 and live[0].visible
        m = live[0].members[r.sub_pos]
        assert m["type"] == "way" and m["ref"] == r.ref and m["role"] == r.role
