"""Changeset edit-statistics pipeline — the engine's flagship OSM batch job.

Parity target: `osmesa.apps.batch.ChangesetStatsCreator`
(`src/apps/src/main/scala/osmesa/apps/batch/ChangesetStatsCreator.scala:80-240`)
with the measurement/count semantics of `stats/package.scala:119-179`
(DefaultMeasurements / DefaultCounts) and README.md:55-115.

Pipeline (SURVEY §3.1):
    history ──preprocess──▶ nodes/ways
      nodes ──▶ point features          (construct_point_geometries)
      ways  ──▶ line/polygon features   (reconstruct_way_geometries)
      union ──▶ prevGeom lag ──▶ deltas ──▶ geocode
            ──▶ per-row counts/measurements maps
            ──▶ per-changeset rollup (map-sum w/ partial agg) + country freq
      ⋈ changeset metadata (editor, hashtags, createdAt/closedAt)
    ──▶ changesets stats table (deployment/sql/06-changesets.sql shape)

Scale notes: the per-changeset rollup uses the explode→partial-agg→reassemble
map aggregation (functions/maps.py) — at 100 TB the shuffle carries
(changeset, key, partial_sum) rows, never whole maps or collect_lists. The
metadata join is changeset-keyed on both sides (co-partitioned); hashtag
explode happens after aggregation on the already-small stats relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmesa_spark.functions import tags as tg
from osmesa_spark.functions.maps import map_entry, map_sum_agg, simplify_counts
from osmesa_spark.functions.text import changeset_hashtags
from osmesa_spark.operators import geometry as G
from osmesa_spark.operators import preprocess as P
from osmesa_spark.operators.geocode import BBoxCountries, geocode_countries
from osmesa_spark.util import column_memo

# (name, predicate-factory) families for DefaultCounts
_COUNT_FAMILIES = [
    ("roads", tg.is_road),
    ("waterways", tg.is_waterway),
    ("coastlines", tg.is_coastline),
    ("buildings", tg.is_building),
    ("railway_features", tg.is_rail_feature),
    ("raillines", tg.is_rail_line),
    ("pois", tg.is_poi),
    ("landuse", tg.is_landuse),
    ("natural", tg.is_natural),
    ("other", tg.is_other),
]

# (name, predicate, delta-column, scale) families for DefaultMeasurements
_MEASUREMENT_FAMILIES = [
    ("road_km", tg.is_road, "linearDelta", 1.0 / 1000),
    ("waterway_km", tg.is_waterway, "linearDelta", 1.0 / 1000),
    ("coastline_km", tg.is_coastline, "linearDelta", 1.0 / 1000),
    ("railline_km", tg.is_rail_line, "linearDelta", 1.0 / 1000),
    ("landuse_km2", tg.is_landuse, "areaDelta", 1.0 / 1_000_000),
    ("natural_km2", tg.is_natural, "areaDelta", 1.0 / 1_000_000),
]


# per (changeset, kind, key): n summed counts (feature or country tallies),
# v summed measurements
_ROLLUP_VALUES = {"n": ("bigint", "sum"), "v": ("double", "sum")}


def _edit_state():
    """(added, modified, deleted) condition columns —
    README.md:60-67 semantics."""
    is_new = tg.is_new("version", "minorVersion")
    return (
        is_new,
        ~is_new & F.col("visible"),
        ~F.col("visible"),
    )


@column_memo
def default_counts(tags_col: str = "tags") -> F.Column:
    """map<string,int> of per-row feature-class counts
    (stats/package.scala:146-179)."""
    added, modified, deleted = _edit_state()
    entries = []
    for fam, pred in _COUNT_FAMILIES:
        p = pred(tags_col)
        entries += [
            (f"{fam}_added", (p & added).cast("int")),
            (f"{fam}_modified", (p & modified).cast("int")),
            (f"{fam}_deleted", (p & deleted).cast("int")),
        ]
    return simplify_counts(
        F.create_map(*[c for k, v in entries for c in (F.lit(k), v)])
    )


@column_memo
def default_measurements(tags_col: str = "tags") -> F.Column:
    """map<string,double> of per-row km / km² deltas
    (stats/package.scala:119-144)."""
    added, modified, deleted = _edit_state()
    entries = []
    for fam, pred, delta, scale in _MEASUREMENT_FAMILIES:
        p = pred(tags_col)
        d = F.col(delta) * scale
        entries += [
            (f"{fam}_added", (p & added).cast("int") * d),
            (f"{fam}_modified", (p & modified).cast("int") * d),
            (f"{fam}_deleted", (p & deleted).cast("int") * d),
        ]
    return simplify_counts(
        F.create_map(*[c for k, v in entries for c in (F.lit(k), v)])
    )


def build_features(
    history: DataFrame, countries: dict | None = None
) -> DataFrame:
    """history → unified point/way features with deltas (and countries,
    see `geocode.geocode_countries`)."""
    nodes = P.preprocess_nodes(history)
    ways = P.preprocess_ways(history)
    points = G.construct_point_geometries(nodes)
    lines = G.reconstruct_way_geometries(ways, nodes)
    feats = points.unionByName(lines)
    feats = G.with_prev_geom(feats)
    return geocode_countries(G.with_deltas(feats), countries)


def changeset_stats(
    history: DataFrame,
    changesets: DataFrame,
    countries: BBoxCountries | None = None,
) -> DataFrame:
    """Full batch pipeline → one row per changeset
    (deployment/sql/06-changesets.sql shape; ChangesetStatsCreator.scala:125-199).

    Output: id, measurements map, counts map, total_edits, editor, user_id,
    created_at, closed_at, countries map (code→edit count), hashtags array.
    """
    feats = build_features(history, countries).where(tg.is_tagged("tags"))
    per_row = feats.select(
        F.col("changeset"),
        default_counts().alias("counts"),
        default_measurements().alias("measurements"),
        F.coalesce("countries", F.array().cast("array<string>")).alias(
            "countries"
        ),
    )

    # Single-pass rollup: counts, measurements, country frequencies and
    # total_edits all ride ONE tagged entry stream, so the feature lineage
    # (way reconstruction — the heaviest stage) executes once and one
    # shuffle with map-side combine carries (changeset, kind, key, sum).
    # The 4-branch alternative (one agg per map + 3 joins) recomputes that
    # lineage four times: Catalyst does not dedupe shared subplans across
    # self-joins. Every feature row carries a `total` entry, so a changeset
    # with features gets {} for a map it has no entries in.
    def entry(kind: str, key: str, **given: str) -> str:
        return map_entry(_ROLLUP_VALUES, kind, key, **given)

    total = entry("total", "''", n="1")
    entries = (
        f"concat(array({total}), "
        f"transform(map_entries(counts), x -> {entry('c', 'x.key', n='x.value')}), "
        f"transform(map_entries(measurements), x -> {entry('m', 'x.key', v='x.value')}), "
        f"transform(countries, c -> {entry('country', 'c', n='1')}))"
    )
    maps = {"measurements": ("m", "v"), "counts": ("c", "n"), "countries": ("country", "n")}
    stats = map_sum_agg(
        per_row, ["changeset"], entries, _ROLLUP_VALUES, maps,
        scalars={"total_edits": ("total", "n")},
        present=dict.fromkeys(maps, ("total",)),
    )

    meta = changesets.select(
        F.col("id").alias("changeset"),
        F.col("tags").getItem("created_by").alias("editor"),
        F.col("uid").alias("user_id"),
        F.col("createdAt").alias("created_at"),
        F.col("closedAt").alias("closed_at"),
        changeset_hashtags("tags").alias("hashtags"),
    )

    # right join keeps empty changesets (full-outer spirit of J3/J4: metadata
    # exists even when no tagged features contributed)
    return (
        stats.join(meta, "changeset", "right")
        .select(
            F.col("changeset").alias("id"),
            "measurements",
            "counts",
            F.coalesce("total_edits", F.lit(0)).alias("total_edits"),
            "editor",
            "user_id",
            "created_at",
            "closed_at",
            "countries",
            "hashtags",
        )
    )
