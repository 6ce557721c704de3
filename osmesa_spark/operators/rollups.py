"""Stats rollup views — Spark SQL reimplementation of the reference's four
PostgreSQL materialized views (`deployment/sql/materialized_views/
{user,hashtag,country,hashtag_user}_statistics.sql`; SURVEY §2.4 A15, §2.5 W3).

Input: the changeset-stats table produced by operators.stats.changeset_stats
(one row per changeset: maps + total_edits + editor + user_id + hashtags +
countries). `jsonb_each` becomes an array of tagged entries per changeset,
`jsonb_object_agg` a map built from the group's entries, and the RANK() top-k
filters one rank window in which only the cut kinds are ordered.

Each view is one entry list and one `functions.maps.map_sum_agg` call: the
group's scalar columns (`_GENERAL`) and all of its maps come out of one
(group, kind, key) aggregate, so a view costs two shuffles, three when it has
a top-k cut — not one aggregate, shuffle and join per map. A NULL group key
(user_id, hashtag) contributes only its scalar entry: in the reference's
joins a NULL key matches nothing, so its maps are NULL.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from osmesa_spark.functions.maps import map_entry, map_sum_agg

# per (group, kind, key): n changesets (or summed counts), edits summed (the
# top-k order), v a summed measurement, last the latest edit
_VALUES = {
    "n": ("bigint", "sum"),
    "edits": ("bigint", "sum"),
    "v": ("double", "sum"),
    "last": ("timestamp", "max"),
}
_LAST = "coalesce(closed_at, created_at)"
_GENERAL = {
    "last_edit": ("all", "last"),
    "changeset_count": ("all", "n"),
    "edit_count": ("all", "edits"),
}
# measurements and counts share one presence: a group with entries in either
# gets {} for the other, NULL only with neither
_SUMMED = {"measurements": ("m", "v"), "counts": ("c", "n")}
_SUMMED_PRESENT = dict.fromkeys(_SUMMED, ("m", "c"))
_SUMMED_ENTRIES = [
    f"transform(map_entries(coalesce(measurements, map())), "
    f"x -> {map_entry(_VALUES, 'm', 'x.key', v='x.value')})",
    f"transform(map_entries(coalesce(counts, map())), "
    f"x -> {map_entry(_VALUES, 'c', 'x.key', n='x.value')})",
]


def _general(edits: str) -> str:
    """The group's scalar entry for one changeset."""
    return map_entry(_VALUES, "all", "''", n="1", edits=f"coalesce({edits}, 0)", last=_LAST)


def _tallies(kind: str, keys: str, edits: str = "total_edits") -> str:
    """One changeset (n = 1, its edits) under each element of the array `keys`."""
    entry = map_entry(_VALUES, kind, "k", n="1", edits=f"coalesce({edits}, 0)")
    return f"transform(coalesce({keys}, array()), k -> {entry})"


def _entries(group: str, edits: str, *parts: str) -> str:
    """The scalar entry, then `parts` minus NULL keys and, for a NULL
    group key, minus everything."""
    return (
        f"concat(array({_general(edits)}), filter(concat({', '.join(parts)}), "
        f"e -> e.key IS NOT NULL AND {group} IS NOT NULL))"
    )


def _pair(kind: str) -> dict:
    return {f"{kind}_changesets": (kind, "n"), f"{kind}_edits": (kind, "edits")}


def user_statistics(changesets: DataFrame) -> DataFrame:
    """user_statistics.sql parity: per-user lifetime rollup, top-10 editors,
    top-50 hashtags, per-day and per-country maps."""
    day = f"CAST(CAST(date_trunc('day', {_LAST}) AS DATE) AS STRING)"
    country = map_entry(_VALUES, "country", "x.key", n="1", edits="x.value")
    entries = _entries(
        "user_id",
        "total_edits",
        *_SUMMED_ENTRIES,
        _tallies("editor", "array(editor)"),
        _tallies("day", f"array({day})"),
        f"transform(map_entries(coalesce(countries, map())), x -> {country})",
        _tallies("hashtag", "hashtags"),
    )
    maps = {**_SUMMED, **_pair("editor"), **_pair("day"), **_pair("country"), **_pair("hashtag")}
    return map_sum_agg(
        changesets, ["user_id"], entries, _VALUES, maps, _GENERAL,
        top={"editor": 10, "hashtag": 50}, present=_SUMMED_PRESENT,
    )


def hashtag_statistics(changesets: DataFrame) -> DataFrame:
    """hashtag_statistics.sql parity: per-hashtag rollup + top-10 users."""
    cs = changesets.select(F.explode("hashtags").alias("hashtag"), "*")
    entries = _entries(
        "hashtag",
        "total_edits",
        *_SUMMED_ENTRIES,
        _tallies("user", "array(CAST(user_id AS STRING))"),
    )
    return map_sum_agg(
        cs, ["hashtag"], entries, _VALUES, {**_SUMMED, **_pair("user")}, _GENERAL,
        top={"user": 10}, present=_SUMMED_PRESENT,
    )


def country_statistics(changesets: DataFrame) -> DataFrame:
    """country_statistics.sql parity: per-country rollup + top-10 hashtags
    (RANK ≤ 10, country_statistics.sql:33-41), edits counted in the country."""
    cc = changesets.select(F.explode("countries").alias("code", "cedits"), "*")
    entries = _entries("code", "cedits", _tallies("hashtag", "hashtags", edits="cedits"))
    return map_sum_agg(
        cc, ["code"], entries, _VALUES, _pair("hashtag"), _GENERAL, top={"hashtag": 10}
    )


def hashtag_user_statistics(changesets: DataFrame) -> DataFrame:
    """hashtag_user_statistics.sql parity: per (hashtag, user) rollup; a
    NULL user is a group of its own and keeps its maps."""
    cs = changesets.select(F.explode("hashtags").alias("hashtag"), "*")
    entries = f"concat(array({_general('total_edits')}), {', '.join(_SUMMED_ENTRIES)})"
    return map_sum_agg(
        cs, ["hashtag", "user_id"], entries, _VALUES, _SUMMED, _GENERAL,
        present=_SUMMED_PRESENT,
    )
