"""Map-valued aggregation primitives.

Reference semantics: the changeset-stats rollup sums `map<string,int>` counts
and `map<string,double>` measurements element-wise across rows, and counts
country-code frequencies — Scala UDFs `sum_counts` / `sum_measurements` /
`count_values` / `merge_counts` / `simplify_counts`
(`src/analytics/src/main/scala/osmesa/analytics/stats/functions/package.scala:12-36`,
call site `.../apps/batch/ChangesetStatsCreator.scala:125-142`); the four
materialized views then roll the per-changeset table up per user, hashtag,
country and (hashtag, user) with `jsonb_object_agg` maps and `RANK() <= k`
cuts (`deployment/sql/materialized_views/*.sql`).

Two strategies:

1. **HOF fold** (`sum_map_values`, `merge_counts`): `aggregate(collect_list(m),
   map(), merge)` — a literal translation, but `collect_list` has no partial
   aggregation: every map row crosses the shuffle. The streaming sinks use it
   on one micro-batch's groups, where that is cheap.

2. **explode → partial-agg → reassemble** (`map_sum_agg`): every batch
   rollup — `operators.stats.changeset_stats`' per-changeset maps and the
   four `operators.rollups` views — is one call of this kernel. Each input
   row contributes an array of tagged `(kind, key, values…)` entries
   (`map_entry`); the kernel sums them per (group, kind, key) with map-side
   combine, so the shuffle carries one partial row per (group, kind, key),
   never whole maps; cuts the ranked kinds to `RANK() <= k`; and builds
   every map and scalar column from one `collect_list` per group. Two
   shuffles, three with a cut: the rank window partitions by (group, kind),
   which the (group, kind, key) aggregate does not satisfy, so only the
   cut kinds' rows cross it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from osmesa_spark.functions.litexpr import q


def sum_map_values(maps_col: Column, value_type: str = "int") -> Column:
    """Element-wise sum of an array-of-maps column (HOF fold, small groups only).

    Equivalent of reference `sum_counts`/`sum_measurements`
    (`stats/functions/package.scala:12-21`).
    """
    zero = F.expr(f"cast(map() as map<string,{value_type}>)")
    return F.aggregate(
        maps_col,
        zero,
        lambda acc, m: F.map_zip_with(
            acc,
            m,
            lambda _k, a, b: F.coalesce(a, F.lit(0).cast(value_type))
            + F.coalesce(b, F.lit(0).cast(value_type)),
        ),
    )


def merge_counts(a: Column, b: Column, value_type: str = "int") -> Column:
    """Element-wise sum of two map columns (reference `merge_counts`,
    used for the way⋈point full-outer merge `ChangesetStatsCreator.scala:144-154`)."""
    zero = F.expr(f"cast(map() as map<string,{value_type}>)")
    return F.map_zip_with(
        F.coalesce(a, zero),
        F.coalesce(b, zero),
        lambda _k, x, y: F.coalesce(x, F.lit(0).cast(value_type))
        + F.coalesce(y, F.lit(0).cast(value_type)),
    )


def simplify_counts(m: Column) -> Column:
    """Drop zero/null entries (reference `simplify_counts`/`simplify_measurements`
    `stats/functions/package.scala:22-28`)."""
    return F.map_filter(m, lambda _k, v: v.isNotNull() & (v != 0))


def map_entry(values: dict, kind: str, key: str, **given: str) -> str:
    """SQL for one `map_sum_agg` entry: `kind`, the SQL string `key`, and
    one field per `values` name, cast to its type — `given[name]` (a SQL
    expression) or NULL. Every entry of one call has the same struct type."""
    fields = "".join(
        f", '{f}', CAST({given.get(f, 'NULL')} AS {t})" for f, (t, _) in values.items()
    )
    return f"named_struct('kind', '{kind}', 'key', {key}{fields})"


def map_sum_agg(
    df: DataFrame,
    group_cols: list[str],
    entries: str,
    values: dict,
    maps: dict,
    scalars: dict | None = None,
    top: dict | None = None,
    present: dict | None = None,
) -> DataFrame:
    """Roll tagged entries up per group into map and scalar columns.

    entries: SQL array of `map_entry` structs per input row (NULL keys are
             the caller's to drop: a map cannot hold one).
    values:  {field: (sql type, aggregate)} — each field is combined per
             (group, kind, key) with its aggregate (`sum`, `max`, ...).
    maps:    {out: (kind, field)} — out is the map key → field over the
             group's entries of that kind, keys ascending; NULL when the
             group has no entry of any kind in `present[out]` (default: the
             map's own kind), {} when it has some but none of this kind.
    scalars: {out: (kind, field)} — field of the kind's single key.
    top:     {kind: k} — keep the kind's keys of RANK() <= k by
             (`edits` desc, key), per group.

    Returns the group columns, then `scalars`, then `maps`, in order.
    """
    g = ", ".join(q(c) for c in group_cols)
    aggs = [F.expr(f"{agg}({q(f)})").alias(f) for f, (_, agg) in values.items()]
    if top:
        # the cut flag is an aggregate output, so the optimizer cannot push
        # the split below the per-key exchange: both branches reuse it
        cut = "kind IN (" + ", ".join(f"'{k}'" for k in top) + ")"
        aggs.append(F.expr(f"max({cut})").alias("__cut"))
    per_key = (
        df.selectExpr(*map(q, group_cols), f"explode({entries}) AS e")
        .selectExpr(*map(q, group_cols), "e.*")
        .groupBy(*group_cols, "kind", "key")
        .agg(*aggs)
    )
    if top:
        # only the cut kinds cross the rank window's (group, kind)
        # exchange; the uncut kinds go straight to the per-group collect.
        # The literal bound lets the optimizer put a WindowGroupLimit (a
        # per-partition top-k) below that exchange.
        ks = " ".join(f"WHEN '{kind}' THEN {k}" for kind, k in top.items())
        kmax = max(top.values())
        ranked = (
            per_key.where("__cut")
            .withColumn("__rank", F.expr(
                f"rank() OVER (PARTITION BY {g}, kind ORDER BY edits DESC, key)"
            ))
            .where(f"__rank <= {kmax} AND __rank <= CASE kind {ks} END")
            .drop("__rank")
        )
        per_key = per_key.where("NOT __cut").unionByName(ranked)
    struct = ", ".join(q(f) for f in ("kind", "key", *values))
    rolled = per_key.groupBy(*group_cols).agg(
        F.expr(f"array_sort(collect_list(struct({struct})))").alias("__e")
    )

    def of(kind: str) -> str:
        return f"filter(__e, e -> e.kind = '{kind}')"

    outs = [q(c) for c in group_cols]
    outs += [
        f"try_element_at({of(kind)}, 1).{q(f)} AS {q(out)}"
        for out, (kind, f) in (scalars or {}).items()
    ]
    for out, (kind, f) in maps.items():
        kinds = ", ".join(f"'{k}'" for k in (present or {}).get(out, (kind,)))
        outs.append(
            f"IF(exists(__e, e -> e.kind IN ({kinds})), map_from_entries("
            f"transform({of(kind)}, e -> struct(e.key, e.{q(f)}))), NULL) AS {q(out)}"
        )
    return rolled.selectExpr(*outs)
