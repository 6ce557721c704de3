"""Query catalog: every implemented operator family from SURVEY.md §2 gets a
named query over the driver's synthetic tables, plus a DuckDB oracle SQL
string with identical semantics and column names.

Conventions (driver contract, __spark_entry__.py):
  * every computed column aliased identically in Spark and SQL
  * doubles rounded (2–6 dp) in BOTH engines so value-hashes are stable
  * deterministic tie-breaks on every rank/row_number
  * counts cast to bigint both sides

Each entry documents which SURVEY §2 operators it exercises.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from osmesa_spark.functions.maps import map_entry, map_sum_agg
from osmesa_spark.functions import text as text_fns
from osmesa_spark.functions.text import (
    doc_fingerprint,
    quality_score,
    token_count,
)
from osmesa_spark.functions.timeseq import day_key, timestamp_to_sequence
from osmesa_spark.functions import geo
from osmesa_spark.functions import tags as tg
from osmesa_spark.operators import curation as cur
from osmesa_spark.operators import dedup as dd
from osmesa_spark.operators import similarity as sim
from osmesa_spark.util import ensure_parallelism
from osmesa_spark.operators import textops


@dataclass
class QuerySpec:
    spark: Callable[[SparkSession, str], DataFrame]
    # DuckDB SQL, a zero-arg callable producing it (for oracles whose SQL
    # needs a generated fixture on disk — resolved lazily on first access
    # so importing the registry never pays fixture generation), or None
    # (driver runs the weaker rows-only check)
    oracle_src: str | Callable[[], str] | None
    doc: str = ""

    @property
    def oracle(self) -> str | None:
        if callable(self.oracle_src):
            self.oracle_src = self.oracle_src()
        return self.oracle_src


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """spark.read.parquet with the inferred schema memoized per path: a
    plain read runs a footer-reading schema-inference JOB on every call,
    an explicit schema (metadata, no data) skips it. A rewrite of the path
    re-infers."""
    from osmesa_spark.util import ctx_memo, path_stamp

    s = ctx_memo(
        spark.sparkContext, ("schema", path),
        lambda: spark.read.parquet(path).schema, stamp=path_stamp(path),
    )
    return spark.read.schema(s).parquet(path)


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load a driver table. `events` ships nanosecond parquet timestamps,
    which Spark's vectorized reader rejects — read them as long and truncate
    to microseconds (the oracle SQL truncates identically; see
    EVENTS_MICRO_CTE)."""
    if name == "events":
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_parquet(spark, os.path.join(sf_dir, "events.parquet"))
        if dict(df.dtypes)["ts"] == "bigint":
            # integer `div`, NOT `/`: float division of epoch-nanos (~1.7e18)
            # exceeds double's 53-bit exact range and lands ±1 µs off
            df = df.withColumn(
                "ts", F.timestamp_micros(F.expr("ts div 1000"))
            )
        return df
    return _read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


# DuckDB-side mirror of the events µs truncation: a CTE that shadows the
# `events` view inside each oracle query.
EVENTS_MICRO_CTE = (
    "ev AS (SELECT event_id, date_trunc('microseconds', ts) AS ts, "
    "user_id, event_type, value, props FROM events)"
)


REGISTRY: dict[str, QuerySpec] = {}


def register(
    name: str, oracle: str | Callable[[], str] | None, doc: str = ""
):
    def wrap(fn):
        REGISTRY[name] = QuerySpec(spark=fn, oracle_src=oracle, doc=doc)
        return fn

    return wrap


# ===========================================================================
# Relational core (SURVEY §2.2-§2.8 over the TPC-H-ish tables)
# ===========================================================================

@register(
    "pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           ROUND(SUM(l_quantity), 2)                                   AS sum_qty,
           ROUND(SUM(l_extendedprice), 2)                              AS sum_base_price,
           ROUND(SUM(l_extendedprice * (1 - l_discount)), 2)           AS sum_disc_price,
           ROUND(AVG(l_quantity), 4)                                   AS avg_qty,
           ROUND(AVG(l_extendedprice), 4)                              AS avg_price,
           COUNT(*)::BIGINT                                            AS count_order
    FROM lineitem
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="scan+filter pushdown, hash agg w/ partial agg (§2.4 A1 family)",
)
def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


@register(
    "price_quantiles",
    """
    SELECT l_returnflag,
           ROUND(quantile_cont(l_extendedprice, 0.5), 4)  AS p50,
           ROUND(quantile_cont(l_extendedprice, 0.9), 4)  AS p90,
           ROUND(quantile_cont(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="exact linear-interpolated percentiles per group (F.percentile ≡ "
    "quantile_cont) — distribution profiling for curation thresholds; at "
    "100 TB swap for approx_percentile (documented trade)",
)
def q_price_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_extendedprice", F.lit(0.5)), 4).alias("p50"),
        F.round(F.percentile("l_extendedprice", F.lit(0.9)), 4).alias("p90"),
        F.round(F.percentile("l_extendedprice", F.lit(0.99)), 4).alias("p99"),
    )


@register(
    "price_quantiles_sketch",
    """
    SELECT l_returnflag,
           ROUND(quantile_disc(l_extendedprice, 0.5), 4)  AS p50,
           ROUND(quantile_disc(l_extendedprice, 0.9), 4)  AS p90,
           ROUND(quantile_disc(l_extendedprice, 0.99), 4) AS p99
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="MERGEABLE quantile sketch per group — percentile_approx "
    "(Greenwald-Khanna summaries): memory is O(accuracy·log n) per group "
    "regardless of cardinality and partial sketches merge map-side, which "
    "is THE 100 TB quantile path (exact F.percentile holds per-group "
    "value buffers). Discrete convention (returns actual data elements, "
    "≡ quantile_disc); at accuracy ≥ group row count — true at the "
    "oracle's test scale — GK degenerates to exact order statistics, so "
    "the hash oracle is exact, while production drops accuracy to trade "
    "error for memory (documented one-sided ε·n rank bound)",
)
def q_price_quantiles_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    q = F.percentile_approx(
        "l_extendedprice", F.array(F.lit(0.5), F.lit(0.9), F.lit(0.99)),
        F.lit(1_000_000),
    )
    return li.groupBy("l_returnflag").agg(q.alias("q")).select(
        "l_returnflag",
        F.round(F.col("q")[0], 4).alias("p50"),
        F.round(F.col("q")[1], 4).alias("p90"),
        F.round(F.col("q")[2], 4).alias("p99"),
    )


@register(
    "rollup_pricing",
    """
    SELECT COALESCE(l_returnflag, '(all)') AS returnflag,
           COALESCE(l_linestatus, '(all)') AS linestatus,
           GROUPING(l_returnflag)::INT AS g_flag,
           GROUPING(l_linestatus)::INT AS g_status,
           COUNT(*)::BIGINT AS n,
           ROUND(SUM(l_extendedprice), 2) AS total_price
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="hierarchical ROLLUP with GROUPING markers — subtotals + grand total "
    "in one pass (survey §2.4 'not present' in the reference; free in "
    "Spark, listed as available-if-wanted)",
)
def q_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.rollup("l_returnflag", "l_linestatus")
        .agg(
            F.grouping("l_returnflag").cast("int").alias("g_flag"),
            F.grouping("l_linestatus").cast("int").alias("g_status"),
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("l_extendedprice"), 2).alias("total_price"),
        )
        .select(
            F.coalesce("l_returnflag", F.lit("(all)")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("(all)")).alias("linestatus"),
            "g_flag",
            "g_status",
            "n",
            "total_price",
        )
    )


@register(
    "top_revenue_orders",
    """
    SELECT o.o_orderkey, c.c_mktsegment,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
                    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE o.o_orderstatus = 'O'
    GROUP BY o.o_orderkey, c.c_mktsegment
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    doc="3-way join + agg + deterministic top-k (§2.3 J1/J4, §2.6). No "
    "broadcast hint on customer: it scales with SF (a real dim table at "
    "100 TB) — the optimizer broadcasts it only while it fits",
)
def q_top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "O")
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .groupBy("o_orderkey", "c_mktsegment")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), "o_orderkey")
        .limit(10)
    )


@register(
    "full_outer_stats_merge",
    """
    WITH order_stats AS (
        SELECT o_custkey AS custkey, COUNT(*)::BIGINT AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS total_spent
        FROM orders GROUP BY o_custkey
    ),
    cust_info AS (
        SELECT c_custkey AS custkey, ROUND(c_acctbal, 2) AS acctbal
        FROM customer WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')
    )
    SELECT COALESCE(o.custkey, ci.custkey)     AS custkey,
           COALESCE(o.n_orders, 0)::BIGINT     AS n_orders,
           COALESCE(o.total_spent, 0.0)        AS total_spent,
           COALESCE(ci.acctbal, 0.0)           AS acctbal
    FROM order_stats o FULL OUTER JOIN cust_info ci ON o.custkey = ci.custkey
    """,
    doc="full-outer merge of two aggregate branches — ChangesetStatsCreator.scala:144-154 (J3)",
)
def q_full_outer_stats_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = (
        _t(spark, sf_dir, "orders")
        .groupBy(F.col("o_custkey").alias("custkey"))
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
        )
    )
    ci = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment").isin("BUILDING", "MACHINERY"))
        .select(
            F.col("c_custkey").alias("custkey"),
            F.round(F.col("c_acctbal"), 2).alias("acctbal"),
        )
    )
    return (
        o.join(ci, "custkey", "full_outer")
        .select(
            F.col("custkey"),
            F.coalesce("n_orders", F.lit(0)).cast("bigint").alias("n_orders"),
            F.coalesce("total_spent", F.lit(0.0)).alias("total_spent"),
            F.coalesce("acctbal", F.lit(0.0)).alias("acctbal"),
        )
    )


@register(
    "range_temporal_join",
    """
    SELECT DATE_TRUNC('month', o.o_orderdate)::DATE AS order_month,
           COUNT(*)::BIGINT                         AS n_lines,
           ROUND(SUM(l.l_extendedprice), 2)         AS volume
    FROM lineitem l JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL 90 DAY
    GROUP BY order_month
    """,
    doc="equi+range (temporal validity) join — FacetedEditHistogramTileCreator.scala:76 (J6)",
)
def q_range_temporal_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    return (
        li.join(
            o,
            (li.l_orderkey == o.o_orderkey)
            & (li.l_shipdate >= o.o_orderdate)
            & (li.l_shipdate < F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")),
        )
        .groupBy(F.date_trunc("month", "o_orderdate").cast("date").alias("order_month"))
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.round(F.sum("l_extendedprice"), 2).alias("volume"),
        )
    )


@register(
    "window_prev_value",
    f"""
    WITH {EVENTS_MICRO_CTE}
    SELECT event_id,
           user_id,
           ROUND(COALESCE(value - LAG(value) OVER
               (PARTITION BY user_id ORDER BY ts, event_id), 0.0), 2) AS delta
    FROM ev
    """,
    doc="lag() over (id ORDER BY updated) — prevGeom window, stats/package.scala:62-68 (W1)",
)
def q_window_prev_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        "user_id",
        F.round(
            F.coalesce(F.col("value") - F.lag("value").over(w), F.lit(0.0)), 2
        ).alias("delta"),
    )


@register(
    "user_cardinality_approx",
    """
    SELECT event_type, COUNT(*)::BIGINT AS n_events,
           COUNT(DISTINCT user_id)::BIGINT AS exact_users,
           TRUE AS hll_within_5pct
    FROM events GROUP BY event_type
    """,
    doc="approx_count_distinct (HLL++) per event_type — the sketch-based "
    "cardinality path for 100 TB (constant memory vs exact distinct's "
    "shuffle); survey §2.4 lists it as free-in-Spark, absent in reference. "
    "The raw estimate is inherently un-hashable (engine-specific sketch), "
    "so the row emits the INVARIANT instead: |HLL − exact| ≤ 5%·exact per "
    "group, which the oracle asserts as a literal TRUE against its own "
    "exact distinct — a sketch regression flips the boolean and fails the "
    "hash. The exact countDistinct alongside is the sf-scale ground truth "
    "only; at 100 TB the sketch column is the one you'd keep",
)
def q_user_cardinality_approx(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.02).alias("approx"),
            F.countDistinct("user_id").alias("exact_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
        .select(
            "event_type",
            "n_events",
            "exact_users",
            (
                F.abs(F.col("approx") - F.col("exact_users"))
                <= 0.05 * F.col("exact_users")
            ).alias("hll_within_5pct"),
        )
    )


def _cms_sql(depth: int = 4, width: int = 512, min_count: int = 80) -> str:
    """Generated oracle for cms_heavy_users: replays the count-min build
    (portable-hash positions, integer counter sums) and the min-over-rows
    estimate cell-for-cell against operators/sketches.py."""
    h = lambda i: (  # noqa: E731
        f"('0x' || substr(md5('{_CMS_SEED_BASE + i}:' || user_id::VARCHAR),"
        f" 1, 15))::BIGINT % {width}"
    )
    cell_union = " UNION ALL ".join(
        f"SELECT user_id, {i} AS row, {h(i)} AS pos FROM ev"
        for i in range(depth)
    )
    probe_union = " UNION ALL ".join(
        f"SELECT user_id, {i} AS row, {h(i)} AS pos FROM keys"
        for i in range(depth)
    )
    return f"""
    WITH ev AS (SELECT user_id FROM events),
    cells AS ({cell_union}),
    sketch AS (SELECT row, pos, count(*)::BIGINT AS cnt
               FROM cells GROUP BY row, pos),
    keys AS (SELECT DISTINCT user_id FROM ev),
    probes AS ({probe_union}),
    est AS (SELECT user_id, MIN(cnt) AS est_count
            FROM probes JOIN sketch USING (row, pos) GROUP BY user_id),
    exact AS (SELECT user_id, count(*)::BIGINT AS exact_count
              FROM ev GROUP BY user_id)
    SELECT est.user_id, est_count, exact_count,
           est_count >= exact_count AS never_undercounts
    FROM est JOIN exact USING (user_id)
    WHERE est_count >= {min_count}
    """


from osmesa_spark.operators.sketches import _CMS_SEED_BASE  # noqa: E402


@register(
    "cms_heavy_users",
    _cms_sql(),
    doc="count-min-sketch heavy hitters (Cormode 2005): depth×width "
    "integer counters — build is one bounded-output shuffle (≤ d·w rows "
    "out regardless of corpus size), probe joins the distinct-key frame "
    "against the BROADCAST sketch, est = min over rows. The sketch path "
    "for when the KEY SPACE dwarfs memory (URLs/n-grams at 100 TB) — "
    "complements exact hot_keys; portable hashing makes the counters and "
    "estimates bit-replayable, and the emitted never_undercounts column "
    "is the one-sided-error law (sketch extension)",
)
def q_cms_heavy_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators import sketches as sk

    ev = _t(spark, sf_dir, "events").select("user_id")
    hh = sk.cms_heavy_hitters(ev, "user_id", min_count=80)
    exact = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    return hh.join(exact, "user_id").select(
        "user_id",
        "est_count",
        "exact_count",
        (F.col("est_count") >= F.col("exact_count")).alias(
            "never_undercounts"
        ),
    )


@register(
    "asof_click_attribution",
    f"""
    WITH {EVENTS_MICRO_CTE},
    p AS (SELECT event_id, user_id, ts FROM ev WHERE event_type = 'purchase'),
    c AS (SELECT user_id, ts, MAX(event_id) AS click_id
          FROM ev WHERE event_type = 'click' GROUP BY user_id, ts)
    SELECT p.event_id, p.user_id, c.click_id AS asof_click_id
    FROM p ASOF LEFT JOIN c
      ON p.user_id = c.user_id AND p.ts >= c.ts
    """,
    doc="as-of (backward) join: each purchase attributed to the user's most "
    "recent prior click — union-merge window implementation (one shuffle, "
    "no range-join pair explosion); oracle = DuckDB's native ASOF JOIN",
)
def q_asof_click_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.asof import asof_join

    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    clicks = ev.where(F.col("event_type") == "click").select(
        "user_id", "ts", F.col("event_id").alias("click_id")
    )
    return asof_join(
        purchases, clicks, key="user_id", time_col="ts", value_cols=["click_id"]
    ).select("event_id", "user_id", "asof_click_id")


@register(
    "event_tumbling_rollup",
    f"""
    WITH {EVENTS_MICRO_CTE}
    SELECT date_trunc('hour', ts) AS window_start,
           event_type,
           COUNT(*)::BIGINT AS n_events,
           ROUND(SUM(value), 2) AS total_value
    FROM ev GROUP BY window_start, event_type
    """,
    doc="tumbling event-time window rollup via F.window — the "
    "streaming-native aggregation shape run as its bounded twin (T8 "
    "pattern; the reference has no window() usage — survey §2.10 'not "
    "present' — this is the Spark-idiomatic extension)",
)
def q_event_tumbling_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@register(
    "event_sliding_rollup",
    f"""
    WITH {EVENTS_MICRO_CTE},
    x AS (
        SELECT event_type,
               make_timestamp(
                 ((FLOOR(epoch(ts) / 1800) * 1800 - u.j * 1800) * 1000000)::BIGINT
               ) AS window_start
        FROM ev, LATERAL (SELECT unnest([0, 1]) AS j) u)
    SELECT window_start, event_type,
           COUNT(*)::BIGINT AS n_events
    FROM x GROUP BY window_start, event_type
    """,
    doc="sliding event-time windows (1h every 30min): each event lands in 2 "
    "overlapping windows — F.window(slide) vs an explicit window-offset "
    "unnest in the oracle (window-family completeness extension)",
)
def q_event_sliding_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.window("ts", "1 hour", "30 minutes").alias("w"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events"
        )
    )


@register(
    "event_sessions",
    f"""
    WITH {EVENTS_MICRO_CTE},
    x AS (
        SELECT user_id, ts,
               CASE WHEN LAG(ts) OVER w IS NULL
                         OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS brk
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
    g AS (
        SELECT user_id, ts,
               SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                              ROWS UNBOUNDED PRECEDING) AS grp
        FROM x)
    SELECT user_id,
           MIN(ts) AS session_start,
           COUNT(*)::BIGINT AS n_events
    FROM g GROUP BY user_id, grp
    """,
    doc="gap-based sessionization via F.session_window (30 min inactivity "
    "gap); oracle = gaps-and-islands lag+cumsum — streaming-capable "
    "stateful shape run as its bounded twin",
)
def q_event_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            "n_events",
        )
    )


@register(
    "event_funnel",
    f"""
    WITH {EVENTS_MICRO_CTE},
    s1 AS (
        SELECT user_id, ts, event_type, event_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END)
                   OVER w AS first_view
        FROM ev
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)),
    s2 AS (
        SELECT user_id, ts, event_type, first_view,
               MIN(CASE WHEN event_type = 'click' AND first_view < ts
                        THEN ts END) OVER w AS first_click
        FROM s1
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS UNBOUNDED PRECEDING)),
    per_user AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS v,
               MIN(CASE WHEN event_type = 'click' AND first_view < ts
                        THEN ts END) AS c,
               MIN(CASE WHEN event_type = 'purchase' AND first_click < ts
                        THEN ts END) AS p
        FROM s2 GROUP BY user_id)
    SELECT COUNT(CASE WHEN v IS NOT NULL THEN 1 END)::BIGINT AS n_view,
           COUNT(CASE WHEN c IS NOT NULL THEN 1 END)::BIGINT AS n_view_click,
           COUNT(CASE WHEN p IS NOT NULL THEN 1 END)::BIGINT AS n_full_funnel
    FROM per_user
    """,
    doc="ordered conversion funnel (view → click → purchase, strictly "
    "increasing event time): stacked per-user running-min windows — "
    "first_view cummin, then first_click cummin gated on it — so the "
    "whole funnel is ONE user-keyed shuffle with the in-partition sort "
    "REUSED across both window ops and the final agg; no per-user event "
    "arrays collected, no self-joins per stage (the naive k-stage funnel "
    "is k-1 joins). Output one row of stage counts (events-OLAP "
    "extension)",
)
def q_event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    s1 = ev.select(
        "user_id",
        "ts",
        "event_type",
        "event_id",
        F.min(F.when(F.col("event_type") == "view", F.col("ts")))
        .over(w)
        .alias("first_view"),
    )
    s2 = s1.select(
        "user_id",
        "ts",
        "event_type",
        "first_view",
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("first_view") < F.col("ts")),
                F.col("ts"),
            )
        )
        .over(w)
        .alias("first_click"),
    )
    per_user = s2.groupBy("user_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("v"),
        F.min(
            F.when(
                (F.col("event_type") == "click")
                & (F.col("first_view") < F.col("ts")),
                F.col("ts"),
            )
        ).alias("c"),
        F.min(
            F.when(
                (F.col("event_type") == "purchase")
                & (F.col("first_click") < F.col("ts")),
                F.col("ts"),
            )
        ).alias("p"),
    )
    return per_user.agg(
        F.count(F.col("v")).alias("n_view"),
        F.count(F.col("c")).alias("n_view_click"),
        F.count(F.col("p")).alias("n_full_funnel"),
    )


@register(
    "event_props_rollup",
    f"""
    WITH {EVENTS_MICRO_CTE}
    SELECT event_type,
           COUNT(*)::BIGINT AS n_events,
           COUNT(CAST(json_extract(props, '$.k') AS INT))::BIGINT AS n_with_k,
           SUM(CAST(json_extract(props, '$.k') AS INT))::BIGINT AS sum_k,
           MIN(CAST(json_extract(props, '$.k') AS INT))::INT AS min_k,
           MAX(CAST(json_extract(props, '$.k') AS INT))::INT AS max_k,
           ROUND(AVG(CAST(json_extract(props, '$.k') AS INT)), 4) AS avg_k
    FROM ev GROUP BY event_type ORDER BY event_type
    """,
    doc="schema-on-read JSON properties column: ONE vectorized from_json "
    "parse per row against a declared schema (the scale-correct pattern — "
    "per-field get_json_object re-parses the document k times; at 100 TB "
    "the parse is the cost), then a plain partial-agg rollup. Malformed "
    "or missing keys surface as nulls (PERMISSIVE), counted separately "
    "(events-OLAP extension)",
)
def q_event_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    k = F.from_json(F.col("props"), "k INT")["k"]
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.count("k").alias("n_with_k"),
            F.sum("k").alias("sum_k"),
            F.min("k").cast("int").alias("min_k"),
            F.max("k").cast("int").alias("max_k"),
            F.round(F.avg("k"), 4).alias("avg_k"),
        )
        .orderBy("event_type")
    )


@register(
    "event_type_pivot",
    f"""
    WITH {EVENTS_MICRO_CTE}
    SELECT user_id,
           COUNT(CASE WHEN event_type = 'view' THEN 1 END)::BIGINT AS n_view,
           COUNT(CASE WHEN event_type = 'click' THEN 1 END)::BIGINT AS n_click,
           COUNT(CASE WHEN event_type = 'signup' THEN 1 END)::BIGINT AS n_signup,
           COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT
               AS n_purchase,
           COUNT(CASE WHEN event_type = 'error' THEN 1 END)::BIGINT AS n_error,
           ROUND(COALESCE(SUM(CASE WHEN event_type = 'purchase'
                                   THEN value END), 0), 4) AS purchase_value
    FROM ev GROUP BY user_id
    """,
    doc="wide per-user activity matrix via pivot with EXPLICIT pivot "
    "values — the scale-correct form: without the value list Spark runs "
    "an extra collect-distinct pass over the corpus just to discover "
    "column names (and an unbounded type domain would mint unbounded "
    "columns). One partial-agg shuffle; oracle = conditional-aggregation "
    "CASE sums, the relational identity of pivot (events-OLAP extension)",
)
def q_event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    types = ["view", "click", "signup", "purchase", "error"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("value").alias("v"),
        )
    )
    return wide.select(
        "user_id",
        *[
            F.coalesce(F.col(f"{t}_n"), F.lit(0)).alias(f"n_{t}")
            for t in types
        ],
        F.round(F.coalesce(F.col("purchase_v"), F.lit(0.0)), 4).alias(
            "purchase_value"
        ),
    )


@register(
    "event_counts_unpivot",
    f"""
    WITH {EVENTS_MICRO_CTE},
    wide AS (
        SELECT user_id,
               COUNT(CASE WHEN event_type = 'view' THEN 1 END)::BIGINT AS n_view,
               COUNT(CASE WHEN event_type = 'click' THEN 1 END)::BIGINT
                   AS n_click,
               COUNT(CASE WHEN event_type = 'purchase' THEN 1 END)::BIGINT
                   AS n_purchase
        FROM ev GROUP BY user_id)
    SELECT user_id, metric, n FROM wide
    UNPIVOT (n FOR metric IN (n_view, n_click, n_purchase))
    """,
    doc="unpivot/melt — the dual of the pivot row: wide per-user counts "
    "back to tidy long form via DataFrame.unpivot (one row per retained "
    "metric column; zero-count cells KEPT — unpivot emits every named "
    "column, unlike a long-form groupBy which never sees absent combos). "
    "Pure projection over the pivot agg: no extra shuffle beyond the "
    "groupBy (events-OLAP extension)",
)
def q_event_counts_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    types = ["view", "click", "purchase"]
    wide = (
        ev.groupBy("user_id")
        .pivot("event_type", types)
        .agg(F.count(F.lit(1)))
        .select(
            "user_id",
            *[
                F.coalesce(F.col(t), F.lit(0)).alias(f"n_{t}")
                for t in types
            ],
        )
    )
    return wide.unpivot(
        ids=["user_id"],
        values=[f"n_{t}" for t in types],
        variableColumnName="metric",
        valueColumnName="n",
    )


@register(
    "minor_version_assignment",
    f"""
    WITH {EVENTS_MICRO_CTE}
    SELECT event_id,
           (ROW_NUMBER() OVER
              (PARTITION BY user_id, event_type ORDER BY ts, event_id) - 1)::INT
           AS minor_version
    FROM ev
    """,
    doc="row_number-1 per (id, version) — minorVersion, FacetedEditHistogramTileCreator.scala:115-131 (W2)",
)
def q_minor_version_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    return ev.select(
        "event_id",
        (F.row_number().over(w) - 1).cast("int").alias("minor_version"),
    )


@register(
    "topk_per_group",
    """
    SELECT * FROM (
        SELECT n.n_name, c.c_custkey,
               RANK() OVER (PARTITION BY n.n_name
                            ORDER BY c.c_acctbal DESC, c.c_custkey)::INT AS rnk
        FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    ) WHERE rnk <= 3
    """,
    doc="RANK top-k per group — country_statistics.sql:33-41 (W3)",
)
def q_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    w = Window.partitionBy("n_name").orderBy(F.col("c_acctbal").desc(), "c_custkey")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select("n_name", "c_custkey", F.rank().over(w).cast("int").alias("rnk"))
        .where(F.col("rnk") <= 3)
    )


@register(
    "earliest_event_type",
    f"""
    WITH {EVENTS_MICRO_CTE}
    SELECT user_id, ARG_MIN(event_type, ts) AS first_type,
           ARG_MAX(event_type, ts) AS last_type
    FROM ev GROUP BY user_id
    """,
    doc="first(col, ignoreNulls) ordered-first semantics — ChangesetStatsCreator.scala:182-190 (A3)",
)
def q_earliest_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.min_by("event_type", "ts").alias("first_type"),
        F.max_by("event_type", "ts").alias("last_type"),
    )


@register(
    "distinct_user_types",
    """
    SELECT user_id, COUNT(DISTINCT event_type)::BIGINT AS n_types
    FROM events GROUP BY user_id
    """,
    doc="dedup / distinct — FootprintCreator.scala:103,145 (A8)",
)
def q_distinct_user_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("user_id", "event_type")
        .dropDuplicates()
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_types"))
    )


@register(
    "union_merge",
    """
    WITH u AS (
        SELECT event_id, event_type, value FROM events WHERE event_type = 'signup'
        UNION ALL
        SELECT event_id, event_type, value FROM events WHERE event_type = 'purchase'
        UNION ALL
        SELECT event_id, event_type, value FROM events WHERE value > 150
    )
    SELECT event_type, COUNT(*)::BIGINT AS n, ROUND(SUM(value), 2) AS value_sum
    FROM (SELECT DISTINCT event_id, event_type, value FROM u)
    GROUP BY event_type
    """,
    doc="union + dedup-by-id merge — MergeChangesets.scala:99-115 (§2.7)",
)
def q_union_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events").select("event_id", "event_type", "value")
    u = (
        ev.where(F.col("event_type") == "signup")
        .unionByName(ev.where(F.col("event_type") == "purchase"))
        .unionByName(ev.where(F.col("value") > 150))
        .dropDuplicates()
    )
    return u.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )


@register(
    "semi_join_active",
    """
    SELECT c.c_mktsegment, COUNT(*)::BIGINT AS n_customers
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
    doc="left-semi join (history ⋈ target users) — FootprintCreator.scala:96-109 (J1)",
)
def q_semi_join_active(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "anti_join_inactive",
    """
    SELECT c.c_mktsegment, COUNT(*)::BIGINT AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
    doc="anti join — negated isin filter family, FootprintCreator.scala:82 (P3)",
)
def q_anti_join_inactive(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count(F.lit(1)).alias("n_customers"))
    )


@register(
    "explode_membership_join",
    """
    SELECT p.p_brand, COUNT(*)::BIGINT AS n_refs,
           ROUND(SUM(p.p_retailprice), 2) AS retail_sum
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    doc="nds explode → inverted-index join — FacetedEditHistogramTileCreator.scala:68-77 (J5); Spark side builds the array then explodes",
)
def q_explode_membership_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    # build way-like rows (order → array of part refs), then explode back and
    # join the "node" side — the J5 shape on synthetic data
    ways = li.groupBy("l_orderkey").agg(
        F.collect_list("l_partkey").alias("refs")
    )
    exploded = ways.select(
        F.col("l_orderkey"), F.explode("refs").alias("ref")
    )
    return (
        exploded.join(p, exploded.ref == p.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("n_refs"),
            F.round(F.sum("p_retailprice"), 2).alias("retail_sum"),
        )
    )


@register(
    "day_key_histogram",
    f"""
    WITH {EVENTS_MICRO_CTE}
    SELECT (year(ts) * 1000 + dayofyear(ts))::INT AS day_key,
           COUNT(*)::BIGINT AS n,
           ROUND(SUM(value), 2) AS value_sum
    FROM ev GROUP BY day_key
    """,
    doc="edit-histogram day key — EditHistogramTileCreator.scala:59 (§2.8 date)",
)
def q_day_key_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy(day_key("ts").alias("day_key")).agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("value"), 2).alias("value_sum"),
    )


@register(
    "sequence_rollup",
    f"""
    WITH {EVENTS_MICRO_CTE}
    SELECT (((FLOOR(epoch(ts))::BIGINT - 1347432900) // 60) // 1440)::INT AS seq_day,
           COUNT(*)::BIGINT AS n
    FROM ev GROUP BY seq_day
    """,
    doc="replication sequence ↔ timestamp arithmetic — monitor-checkpoints.sh:19-20 (T1)",
)
def q_sequence_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    seq = timestamp_to_sequence("ts")
    return ev.groupBy(
        (seq / 1440).cast("int").alias("seq_day")
    ).agg(F.count(F.lit(1)).alias("n"))


# ===========================================================================
# Changeset-stats parity pipeline on synthetic tags (P5/P6 + A1 + map HOFs)
# ===========================================================================

# events → OSM-ish edits: deterministic synthetic tags per event_type,
# version/minorVersion/visible derived from event_id/value. The Spark side
# uses the real engine predicates (functions/tags.py); the oracle mirrors the
# *semantics* in plain CASE SQL.
_SYN_SQL_TAGS = """
        CASE event_type
            WHEN 'signup'   THEN 'building'
            WHEN 'click'    THEN 'highway'
            WHEN 'purchase' THEN 'waterway'
            WHEN 'view'     THEN 'natural'
            ELSE                 'railway'
        END AS tag_key,
        CASE event_type
            WHEN 'signup'   THEN 'yes'
            WHEN 'click'    THEN 'residential'
            WHEN 'purchase' THEN 'river'
            WHEN 'view'     THEN 'coastline'
            ELSE                 'station;yard'
        END AS tag_val,
        (event_id % 3 + 1)::INT AS version,
        (event_id % 2)::INT     AS minor_version,
        (value > 10)            AS visible
"""


def _synthetic_edits(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    tag_key = (
        F.when(F.col("event_type") == "signup", "building")
        .when(F.col("event_type") == "click", "highway")
        .when(F.col("event_type") == "purchase", "waterway")
        .when(F.col("event_type") == "view", "natural")
        .otherwise("railway")
    )
    tag_val = (
        F.when(F.col("event_type") == "signup", "yes")
        .when(F.col("event_type") == "click", "residential")
        .when(F.col("event_type") == "purchase", "river")
        .when(F.col("event_type") == "view", "coastline")
        .otherwise("station;yard")
    )
    return ev.select(
        "event_id",
        "user_id",
        "value",
        F.create_map(tag_key, tag_val).alias("tags"),
        (F.col("event_id") % 3 + 1).cast("int").alias("version"),
        (F.col("event_id") % 2).cast("int").alias("minor_version"),
        (F.col("value") > 10).alias("visible"),
    )


@register(
    "changeset_stats",
    f"""
    WITH edits AS (SELECT user_id, {_SYN_SQL_TAGS} FROM events),
    classified AS (
        SELECT user_id,
               (tag_key = 'building' AND tag_val <> 'no')  AS is_building,
               (tag_key = 'highway')                        AS is_road,
               (tag_key = 'waterway' AND tag_val IN
                  ('river','riverbank','canal','stream','stream_end','brook',
                   'drain','ditch','dam','weir','waterfall','pressurised')) AS is_waterway,
               (tag_key = 'natural' AND tag_val = 'coastline') AS is_coastline,
               (tag_key = 'railway' AND
                (list_contains(string_split(tag_val, ';'), 'station')
                 OR list_contains(string_split(tag_val, ';'), 'yard'))) AS is_rail_feature,
               (version = 1 AND minor_version = 0) AS is_new,
               visible
        FROM edits)
    SELECT user_id,
        SUM(CASE WHEN is_building AND is_new THEN 1 ELSE 0 END)::BIGINT  AS buildings_added,
        SUM(CASE WHEN is_building AND NOT is_new AND visible THEN 1 ELSE 0 END)::BIGINT AS buildings_modified,
        SUM(CASE WHEN is_building AND NOT visible THEN 1 ELSE 0 END)::BIGINT AS buildings_deleted,
        SUM(CASE WHEN is_road AND is_new THEN 1 ELSE 0 END)::BIGINT      AS roads_added,
        SUM(CASE WHEN is_road AND NOT is_new AND visible THEN 1 ELSE 0 END)::BIGINT AS roads_modified,
        SUM(CASE WHEN is_road AND NOT visible THEN 1 ELSE 0 END)::BIGINT AS roads_deleted,
        SUM(CASE WHEN is_waterway AND is_new THEN 1 ELSE 0 END)::BIGINT  AS waterways_added,
        SUM(CASE WHEN is_coastline AND is_new THEN 1 ELSE 0 END)::BIGINT AS coastlines_added,
        SUM(CASE WHEN is_rail_feature AND is_new THEN 1 ELSE 0 END)::BIGINT AS railway_features_added,
        COUNT(*)::BIGINT AS total_edits
    FROM classified GROUP BY user_id
    """,
    doc="flagship: tag predicates (P5/P6) + DefaultCounts map build + map-sum rollup (A1) — "
    "stats/package.scala:119-179, ChangesetStatsCreator.scala:125-142",
)
def q_changeset_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    edits = _synthetic_edits(spark, sf_dir)
    is_new = tg.is_new("version", "minor_version")
    not_new_visible = ~is_new & F.col("visible")
    deleted = ~F.col("visible")
    counts = F.create_map(
        F.lit("buildings_added"), (tg.is_building("tags") & is_new).cast("int"),
        F.lit("buildings_modified"), (tg.is_building("tags") & not_new_visible).cast("int"),
        F.lit("buildings_deleted"), (tg.is_building("tags") & deleted).cast("int"),
        F.lit("roads_added"), (tg.is_road("tags") & is_new).cast("int"),
        F.lit("roads_modified"), (tg.is_road("tags") & not_new_visible).cast("int"),
        F.lit("roads_deleted"), (tg.is_road("tags") & deleted).cast("int"),
        F.lit("waterways_added"), (tg.is_waterway("tags") & is_new).cast("int"),
        F.lit("coastlines_added"), (tg.is_coastline("tags") & is_new).cast("int"),
        F.lit("railway_features_added"), (tg.is_rail_feature("tags") & is_new).cast("int"),
        F.lit("total_edits"), F.lit(1),
    )
    values = {"n": ("bigint", "sum")}
    rolled = map_sum_agg(
        edits.select("user_id", counts.alias("counts")),
        ["user_id"],
        f"transform(map_entries(counts), x -> {map_entry(values, 'c', 'x.key', n='x.value')})",
        values,
        {"counts": ("c", "n")},
    )
    key_order = [
        "buildings_added",
        "buildings_modified",
        "buildings_deleted",
        "roads_added",
        "roads_modified",
        "roads_deleted",
        "waterways_added",
        "coastlines_added",
        "railway_features_added",
        "total_edits",
    ]
    return rolled.select(
        "user_id",
        *[
            F.coalesce(F.element_at("counts", k), F.lit(0)).alias(k)
            for k in key_order
        ],
    )


@register(
    "user_statistics",
    f"""
    WITH {EVENTS_MICRO_CTE}
    SELECT user_id,
           COUNT(*)::BIGINT                          AS total_events,
           COUNT(DISTINCT (year(ts)*1000 + dayofyear(ts)))::BIGINT AS active_days,
           FLOOR(epoch(MIN(ts)))::BIGINT             AS first_seen,
           FLOOR(epoch(MAX(ts)))::BIGINT             AS last_seen,
           ROUND(SUM(value), 2)                      AS value_sum,
           SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
           SUM(CASE WHEN event_type = 'error'    THEN 1 ELSE 0 END)::BIGINT AS n_error
    FROM ev GROUP BY user_id
    """,
    doc="user_statistics materialized view analog — deployment/sql/materialized_views/user_statistics.sql (A15)",
)
def q_user_statistics(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("total_events"),
        F.countDistinct(day_key("ts")).alias("active_days"),
        F.unix_timestamp(F.min("ts")).alias("first_seen"),
        F.unix_timestamp(F.max("ts")).alias("last_seen"),
        F.round(F.sum("value"), 2).alias("value_sum"),
        F.sum((F.col("event_type") == "purchase").cast("int"))
        .cast("bigint")
        .alias("n_purchase"),
        F.sum((F.col("event_type") == "error").cast("int"))
        .cast("bigint")
        .alias("n_error"),
    )


# ===========================================================================
# Geo math analogs (W1 + Haversine; G1/G2 tile math) on synthesized coords
# ===========================================================================

_SYN_COORD_SQL = """
        (value - 100.0)                          AS lon,
        ((user_id * 7) % 140) - 70.0             AS lat
"""


def _synthetic_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    return ev.select(
        "event_id",
        "user_id",
        "ts",
        (F.col("value") - 100.0).alias("lon"),
        ((F.col("user_id") * 7) % 140 - 70.0).cast("double").alias("lat"),
    )


@register(
    "haversine_user_path",
    f"""
    WITH {EVENTS_MICRO_CTE},
    pts AS (SELECT event_id, user_id, ts, {_SYN_COORD_SQL} FROM ev),
    hops AS (
        SELECT user_id, lon, lat,
               LAG(lon) OVER w AS plon, LAG(lat) OVER w AS plat
        FROM pts WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    )
    SELECT user_id,
           ROUND(SUM(
             2.0 * 6378137.0 * ASIN(LEAST(1.0, SQRT(
                SIN(RADIANS(lat - plat)/2)*SIN(RADIANS(lat - plat)/2)
                + COS(RADIANS(plat))*COS(RADIANS(lat))
                  *SIN(RADIANS(lon - plon)/2)*SIN(RADIANS(lon - plon)/2)
             ))) / 1000.0
           ), 1) AS km_travelled,
           COUNT(*)::BIGINT AS n_hops
    FROM hops WHERE plon IS NOT NULL
    GROUP BY user_id
    """,
    doc="Haversine spherical length (st_lengthSphere parity, MetresBench.scala:25-65) + lag window (W1)",
)
def q_haversine_user_path(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _synthetic_coords(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    hops = pts.select(
        "user_id",
        "lon",
        "lat",
        F.lag("lon").over(w).alias("plon"),
        F.lag("lat").over(w).alias("plat"),
    ).where(F.col("plon").isNotNull())
    dist = geo.haversine_m(
        F.col("plon"), F.col("plat"), F.col("lon"), F.col("lat")
    )
    return hops.groupBy("user_id").agg(
        F.round(F.sum(dist / 1000.0), 1).alias("km_travelled"),
        F.count(F.lit(1)).alias("n_hops"),
    )


@register(
    "tile_histogram",
    f"""
    WITH pts AS (SELECT event_id, {_SYN_COORD_SQL} FROM events),
    keyed AS (
        SELECT LEAST(GREATEST(FLOOR((lon + 180.0) / 360.0 * 256.0), 0), 255)::INT AS tx,
               LEAST(GREATEST(FLOOR(
                 (1.0 - LN(TAN(RADIANS(LEAST(GREATEST(lat, -85.05112877980659),
                                             85.05112877980659)))
                           + 1.0/COS(RADIANS(LEAST(GREATEST(lat, -85.05112877980659),
                                                   85.05112877980659))))
                        / PI()) / 2.0 * 256.0), 0), 255)::INT AS ty
        FROM pts)
    SELECT tx, ty, COUNT(*)::BIGINT AS density
    FROM keyed GROUP BY tx, ty
    """,
    doc="vector-grid point→SpatialKey web-mercator math + rasterize-by-count — Implicits.scala:57-140,351-408 (G1/G2)",
)
def q_tile_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    pts = _synthetic_coords(spark, sf_dir)
    return (
        pts.select(
            geo.tile_x(F.col("lon"), 8).alias("tx"),
            geo.tile_y(F.col("lat"), 8).alias("ty"),
        )
        .groupBy("tx", "ty")
        .agg(F.count(F.lit(1)).alias("density"))
    )


# ===========================================================================
# LLM-data-pipeline operators (documents / embeddings)
# ===========================================================================

@register(
    "doc_token_stats",
    """
    SELECT lang,
           COUNT(*)::BIGINT AS n_docs,
           SUM(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT AS total_tokens,
           ROUND(AVG(n_chars), 2) AS avg_chars
    FROM documents GROUP BY lang
    """,
    doc="token counting over documents (text-analysis extension)",
)
def q_doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(token_count("text")).cast("bigint").alias("total_tokens"),
        F.round(F.avg("n_chars"), 2).alias("avg_chars"),
    )


@register(
    "doc_bpe_tokens",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               list_filter(
                 regexp_extract_all(COALESCE(text, ''),
                   '(''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+)', 1),
                 t -> trim(t) <> '') AS toks
        FROM documents)
    SELECT lang,
           COUNT(*)::BIGINT AS n_docs,
           SUM(len(toks))::BIGINT AS total_bpe_tokens,
           ROUND(AVG(len(toks)), 2) AS avg_bpe_tokens
    FROM toks GROUP BY lang
    """,
    doc="BPE-ish pretoken counting (GPT-2 pattern family, RE2-compatible so "
    "the oracle runs the identical regex) — text-analysis extension",
)
def q_doc_bpe_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.functions.text import bpe_token_count

    d = _t(spark, sf_dir, "documents")
    n = bpe_token_count("text")
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n).cast("bigint").alias("total_bpe_tokens"),
        F.round(F.avg(n), 2).alias("avg_bpe_tokens"),
    )


def _bpe_train_sql(n_merges: int = 8, emit: str = "merges") -> str:
    """Generated oracle for doc_bpe_train: unrolls every merge round as a
    CTE chain — pair counts from the vocab, argmax with (cnt DESC, a, b)
    tie-break, then the greedy left-to-right merge replayed via a
    list_reduce over a chr(31)-separator string encoding of the symbol
    list (acc ends with sep||a ⇔ last symbol is EXACTLY a, so appending b
    splices the merged symbol in place) — fold-for-fold against
    textops.bpe_train_merges' array aggregate."""
    rounds = []
    prev = "vocab0"
    for r in range(n_merges):
        rounds.append(f"""
    pairs{r} AS (
        SELECT syms[i] AS a, syms[i+1] AS b, SUM(cnt)::BIGINT AS c
        FROM {prev}, UNNEST(range(1, len(syms))) AS t(i)
        GROUP BY a, b),
    best{r} AS (SELECT a, b, c FROM pairs{r} ORDER BY c DESC, a, b LIMIT 1),
    vocab{r + 1} AS (
        SELECT cnt,
               string_split(
                 list_reduce(syms, (acc, x) -> CASE
                   WHEN (acc = bb.a OR ends_with(acc, chr(31) || bb.a))
                        AND x = bb.b
                   THEN acc || bb.b
                   ELSE acc || chr(31) || x END),
                 chr(31)) AS syms
        FROM {prev}, best{r} bb)""")
        prev = f"vocab{r + 1}"
    union = " UNION ALL ".join(
        f"SELECT {r} AS merge_rank, a AS lhs, b AS rhs, c AS pair_count "
        f"FROM best{r}"
        for r in range(n_merges)
    )
    prefix = f"""
    WITH toks AS (
        SELECT unnest(regexp_extract_all(lower(text), '([a-z0-9]+)', 1)) AS w
        FROM documents),
    vocab0 AS (
        SELECT count(*)::BIGINT AS cnt,
               list_transform(range(1, len(w) + 1), i -> w[i]) AS syms
        FROM toks GROUP BY w),{','.join(rounds)}"""
    if emit == "segment":
        # tokenize every DOC with the trained merge table: per word, the
        # same list_reduce fold applies each learned merge in rank order
        wstages = []
        prev = "w0"
        for r in range(n_merges):
            wstages.append(f"""
    w{r + 1} AS (
        SELECT doc_id, lang,
               string_split(
                 list_reduce(syms, (acc, x) -> CASE
                   WHEN (acc = bb.a OR ends_with(acc, chr(31) || bb.a))
                        AND x = bb.b
                   THEN acc || bb.b
                   ELSE acc || chr(31) || x END),
                 chr(31)) AS syms
        FROM {prev}, best{r} bb)""")
            prev = f"w{r + 1}"
        return f"""{prefix},
    dwords AS (
        SELECT doc_id, lang,
               unnest(regexp_extract_all(lower(text), '([a-z0-9]+)', 1)) AS w
        FROM documents),
    w0 AS (SELECT doc_id, lang,
                  list_transform(range(1, len(w) + 1), i -> w[i]) AS syms
           FROM dwords),{','.join(wstages)},
    doccnt AS (SELECT doc_id, SUM(len(syms))::BIGINT AS n
               FROM {prev} GROUP BY doc_id)
    SELECT d.lang,
           COUNT(*)::BIGINT AS n_docs,
           SUM(COALESCE(c.n, 0))::BIGINT AS total_trained_tokens,
           ROUND(AVG(COALESCE(c.n, 0)), 2) AS avg_trained_tokens
    FROM documents d LEFT JOIN doccnt c USING (doc_id)
    GROUP BY d.lang
    """
    return f"""{prefix}
    SELECT merge_rank::INT AS merge_rank, lhs, rhs, pair_count
    FROM ({union}) ORDER BY merge_rank
    """


@register(
    "doc_bpe_train",
    _bpe_train_sql(),
    doc="distributed BPE tokenizer TRAINING (Sennrich 2016): one corpus "
    "pass collapses the text to its word-count vocabulary, then each of 8 "
    "merge rounds is a row-local pair transform + partial-agg argmax (one "
    "driver row) + row-local greedy merge fold on the vocab frame only — "
    "the fastBPE iteration shape at 100 TB; oracle unrolls all rounds as "
    "CTEs with the merge fold replayed via list_reduce "
    "(training-data extension)",
)
def q_doc_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return textops.bpe_train_merges(d, n_merges=8)


@register(
    "doc_bpe_segment",
    _bpe_train_sql(emit="segment"),
    doc="the trained tokenizer APPLIED: per-lang token statistics of the "
    "corpus segmented with the 8-merge table doc_bpe_train learns — each "
    "word re-folds through the learned merges in rank order (the exact "
    "BPE inference rule), as a pure Column projection with the merge "
    "table as literals; oracle replays training AND application "
    "(training-data extension)",
)
def q_doc_bpe_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    merges = [
        (r["lhs"], r["rhs"])
        for r in textops.bpe_train_merges(d, n_merges=8)
        .orderBy("merge_rank")
        .collect()
    ]
    n = textops.bpe_token_count_trained("text", merges)
    return d.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(n).cast("bigint").alias("total_trained_tokens"),
        F.round(F.avg(n), 2).alias("avg_trained_tokens"),
    )


@register(
    "doc_quality",
    """
    WITH f AS (
        SELECT doc_id,
               length(text) AS n_chars_c,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               len(regexp_extract_all(lower(text),
                   '\\b(the|and|of|to|in|a|is|for)\\b', 1)) AS stop_hits
        FROM documents)
    SELECT doc_id,
           ROUND(
             (alpha / GREATEST(n_chars_c, 1)) * 0.5
             + (CASE WHEN n_chars_c / GREATEST(n_tokens, 1) BETWEEN 3 AND 12
                     THEN 1.0 ELSE 0.0 END) * 0.25
             + LEAST((stop_hits / GREATEST(n_tokens, 1)) * 5.0, 1.0) * 0.25,
           4) AS quality
    FROM f
    """,
    doc="heuristic quality scoring (text-analysis extension)",
)
def q_doc_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", quality_score("text").alias("quality"))


@register(
    "doc_gopher_rules",
    """
    WITH f AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\\s+') AS words,
               regexp_split_to_array(text, '\\n') AS lines,
               length(text)
                 - length(replace(text, '#', ''))
                 + (length(text) - length(replace(text, '...', ''))) / 3
                 + length(text) - length(replace(text, '…', '')) AS n_sym,
               len(list_distinct(regexp_extract_all(lower(text),
                   '\\b(the|be|to|of|and|that|have|with)\\b', 1)))
                 AS n_stopwords
        FROM documents),
    g AS (
        SELECT doc_id,
               len(words) AS n_words,
               GREATEST(len(words), 1) AS nw,
               GREATEST(len(lines), 1) AS nl,
               list_sum(list_transform(words, w -> length(w))) AS sum_wl,
               list_sum(list_transform(words, w ->
                   CASE WHEN regexp_matches(w, '[A-Za-z]')
                        THEN 1 ELSE 0 END)) AS n_alpha_words,
               list_sum(list_transform(lines, l ->
                   CASE WHEN substr(ltrim(l), 1, 1) IN ('-', '*', '•')
                        THEN 1 ELSE 0 END)) AS n_bullet,
               list_sum(list_transform(lines, l ->
                   CASE WHEN rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'
                        THEN 1 ELSE 0 END)) AS n_ell_lines,
               n_sym, n_stopwords
        FROM f)
    SELECT doc_id,
           n_words::INT AS n_words,
           ROUND(sum_wl / nw, 4) AS mean_word_len,
           ROUND(n_sym / nw, 4) AS symbol_frac,
           ROUND(n_bullet / nl, 4) AS bullet_frac,
           ROUND(n_ell_lines / nl, 4) AS ellipsis_frac,
           ROUND(n_alpha_words / nw, 4) AS alpha_words_frac,
           n_stopwords::INT AS n_stopwords,
           (n_words BETWEEN 50 AND 100000) AS r_word_count,
           (sum_wl / nw BETWEEN 3.0 AND 10.0) AS r_word_len,
           (n_sym / nw <= 0.1) AS r_symbols,
           (n_bullet / nl <= 0.9) AS r_bullets,
           (n_ell_lines / nl <= 0.3) AS r_ellipsis,
           (n_alpha_words / nw >= 0.8) AS r_alpha_words,
           (n_stopwords >= 2) AS r_stopwords,
           ((n_words BETWEEN 50 AND 100000)
            AND (sum_wl / nw BETWEEN 3.0 AND 10.0)
            AND (n_sym / nw <= 0.1)
            AND (n_bullet / nl <= 0.9)
            AND (n_ell_lines / nl <= 0.3)
            AND (n_alpha_words / nw >= 0.8)
            AND (n_stopwords >= 2)) AS keep
    FROM g
    """,
    doc="Gopher document-quality rule bundle (Rae et al. '21 table A1 — "
    "the MassiveWeb filter set most pretraining pipelines reuse): word "
    "count / mean word length / symbol ratio / bullet + ellipsis line "
    "fractions / alpha-word fraction / distinct-stopword floor, every "
    "signal emitted beside its rule verdict + the overall keep. Pure "
    "split/length/regex Column algebra in whole-stage codegen; one "
    "projection, no shuffle — the 100 TB shape is a map-only pass "
    "(text-analysis extension)",
)
def q_doc_gopher_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.functions.text import gopher_quality_flags

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", gopher_quality_flags("text").alias("g")).select(
        "doc_id", "g.*"
    )


@register(
    "source_doc_cap",
    f"""
    WITH f AS (
        SELECT doc_id, source,
               length(text) AS n_chars_c,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               len(regexp_extract_all(lower(text),
                   '\\b(the|and|of|to|in|a|is|for)\\b', 1)) AS stop_hits
        FROM documents),
    q AS (
        SELECT doc_id, source,
               ROUND(
                 (alpha / GREATEST(n_chars_c, 1)) * 0.5
                 + (CASE WHEN n_chars_c / GREATEST(n_tokens, 1)
                              BETWEEN 3 AND 12
                         THEN 1.0 ELSE 0.0 END) * 0.25
                 + LEAST((stop_hits / GREATEST(n_tokens, 1)) * 5.0, 1.0)
                   * 0.25,
               4) AS quality
        FROM f),
    r AS (
        SELECT doc_id, source, quality,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id) AS rk
        FROM q)
    SELECT doc_id, source, quality, rk::INT AS source_rank,
           (rk <= 40) AS kept
    FROM r
    """,
    doc="per-domain document cap (the Gopher/FineWeb 'domain cap' "
    "anti-spam rule: no source may dominate the corpus): rank every doc "
    "within its source by quality (4dp, ties to lowest id) and keep the "
    "top K=40. One rank window partitioned by source — the shuffle is "
    "keyed by the same column every per-domain stage uses, and state per "
    "group is O(1) (streaming rank), so a hot domain costs sort time, "
    "never memory (curation extension)",
)
def q_source_doc_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    d = _t(spark, sf_dir, "documents")
    q = d.select("doc_id", "source", quality_score("text").alias("quality"))
    w = Window.partitionBy("source").orderBy(
        F.col("quality").desc(), F.col("doc_id")
    )
    return q.select(
        "doc_id",
        "source",
        "quality",
        F.row_number().over(w).cast("int").alias("source_rank"),
        (F.row_number().over(w) <= 40).alias("kept"),
    )


@register(
    "source_doc_cap_topk",
    f"""
    WITH f AS (
        SELECT doc_id, source,
               length(text) AS n_chars_c,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               len(regexp_extract_all(lower(text),
                   '\\b(the|and|of|to|in|a|is|for)\\b', 1)) AS stop_hits
        FROM documents),
    q AS (
        SELECT doc_id, source,
               ROUND(
                 (alpha / GREATEST(n_chars_c, 1)) * 0.5
                 + (CASE WHEN n_chars_c / GREATEST(n_tokens, 1)
                              BETWEEN 3 AND 12
                         THEN 1.0 ELSE 0.0 END) * 0.25
                 + LEAST((stop_hits / GREATEST(n_tokens, 1)) * 5.0, 1.0)
                   * 0.25,
               4) AS quality
        FROM f),
    r AS (
        SELECT doc_id, source, quality,
               ROW_NUMBER() OVER (PARTITION BY source
                                  ORDER BY quality DESC, doc_id) AS rk
        FROM q)
    SELECT doc_id, source, quality, rk::INT AS rank
    FROM r
    WHERE rk <= 40
    ORDER BY source, rank
    """,
    doc="per-domain document cap, KEPT ROWS ONLY, in the skew-safe "
    "two-phase shape (`curation.group_topk_salted`): local top-K per "
    "(source, hash-salt) bucket — every bucket holds ~1/8 of even the "
    "hottest domain — then exact top-K over the ≤ K·8 survivors per "
    "source. Unlike `source_doc_cap` (which ranks EVERY doc and so "
    "inherently sorts whole domains), the cap output only needs the "
    "winners, and this shape bounds every window partition regardless "
    "of domain skew — the plan that survives a single dominant domain "
    "at 100 TB. Total order (quality desc, doc_id) makes ranks "
    "deterministic; oracle is the plain windowed top-K (curation "
    "extension)",
)
def q_source_doc_cap_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.curation import group_topk_salted

    d = _t(spark, sf_dir, "documents")
    q = d.select("doc_id", "source", quality_score("text").alias("quality"))
    return group_topk_salted(
        q, 40, "source", [F.col("quality").desc(), F.col("doc_id")]
    ).orderBy("source", "rank")


@register(
    "doc_quality_bins",
    """
    WITH f AS (
        SELECT doc_id, source,
               length(text) AS n_chars_c,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               len(regexp_extract_all(lower(text),
                   '\\b(the|and|of|to|in|a|is|for)\\b', 1)) AS stop_hits
        FROM documents),
    q AS (
        SELECT doc_id, source,
               ROUND(
                 (alpha / GREATEST(n_chars_c, 1)) * 0.5
                 + (CASE WHEN n_chars_c / GREATEST(n_tokens, 1)
                              BETWEEN 3 AND 12
                         THEN 1.0 ELSE 0.0 END) * 0.25
                 + LEAST((stop_hits / GREATEST(n_tokens, 1)) * 5.0, 1.0)
                   * 0.25,
               4) AS quality
        FROM f),
    th AS (
        SELECT source,
               ROUND(quantile_cont(quality, 0.25), 9) AS q1,
               ROUND(quantile_cont(quality, 0.50), 9) AS q2,
               ROUND(quantile_cont(quality, 0.75), 9) AS q3
        FROM q GROUP BY source)
    SELECT q.doc_id, q.source, q.quality,
           (CASE WHEN q.quality <= th.q1 THEN 0
                 WHEN q.quality <= th.q2 THEN 1
                 WHEN q.quality <= th.q3 THEN 2
                 ELSE 3 END)::INT AS quality_bin
    FROM q JOIN th USING (source)
    ORDER BY q.doc_id
    """,
    doc="per-source quality-quartile binning — the stratification primitive "
    "under quality-filtered / curriculum sampling: exact per-source "
    "quartiles (tiny aggregate) broadcast back onto the docs, bin via "
    "CASE. No window over the corpus — the thresholds table is "
    "sources×3 doubles regardless of corpus size; binning is a broadcast "
    "join + codegen CASE (training-data extension). Bins compare the "
    "4dp-rounded quality both sides, and the thresholds themselves are "
    "9dp-rounded in both engines, so interpolated quantiles landing on the "
    "quality grid can't flip a bin on 1-ULP cross-engine noise",
)
def q_doc_quality_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    q = d.select("doc_id", "source", quality_score("text").alias("quality"))
    # thresholds rounded to 9dp on BOTH engines: interpolated quantiles can
    # land exactly on the 4dp quality grid, where a 1-ULP cross-engine
    # difference in the interpolation would flip a doc's bin; at 9dp the
    # ULP noise rounds away while distinct grid-adjacent thresholds stay
    # distinct.
    th = q.groupBy("source").agg(
        F.round(F.percentile("quality", F.lit(0.25)), 9).alias("q1"),
        F.round(F.percentile("quality", F.lit(0.50)), 9).alias("q2"),
        F.round(F.percentile("quality", F.lit(0.75)), 9).alias("q3"),
    )
    binned = (
        F.when(F.col("quality") <= F.col("q1"), 0)
        .when(F.col("quality") <= F.col("q2"), 1)
        .when(F.col("quality") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        q.join(F.broadcast(th), "source")
        .select(
            "doc_id",
            "source",
            "quality",
            binned.cast("int").alias("quality_bin"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_tfidf_top_terms",
    """
    WITH w AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text), '([a-z0-9]+)', 1)) AS word
        FROM documents),
    tf AS (SELECT doc_id, word, COUNT(*) AS tf FROM w GROUP BY doc_id, word),
    df AS (SELECT word, COUNT(*) AS df FROM tf GROUP BY word),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT tf.doc_id, tf.word,
               ROUND(tf.tf * ln(n.n_docs / df.df::DOUBLE), 4) AS tfidf
        FROM tf JOIN df USING (word) CROSS JOIN n),
    ranked AS (
        SELECT doc_id, word, tfidf,
               ROW_NUMBER() OVER (PARTITION BY doc_id
                                  ORDER BY tfidf DESC, word)::INT AS rank
        FROM scored)
    SELECT doc_id, word, tfidf, rank FROM ranked WHERE rank <= 3
    """,
    doc="TF-IDF top-3 terms per document: tf groupBy + broadcast df join + "
    "windowed top-k; ranking on the 4dp-rounded score so cross-engine "
    "float ties resolve identically (text-analysis extension)",
)
def q_doc_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.functions.text import word_tokens

    d = _t(spark, sf_dir, "documents")
    n_docs = d.count()  # driver-side scalar, broadcast into the plan
    words = d.select(
        "doc_id", F.explode(word_tokens("text")).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(F.count(F.lit(1)).alias("tf"))
    dfreq = tf.groupBy("word").agg(F.count(F.lit(1)).alias("df"))
    # no broadcast hint: dfreq is vocabulary-sized (unbounded at corpus
    # scale) — let the optimizer broadcast only when it actually fits
    scored = tf.join(dfreq, "word").select(
        "doc_id",
        "word",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 4
        ).alias("tfidf"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.col("tfidf").desc(), "word")
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "word", "tfidf", "rank")
    )


@register(
    "doc_repetition_stats",
    """
    WITH w AS (
        SELECT doc_id, unnest(regexp_split_to_array(lower(text), '\\s+')) AS word
        FROM documents),
    wc AS (
        SELECT doc_id, word, COUNT(*) AS c
        FROM w WHERE word <> '' GROUP BY doc_id, word)
    SELECT doc_id,
           SUM(c)::BIGINT AS n_words,
           ROUND(MAX(c) / SUM(c)::DOUBLE, 4) AS top_word_share,
           ROUND(SUM(CASE WHEN c > 1 THEN c ELSE 0 END) / SUM(c)::DOUBLE, 4)
               AS dup_word_share
    FROM wc GROUP BY doc_id
    """,
    doc="Gopher-style repetition signals: most-frequent-word share + repeated-"
    "word share per doc (text-analysis / curation extension)",
)
def q_doc_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return textops.repetition_stats(d)


@register(
    "lang_id",
    """
    WITH toks AS (
        SELECT doc_id, lang,
               regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS t
        FROM documents),
    scored AS (
        SELECT doc_id, lang,
            len(list_filter(t, x -> x IN ('the','and','of','is')))  AS s_en,
            len(list_filter(t, x -> x IN ('el','la','los','que')))  AS s_es,
            len(list_filter(t, x -> x IN ('le','les','des','est'))) AS s_fr,
            len(list_filter(t, x -> x IN ('der','die','und','ist'))) AS s_de
        FROM toks)
    SELECT doc_id,
           CASE
             WHEN s_de > s_fr AND s_de > s_es AND s_de > s_en AND s_de > 0 THEN 'de'
             WHEN s_fr > s_es AND s_fr > s_en AND s_fr > 0 THEN 'fr'
             WHEN s_es > s_en AND s_es > 0 THEN 'es'
             WHEN s_en > 0 THEN 'en'
             ELSE 'und'
           END AS lang_guess,
           lang AS labeled_lang
    FROM scored
    """,
    doc="n-gram/stopword language ID heuristic (text-analysis extension)",
)
def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        textops.lang_guess("text").alias("lang_guess"),
        F.col("lang").alias("labeled_lang"),
    )


@register(
    "exact_dedup_docs",
    """
    SELECT md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g')) AS fingerprint,
           MIN(doc_id)::BIGINT AS keep_id,
           COUNT(*)::BIGINT    AS dup_count
    FROM documents GROUP BY fingerprint
    """,
    doc="exact dedup by normalized-content fingerprint (dedup extension, hash-groupBy)",
)
def q_exact_dedup_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dd.exact_dedup(d)


@register(
    "dataset_split",
    """
    SELECT doc_id,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT doc_id,
                 ('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 15))::BIGINT
                   % 10000 AS b
          FROM documents)
    """,
    doc="deterministic train/val/test assignment by hashed-id bucket "
    "(curation extension): pure projection, stable under corpus growth",
)
def q_dataset_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return cur.dataset_split(d).select("doc_id", "split")


@register(
    "stratified_sample",
    """
    SELECT doc_id, lang FROM (
        SELECT doc_id, lang,
               ('0x' || substr(md5('11:' || doc_id::VARCHAR), 1, 15))::BIGINT
                 % 10000 AS b
        FROM documents)
    WHERE (lang = 'en' AND b < 5000)
       OR (lang = 'es' AND b < 3000)
       OR (lang = 'fr' AND b < 2000)
    """,
    doc="per-stratum deterministic hash sampling (curation extension): "
    "exact reproducibility, no RNG state, filter pushes into the scan",
)
def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return cur.stratified_sample(
        d, "lang", {"en": 0.5, "es": 0.3, "fr": 0.2}
    ).select("doc_id", "lang")


@register(
    "mixture_sample",
    """
    WITH counts AS (
        SELECT lang AS s, count(*)::DOUBLE AS n FROM documents GROUP BY lang),
    w AS (SELECT * FROM (VALUES ('de', 0.2), ('en', 0.5), ('es', 0.1),
                                ('fr', 0.2)) t(s, w)),
    cw AS (SELECT counts.s, n, w.w FROM counts JOIN w USING (s)),
    tmin AS (SELECT MIN(n / w) AS tmin FROM cw),
    rates AS (SELECT s, floor(round(w * tmin / n * 10000, 9))::INT AS thr
              FROM cw, tmin)
    SELECT d.doc_id, d.lang
    FROM documents d JOIN rates r ON d.lang = r.s
    WHERE ('0x' || substr(md5('11:' || d.doc_id::VARCHAR), 1, 15))::BIGINT
            % 10000 < r.thr
    """,
    doc="largest corpus at a TARGET domain mixture (DoReMi/Pile-style "
    "composition spec): binding stratum T = min n_s/w_s kept whole, every "
    "other stratum hash-threshold-downsampled to rate w_s*T/n_s — rates "
    "DERIVED from the composition goal, not given. One #strata-row count "
    "agg + 1-row broadcast min; the keep decision stays a pure projection "
    "(no per-stratum sort at 100 TB); 9dp rounding guard before the "
    "threshold floor (curation extension)",
)
def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return cur.mixture_sample(
        d, "lang", {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1}
    ).select("doc_id", "lang")


@register(
    "weighted_sample_quality",
    """
    WITH keyed AS (
        SELECT doc_id, lang,
               round(pow(
                 (('0x' || substr(md5('17:' || doc_id::VARCHAR), 1, 15))::BIGINT
                   % 1000000007 + 1) / 1000000009.0,
                 1.0 / GREATEST(n_chars::DOUBLE, 1e-9)), 6) AS sample_key
        FROM documents)
    SELECT doc_id, lang, sample_key FROM keyed
    ORDER BY sample_key DESC, doc_id LIMIT 100
    """,
    doc="deterministic weighted sampling without replacement (Efraimidis-"
    "Spirakis 2006), weight = doc length: u from the portable id hash, "
    "key = u^(1/w), global top-n — inclusion probability proportional to "
    "weight with zero RNG state; key assignment is a projection and the "
    "top-n is TakeOrderedAndProject (per-partition heads, no full sort) "
    "(curation extension)",
)
def q_weighted_sample_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return cur.weighted_sample(d, F.col("n_chars"), n=100, seed=17).select(
        "doc_id", "lang", "sample_key"
    )


@register(
    "dedup_keep_best",
    """
    WITH f AS (
        SELECT doc_id,
               length(text) AS n_chars_c,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               len(regexp_extract_all(lower(text),
                   '\\b(the|and|of|to|in|a|is|for)\\b', 1)) AS stop_hits
        FROM documents),
    q AS (
        SELECT doc_id,
               ROUND(
                 (alpha / GREATEST(n_chars_c, 1)) * 0.5
                 + (CASE WHEN n_chars_c / GREATEST(n_tokens, 1) BETWEEN 3 AND 12
                         THEN 1.0 ELSE 0.0 END) * 0.25
                 + LEAST((stop_hits / GREATEST(n_tokens, 1)) * 5.0, 1.0) * 0.25,
               4) AS quality
        FROM f),
    d AS (
        SELECT doc_id,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                 AS fingerprint
        FROM documents),
    r AS (
        SELECT d.fingerprint, d.doc_id, q.quality,
               ROW_NUMBER() OVER (PARTITION BY d.fingerprint
                                  ORDER BY q.quality DESC, d.doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY d.fingerprint) AS cnt
        FROM d JOIN q USING (doc_id))
    SELECT fingerprint, doc_id::BIGINT AS keep_id, quality AS best_score,
           cnt::BIGINT AS dup_count
    FROM r WHERE rn = 1
    """,
    doc="keep-best dedup representative (curation extension): argmax as "
    "max(struct(score,-id)) — one hash-agg with partial combine, no window",
)
def q_dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return cur.keep_best_dedup(d)


@register(
    "curation_pipeline",
    """
    WITH f AS (
        SELECT doc_id, lang,
               length(text) AS n_chars_c,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               len(regexp_extract_all(lower(text),
                   '\\b(the|and|of|to|in|a|is|for)\\b', 1)) AS stop_hits,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                 AS fingerprint
        FROM documents),
    q AS (
        SELECT doc_id, lang, fingerprint,
               ROUND(
                 (alpha / GREATEST(n_chars_c, 1)) * 0.5
                 + (CASE WHEN n_chars_c / GREATEST(n_tokens, 1) BETWEEN 3 AND 12
                         THEN 1.0 ELSE 0.0 END) * 0.25
                 + LEAST((stop_hits / GREATEST(n_tokens, 1)) * 5.0, 1.0) * 0.25,
               4) AS quality
        FROM f),
    r AS (
        SELECT fingerprint, doc_id, lang, quality,
               ROW_NUMBER() OVER (PARTITION BY fingerprint
                                  ORDER BY quality DESC, doc_id) AS rn,
               COUNT(*) OVER (PARTITION BY fingerprint) AS cnt
        FROM q),
    kept AS (
        SELECT doc_id, lang, quality, cnt,
               ('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 15))::BIGINT
                 % 10000 AS b
        FROM r WHERE rn = 1 AND quality >= 0.5)
    SELECT doc_id::BIGINT AS doc_id, lang, quality,
           cnt::BIGINT AS dup_count,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM kept
    """,
    doc="flagship curation pipeline: exact-dedup keep-best (argmax struct "
    "carries payload columns — no join back) → quality gate → split "
    "assignment; ONE shuffle end-to-end (curation extension)",
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return cur.curation_pipeline(d, min_quality=0.5)


@register(
    "corpus_profile",
    """
    WITH f AS (
        SELECT doc_id, lang,
               length(text) AS n_chars_c,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               len(regexp_extract_all(lower(text),
                   '\\b(the|and|of|to|in|a|is|for)\\b', 1)) AS stop_hits,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                 AS fingerprint
        FROM documents),
    q AS (
        SELECT doc_id, lang, fingerprint, n_tokens,
               ROUND(
                 (alpha / GREATEST(n_chars_c, 1)) * 0.5
                 + (CASE WHEN n_chars_c / GREATEST(n_tokens, 1) BETWEEN 3 AND 12
                         THEN 1.0 ELSE 0.0 END) * 0.25
                 + LEAST((stop_hits / GREATEST(n_tokens, 1)) * 5.0, 1.0) * 0.25,
               4) AS quality
        FROM f),
    d AS (
        SELECT q.*, COUNT(*) OVER (PARTITION BY fingerprint) AS grp
        FROM q)
    SELECT lang,
           COUNT(*)::BIGINT AS n_docs,
           SUM(n_tokens)::BIGINT AS total_tokens,
           SUM(CASE WHEN grp > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
           COUNT(DISTINCT fingerprint)::BIGINT AS n_distinct_texts,
           ROUND(AVG(quality), 4) AS avg_quality,
           ROUND(MIN(quality), 4) AS min_quality
    FROM d GROUP BY lang
    """,
    doc="corpus 'dataset card' profile: per-lang doc/token counts, "
    "duplicate membership (docs whose exact fingerprint occurs >1 time), "
    "distinct-text count, quality distribution — the one-pass health "
    "summary run before any curation decision; fingerprint + quality "
    "reuse the curation pipeline's exact expressions (curation extension)",
)
def q_corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.functions.text import (
        doc_fingerprint, quality_score, token_count,
    )

    d = _t(spark, sf_dir, "documents")
    base = d.select(
        "lang",
        token_count("text").alias("n_tokens"),
        doc_fingerprint("text").alias("fingerprint"),
        F.round(quality_score("text"), 4).alias("quality"),
    )
    w = Window.partitionBy("fingerprint")
    marked = base.withColumn("grp", F.count(F.lit(1)).over(w))
    return marked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.sum(F.when(F.col("grp") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_dup_docs"),
        F.countDistinct("fingerprint").alias("n_distinct_texts"),
        F.round(F.avg("quality"), 4).alias("avg_quality"),
        F.round(F.min("quality"), 4).alias("min_quality"),
    )


@register(
    "corpus_curation_app",
    """
    WITH f AS (
        SELECT doc_id, lang, text,
               length(text) AS n_chars_c,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               len(regexp_extract_all(lower(text),
                   '\\b(the|and|of|to|in|a|is|for)\\b', 1)) AS stop_hits,
               md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
                 AS fingerprint
        FROM documents),
    q AS (
        SELECT doc_id, lang, fingerprint, n_tokens,
               ROUND(
                 (alpha / GREATEST(n_chars_c, 1)) * 0.5
                 + (CASE WHEN n_chars_c / GREATEST(n_tokens, 1) BETWEEN 3 AND 12
                         THEN 1.0 ELSE 0.0 END) * 0.25
                 + LEAST((stop_hits / GREATEST(n_tokens, 1)) * 5.0, 1.0) * 0.25,
               4) AS quality
        FROM f),
    r AS (
        SELECT fingerprint, doc_id, lang, quality, n_tokens,
               ROW_NUMBER() OVER (PARTITION BY fingerprint
                                  ORDER BY quality DESC, doc_id) AS rn
        FROM q),
    train AS (
        SELECT doc_id, lang, quality, n_tokens
        FROM r
        WHERE rn = 1 AND quality >= 0.5
          AND ('0x' || substr(md5('7:' || doc_id::VARCHAR), 1, 15))::BIGINT
                % 10000 < 8000),
    counts AS (SELECT lang AS s, count(*)::DOUBLE AS n FROM train GROUP BY lang),
    w AS (SELECT * FROM (VALUES ('de', 0.2), ('en', 0.5), ('es', 0.1),
                                ('fr', 0.2)) t(s, w)),
    cw AS (SELECT counts.s, n, w.w FROM counts JOIN w USING (s)),
    tmin AS (SELECT MIN(n / w) AS tmin FROM cw),
    rates AS (SELECT s, floor(round(w * tmin / n * 10000, 9))::INT AS thr
              FROM cw, tmin),
    sampled AS (
        SELECT t.doc_id, t.lang, t.quality, t.n_tokens
        FROM train t JOIN rates r ON t.lang = r.s
        WHERE ('0x' || substr(md5('11:' || t.doc_id::VARCHAR), 1, 15))::BIGINT
                % 10000 < r.thr),
    sharded AS (
        SELECT doc_id, lang, quality, n_tokens,
               (('0x' || substr(md5('13:' || doc_id::VARCHAR), 1, 15))::BIGINT
                 % 10000) % 64 AS shard
        FROM sampled),
    packed AS (
        SELECT doc_id, lang, quality, n_tokens, shard,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS tokens_before
        FROM sharded)
    SELECT doc_id, lang, quality, n_tokens::BIGINT AS n_tokens,
           (shard * 4294967296 + FLOOR(tokens_before / 512.0))::BIGINT
             AS pack_id
    FROM packed
    """,
    doc="END-TO-END training-corpus app (apps.curate_training_corpus): "
    "raw docs → keep-best exact dedup + quality gate + split (one "
    "shuffle) → target-mixture downsample of the train split (binding "
    "stratum whole) → token-budget pack assignment (per-shard windows). "
    "Every stage is individually oracled elsewhere; this row hash-checks "
    "the COMPOSITION — the full raw-corpus-to-training-packs path "
    "(curation extension)",
)
def q_corpus_curation_app(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark import apps

    d = _t(spark, sf_dir, "documents")
    return apps.curate_training_corpus(
        d, {"en": 0.5, "de": 0.2, "fr": 0.2, "es": 0.1}, pack_budget=512
    )


@register(
    "doc_pack_assignment",
    """
    WITH b AS (
        SELECT doc_id AS id,
               len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT AS n_tokens,
               (('0x' || substr(md5('13:' || doc_id::VARCHAR), 1, 15))::BIGINT
                 % 10000) % 64 AS shard
        FROM documents),
    c AS (
        SELECT id, n_tokens, shard,
               COALESCE(SUM(n_tokens) OVER (
                   PARTITION BY shard ORDER BY id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS tokens_before
        FROM b)
    SELECT id, n_tokens,
           (shard * 4294967296 + FLOOR(tokens_before / 512.0))::BIGINT AS pack_id
    FROM c
    """,
    doc="sequence packing: assign docs to 512-token training packs by "
    "windowed cumulative fill within hash shards — each shard packs "
    "independently, no global ordering bottleneck (curation extension)",
)
def q_doc_pack_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return cur.pack_assignment(d, budget=512)


@register(
    "pii_scrub",
    f"""
    SELECT doc_id,
           regexp_replace(
             regexp_replace(text, '{text_fns.PII_EMAIL_RE}', '<EMAIL>', 'g'),
             '{text_fns.PII_PHONE_RE}', '<PHONE>', 'g') AS scrubbed
    FROM documents
    """,
    doc="PII scrubbing: email/phone redaction via RE2-safe regexp_replace — "
    "codegen-only, oracle replays the identical patterns (curation "
    "extension; redaction behavior unit-tested on crafted strings)",
)
def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.functions.text import scrub_pii

    d = _t(spark, sf_dir, "documents")
    return d.select("doc_id", scrub_pii("text").alias("scrubbed"))


@register(
    "embedding_quantize",
    """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    s AS (SELECT vec_id, v,
                 GREATEST(list_max(list_transform(v, x -> abs(x))) / 127.0,
                          1e-12) AS scale
          FROM v)
    SELECT vec_id AS id,
           ROUND(scale, 9) AS scale,
           array_to_string(list_transform(v, x -> floor(x / scale + 0.5)::INT),
                           ',') AS qvec
    FROM s
    """,
    doc="symmetric per-vector int8 quantization — the 4x storage/bandwidth "
    "cut for ANN at scale; floor(x/s+0.5) so the rounding rule is "
    "engine-portable. qvec emitted as a CSV string (not array<int>) so "
    "external frames can sort/factorize the column when canonicalizing "
    "(similarity-search extension)",
)
def q_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.quantize_int8(e).select(
        "id",
        F.round("scale", 9).alias("scale"),
        F.array_join(F.col("qvec").cast("array<string>"), ",").alias("qvec"),
    )


@register(
    "knn_binary_rerank",
    """
    WITH p AS (
        SELECT vec_id,
               list_sum(list_transform(generate_series(1, 32), i ->
                   CASE WHEN embedding[i] > 0
                        THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS b0,
               list_sum(list_transform(generate_series(33, 64), i ->
                   CASE WHEN embedding[i] > 0
                        THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS b1,
               list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings),
    q AS (SELECT vec_id AS query_id, b0 AS qb0, b1 AS qb1, v AS qv
          FROM p WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, b0 AS cb0, b1 AS cb1, v AS cv
          FROM p),
    h AS (SELECT query_id, neighbor_id, qv, cv,
                 bit_count(xor(qb0, cb0)) + bit_count(xor(qb1, cb1))
                   AS hamming
          FROM q JOIN c ON query_id <> neighbor_id),
    s AS (SELECT query_id, neighbor_id, qv, cv,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY hamming, neighbor_id) AS hrank
          FROM h),
    r AS (SELECT query_id, neighbor_id,
                 ROUND(list_dot_product(qv, cv)
                       / GREATEST(sqrt(list_dot_product(qv, qv))
                                  * sqrt(list_dot_product(cv, cv)),
                                  1e-12), 6) AS cos
          FROM s WHERE hrank <= 32),
    ranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id)::INT AS rank
        FROM r)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """,
    doc="binary-quantization ANN with exact rescore (the RaBitQ / faiss "
    "IndexBinaryFlat / vector-DB 'BQ + rerank' recipe): 1 sign bit per "
    "dimension packed into two positive 32-bit words, Hamming shortlist "
    "via xor+bit_count over broadcast queries (the scan reads 2 bigints "
    "per row, never the floats — 32x less memory traffic), exact cosine "
    "rerank of the 32-deep shortlist only. Pure codegen end to end "
    "(similarity-search extension)",
)
def q_knn_binary_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.knn_binary_rerank(e, e.where(F.col("vec_id") < 8), k=5)


def _recall_at_k(exact: DataFrame, approx: DataFrame, k: int = 5) -> DataFrame:
    """Per-query recall@k of an approximate probe against the exact one:
    (query_id, recall_at_k). `exact` has exactly k rows per query, so one
    left join against the (broadcast) approximate pairs scores every query
    in a single pass — consuming `exact` twice (a hits join plus a
    query-list join) would plan its brute-force subtree twice over."""
    pair = ["query_id", "neighbor_id"]
    marked = exact.select(*pair).join(
        F.broadcast(approx.select(*pair).withColumn("hit", F.lit(1))),
        pair,
        "left",
    )
    return (
        marked.groupBy("query_id")
        .agg(
            F.round(
                F.sum(F.coalesce("hit", F.lit(0))) / float(k), 2
            ).alias(f"recall_at_{k}")
        )
        .orderBy("query_id")
    )


@register(
    "ann_recall_binary",
    """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    bq AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 8),
    bscored AS (
        SELECT bq.query_id, v.vec_id AS neighbor_id,
               ROUND(list_dot_product(qv, v.v)
                     / GREATEST(sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(v.v, v.v)), 1e-12),
                     6) AS cos
        FROM bq JOIN v ON bq.query_id <> v.vec_id),
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM bscored) WHERE rank <= 5),
    p AS (
        SELECT vec_id,
               list_sum(list_transform(generate_series(1, 32), i ->
                   CASE WHEN embedding[i] > 0
                        THEN (1::BIGINT << (i - 1)) ELSE 0 END)) AS b0,
               list_sum(list_transform(generate_series(33, 64), i ->
                   CASE WHEN embedding[i] > 0
                        THEN (1::BIGINT << (i - 33)) ELSE 0 END)) AS b1,
               list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings),
    q AS (SELECT vec_id AS query_id, b0 AS qb0, b1 AS qb1, v AS qv
          FROM p WHERE vec_id < 8),
    h AS (SELECT query_id, c.vec_id AS neighbor_id, q.qv, c.v AS cv,
                 bit_count(xor(qb0, c.b0)) + bit_count(xor(qb1, c.b1))
                   AS hamming
          FROM q JOIN p c ON query_id <> c.vec_id),
    s AS (SELECT query_id, neighbor_id, qv, cv,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY hamming, neighbor_id) AS hrank
          FROM h),
    r AS (SELECT query_id, neighbor_id,
                 ROUND(list_dot_product(qv, cv)
                       / GREATEST(sqrt(list_dot_product(qv, qv))
                                  * sqrt(list_dot_product(cv, cv)),
                                  1e-12), 6) AS cos
          FROM s WHERE hrank <= 8),
    bqk AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM r) WHERE rank <= 5),
    hits AS (
        SELECT bf.query_id, COUNT(*)::BIGINT AS hits
        FROM bf JOIN bqk USING (query_id, neighbor_id)
        GROUP BY bf.query_id)
    SELECT q2.query_id,
           ROUND(COALESCE(h2.hits, 0) / 5.0, 2) AS recall_at_5
    FROM (SELECT DISTINCT query_id FROM bf) q2
    LEFT JOIN hits h2 USING (query_id)
    ORDER BY query_id
    """,
    doc="ANN quality evaluation for the binary-quantization path: recall@5 "
    "of sign-bit Hamming shortlist (depth 8) + exact rescore against the "
    "full-precision brute force — the depth-vs-recall measurement that "
    "sizes the rescore budget before shipping a BQ index. Completes the "
    "recall matrix (LSH / PQ / IVF-PQ / RP / binary) (similarity "
    "extension)",
)
def q_ann_recall_binary(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    return _recall_at_k(
        sim.knn_bruteforce(e, q, k=5),
        sim.knn_binary_rerank(e, q, k=5, shortlist=8),
    )


@register(
    "knn_quantized",
    """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    s AS (SELECT vec_id, v,
                 GREATEST(list_max(list_transform(v, x -> abs(x))) / 127.0,
                          1e-12) AS scale
          FROM v),
    qz AS (SELECT vec_id,
                  list_transform(v, x -> floor(x / scale + 0.5)::BIGINT) AS qv
           FROM s),
    q AS (SELECT vec_id AS query_id, qv FROM qz WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, qv AS cv FROM qz),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND(list_dot_product(qv, cv)::DOUBLE
                     / GREATEST(sqrt(list_dot_product(qv, qv)::DOUBLE)
                                * sqrt(list_dot_product(cv, cv)::DOUBLE),
                                1e-12), 6) AS cos
        FROM q JOIN c ON query_id <> neighbor_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id)::INT AS rank
        FROM scored)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """,
    doc="top-k ANN over int8-quantized vectors: integer dots + integer norms "
    "(scales cancel), 4x less bandwidth per probe; exact cross-engine "
    "determinism until one final double division (similarity extension)",
)
def q_knn_quantized(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.knn_quantized(e, e.where(F.col("vec_id") < 8), k=5)


@register(
    "hard_negatives",
    """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    q AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 8),
    scored AS (
        SELECT q.query_id, v.vec_id AS negative_id,
               ROUND(list_dot_product(qv, v.v)
                     / GREATEST(sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(v.v, v.v)), 1e-12),
                     6) AS cos
        FROM q JOIN v ON q.query_id <> v.vec_id),
    banded AS (SELECT * FROM scored WHERE cos < 0.95),
    ranked AS (
        SELECT query_id, negative_id, cos,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, negative_id)::INT AS rank
        FROM banded)
    SELECT query_id, negative_id, cos, rank FROM ranked WHERE rank <= 5
    """,
    doc="hard-negative mining for retrieval training: per query the top-k "
    "most-similar items BELOW the near-duplicate band (cos < 0.95) — "
    "random negatives are too easy, near-dups are false negatives; the "
    "band filters before the rank window so every returned slot is a "
    "usable negative. knn_bruteforce plan shape; at scale the scored "
    "pass swaps for any ANN shortlist (training-data extension)",
)
def q_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.hard_negatives(
        e, e.where(F.col("vec_id") < 8), k=5, dup_threshold=0.95
    )


def _pq_sql(m: int = 4, ds: int = 16, k: int = 4, seed: int = 29,
            nq: int = 8, topk: int = 5, emit: str = "topk") -> str:
    """Generated oracle for knn_pq: replays pq_train per subspace (the
    _KMEANS_SQL seed/assign/update chain over list-sliced sub-vectors),
    then encodes the corpus, builds per-query lookup rows, and ranks by
    the summed ADC — every stage term-for-term against similarity.pq_train
    / knn_pq, at the fixture's dim=64, m=4, k=4, iters=2 configuration."""
    dist = lambda a, b: (  # noqa: E731
        f"round(list_sum(list_transform(range(1, {ds + 1}), "
        f"j -> ({a}[j]-{b}[j])*({a}[j]-{b}[j]))), 6)"
    )
    parts = []
    for s in range(m):
        a, b = s * ds + 1, (s + 1) * ds
        parts.append(f"""
    vs{s} AS (SELECT vec_id, v[{a}:{b}] AS v FROM v),
    sd{s} AS (SELECT cid, v[{a}:{b}] AS v FROM seeds),
    a1_{s} AS (SELECT vec_id, v, cid FROM (
        SELECT t.vec_id, t.v, s.cid,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                   {dist('t.v', 's.v')}, s.cid) AS rn
        FROM vs{s} t, sd{s} s) z WHERE rn = 1),
    c1_{s} AS (SELECT cid, list(rv ORDER BY pos) AS v FROM (
        SELECT cid, pos, round(avg(val), 6) AS rv FROM (
            SELECT cid, unnest(v) AS val,
                   generate_subscripts(v, 1) AS pos FROM a1_{s}) u
        GROUP BY cid, pos) g GROUP BY cid),
    codes_{s} AS (SELECT vec_id, cid FROM (
        SELECT t.vec_id, c.cid,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                   {dist('t.v', 'c.v')}, c.cid) AS rn
        FROM vs{s} t, c1_{s} c) z WHERE rn = 1),
    lut_{s} AS (SELECT qq.vec_id AS qid, c.cid, {dist('qq.v', 'c.v')} AS d
                FROM (SELECT vec_id, v FROM vs{s} WHERE vec_id < {nq}) qq,
                     c1_{s} c)""")
    codes_union = " UNION ALL ".join(
        f"SELECT {s} AS sub, vec_id, cid FROM codes_{s}" for s in range(m)
    )
    lut_union = " UNION ALL ".join(
        f"SELECT {s} AS sub, qid, cid, d FROM lut_{s}" for s in range(m)
    )
    if emit == "codes":
        # the persisted-codes surface: one row per vector, subspace codes
        # (cluster ids) joined sub-order into a CSV string
        return f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    seeds AS (
        SELECT v, row_number() OVER (ORDER BY
                 ('0x' || substr(md5('{seed}:' || vec_id::VARCHAR), 1, 15))::BIGINT,
                 vec_id) - 1 AS cid
        FROM v QUALIFY cid <= {k - 1}),{','.join(parts)},
    codes AS ({codes_union})
    SELECT vec_id AS id,
           array_to_string(list(cid ORDER BY sub), ',') AS codes
    FROM codes GROUP BY vec_id
    """
    return f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    seeds AS (
        SELECT v, row_number() OVER (ORDER BY
                 ('0x' || substr(md5('{seed}:' || vec_id::VARCHAR), 1, 15))::BIGINT,
                 vec_id) - 1 AS cid
        FROM v QUALIFY cid <= {k - 1}),{','.join(parts)},
    codes AS ({codes_union}),
    lut AS ({lut_union}),
    adc AS (
        SELECT l.qid, x.vec_id, round(SUM(l.d), 6) AS adc
        FROM codes x JOIN lut l ON x.sub = l.sub AND x.cid = l.cid
        WHERE x.vec_id <> l.qid
        GROUP BY l.qid, x.vec_id),
    ranked AS (
        SELECT qid AS query_id, vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc, vec_id)::INT AS rank
        FROM adc)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {topk}
    """


@register(
    "knn_pq",
    _pq_sql(),
    doc="top-k ANN by product-quantization ADC (Jégou et al. 2011): "
    "deterministic per-subspace Lloyd codebooks (same portable-hash "
    "seeding as kmeans_clusters) collapse to plan literals, corpus rows "
    "encode to m codes via a literal-fold argmin, queries broadcast one "
    "rounded sub-distance lookup row per subspace, and the probe distance "
    "is an m-element zip-fold of table lookups — the billion-vector "
    "IVF-PQ probe arithmetic with a zero-Python executed plan "
    "(similarity extension)",
)
def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.knn_pq(e, e.where(F.col("vec_id") < 8), k=5)


def _ivfpq_sql(m: int = 4, ds: int = 16, coarse_k: int = 4, pq_k: int = 4,
               seed: int = 29, nq: int = 8, topk: int = 5,
               nprobe: int = 1) -> str:
    """Generated oracle for knn_ivfpq: the coarse _KMEANS_SQL chain (seed
    29) assigns corpus AND queries, residuals subtract the assignment
    centroid, per-subspace PQ chains (seed 30) train/encode over residuals,
    and the probe sums lookup distances WITHIN the query's coarse cluster —
    stage-for-stage against similarity.knn_ivfpq."""
    dim = m * ds
    dfull = lambda a, b: (  # noqa: E731
        f"round(list_sum(list_transform(range(1, {dim + 1}), "
        f"j -> ({a}[j]-{b}[j])*({a}[j]-{b}[j]))), 6)"
    )
    dsub = lambda a, b: (  # noqa: E731
        f"round(list_sum(list_transform(range(1, {ds + 1}), "
        f"j -> ({a}[j]-{b}[j])*({a}[j]-{b}[j]))), 6)"
    )
    parts = []
    for s in range(m):
        a, b = s * ds + 1, (s + 1) * ds
        parts.append(f"""
    rvs{s} AS (SELECT vec_id, cluster, r[{a}:{b}] AS v FROM resid),
    psd{s} AS (SELECT cid, v[{a}:{b}] AS v FROM pseeds),
    pa1_{s} AS (SELECT vec_id, v, cid FROM (
        SELECT t.vec_id, t.v, s.cid,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                   {dsub('t.v', 's.v')}, s.cid) AS rn
        FROM rvs{s} t, psd{s} s) z WHERE rn = 1),
    pc1_{s} AS (SELECT cid, list(rv ORDER BY pos) AS v FROM (
        SELECT cid, pos, round(avg(val), 6) AS rv FROM (
            SELECT cid, unnest(v) AS val,
                   generate_subscripts(v, 1) AS pos FROM pa1_{s}) u
        GROUP BY cid, pos) g GROUP BY cid),
    codes_{s} AS (SELECT vec_id, cid FROM (
        SELECT t.vec_id, c.cid,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                   {dsub('t.v', 'c.v')}, c.cid) AS rn
        FROM rvs{s} t, pc1_{s} c) z WHERE rn = 1),
    lut_{s} AS (SELECT qr.qid, qr.cluster, c.cid, {dsub('qs', 'c.v')} AS d
                FROM (SELECT qid, cluster, qr[{a}:{b}] AS qs
                      FROM qresid) qr,
                     pc1_{s} c)""")
    codes_union = " UNION ALL ".join(
        f"SELECT {s} AS sub, vec_id, cid FROM codes_{s}" for s in range(m)
    )
    lut_union = " UNION ALL ".join(
        f"SELECT {s} AS sub, qid, cluster, cid, d FROM lut_{s}"
        for s in range(m)
    )
    return f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    cseeds AS (
        SELECT v, row_number() OVER (ORDER BY
                 ('0x' || substr(md5('{seed}:' || vec_id::VARCHAR), 1, 15))::BIGINT,
                 vec_id) - 1 AS cid
        FROM v QUALIFY cid <= {coarse_k - 1}),
    ca1 AS (SELECT vec_id, v, cid FROM (
        SELECT t.vec_id, t.v, s.cid,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                   {dfull('t.v', 's.v')}, s.cid) AS rn
        FROM v t, cseeds s) z WHERE rn = 1),
    cc1 AS (SELECT cid, list(rv ORDER BY pos) AS v FROM (
        SELECT cid, pos, round(avg(val), 6) AS rv FROM (
            SELECT cid, unnest(v) AS val,
                   generate_subscripts(v, 1) AS pos FROM ca1) u
        GROUP BY cid, pos) g GROUP BY cid),
    ca2 AS (SELECT vec_id, cid FROM (
        SELECT t.vec_id, c.cid,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                   {dfull('t.v', 'c.v')}, c.cid) AS rn
        FROM v t, cc1 c) z WHERE rn = 1),
    resid AS (
        SELECT a.vec_id, a.cid AS cluster,
               list_transform(range(1, {dim + 1}),
                              j -> t.v[j] - c.v[j]) AS r
        FROM ca2 a JOIN v t USING (vec_id) JOIN cc1 c ON c.cid = a.cid),
    pseeds AS (
        SELECT r AS v, row_number() OVER (ORDER BY
                 ('0x' || substr(md5('{seed + 1}:' || vec_id::VARCHAR), 1, 15))::BIGINT,
                 vec_id) - 1 AS cid
        FROM resid QUALIFY cid <= {pq_k - 1}),
    qa AS (SELECT qid, cid AS cluster FROM (
        SELECT t.vec_id AS qid, c.cid,
               row_number() OVER (PARTITION BY t.vec_id ORDER BY
                   {dfull('t.v', 'c.v')}, c.cid) AS rn
        FROM v t, cc1 c WHERE t.vec_id < {nq}) z WHERE rn <= {nprobe}),
    qresid AS (
        SELECT qa.qid, qa.cluster,
               list_transform(range(1, {dim + 1}),
                              j -> t.v[j] - c.v[j]) AS qr
        FROM qa JOIN v t ON t.vec_id = qa.qid
        JOIN cc1 c ON c.cid = qa.cluster),{','.join(parts)},
    codes AS ({codes_union}),
    lut AS ({lut_union}),
    adc AS (
        SELECT l.qid, x.vec_id, round(SUM(l.d), 6) AS adc
        FROM codes x
        JOIN resid rx ON rx.vec_id = x.vec_id
        JOIN lut l ON l.sub = x.sub AND l.cid = x.cid
                  AND l.cluster = rx.cluster
        WHERE x.vec_id <> l.qid
        GROUP BY l.qid, x.vec_id),
    ranked AS (
        SELECT qid AS query_id, vec_id AS neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY qid
                                  ORDER BY adc, vec_id)::INT AS rank
        FROM adc)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= {topk}
    """


@register(
    "knn_ivfpq",
    _ivfpq_sql(),
    doc="TRUE IVF-PQ (Jégou 2011 §V): coarse k-means partitions the "
    "corpus, PQ codebooks train on the RESIDUALS x − centroid(cluster), "
    "queries coarse-assign themselves and probe ONLY their inverted list "
    "via an equi-join on the coarse cluster id — the O(N/coarse_k) probe "
    "surface broadcast ADC lacks. Coarse assignment is the kmeans kernel "
    "run once + localCheckpointed (materialized-kernel pattern); training "
    "collapses to literals; probe is a broadcast-query equi-join. Oracle "
    "replays coarse chain + residuals + per-subspace PQ end-to-end "
    "(similarity extension)",
)
def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.knn_ivfpq(e, e.where(F.col("vec_id") < 8), k=5)


@register(
    "ann_recall_ivfpq",
    f"""
    WITH v2 AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
                FROM embeddings),
    bq AS (SELECT vec_id AS query_id, v AS qv FROM v2 WHERE vec_id < 8),
    bscored AS (
        SELECT bq.query_id, v2.vec_id AS neighbor_id,
               round(list_sum(list_transform(range(1, 65),
                     j -> (qv[j]-v2.v[j])*(qv[j]-v2.v[j]))), 6) AS d2
        FROM bq JOIN v2 ON bq.query_id <> v2.vec_id),
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2, neighbor_id) AS rank
            FROM bscored) WHERE rank <= 5),
    ivf AS (SELECT query_id, neighbor_id FROM ({_ivfpq_sql(nprobe=2)}) t),
    hits AS (
        SELECT bf.query_id, COUNT(*)::BIGINT AS hits
        FROM bf JOIN ivf USING (query_id, neighbor_id)
        GROUP BY bf.query_id)
    SELECT q.query_id,
           ROUND(COALESCE(h.hits, 0) / 5.0, 2) AS recall_at_5
    FROM (SELECT DISTINCT query_id FROM bf) q
    LEFT JOIN hits h USING (query_id)
    ORDER BY query_id
    """,
    doc="ANN quality evaluation: recall@5 of TRUE IVF-PQ (nprobe=2, "
    "residual codes) against the exact squared-L2 top-k — completes the "
    "recall matrix (LSH / flat-PQ+rerank / IVF-PQ) and measures what the "
    "single-inverted-list restriction costs: a true neighbor in a "
    "different coarse cell is unreachable at nprobe=1, the standard "
    "recall/probe-cost dial (similarity extension)",
)
def q_ann_recall_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    return _recall_at_k(
        sim.knn_l2(e, q, k=5), sim.knn_ivfpq(e, q, k=5, nprobe=2)
    )


@register(
    "embedding_pq_codes",
    _pq_sql(emit="codes"),
    doc="persisted PQ code column: every vector encoded to its m subspace "
    "cluster ids (CSV string for cross-engine canonicalization, like "
    "embedding_quantize) — the 32-64x-smaller representation ADC probes "
    "scan instead of raw vectors; oracle replays training + per-subspace "
    "assignment (similarity extension)",
)
def q_embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    books = sim.pq_train(e, m=4, k=4, iters=2, seed=29)
    return sim.pq_encode(e, books).select(
        "id",
        F.array_join(F.col("codes").cast("array<string>"), ",").alias(
            "codes"
        ),
    )


# shared SQL fragment: shingles + base hash + 16 affine minhashes, mirroring
# dedup.minhash_signatures exactly (same md5 base, same (a,b) coefficients)
_MINHASH_CTE = """
    toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS t
        FROM documents),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN
                 list_transform(range(1, len(t) - 1),
                                i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END AS shs
        FROM toks),
    hv AS (
        SELECT doc_id,
               list_transform(shs,
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS hvs
        FROM sh WHERE len(shs) > 0),
    sigs AS (
        SELECT doc_id, {hash_exprs}
        FROM hv)
""".strip()


def _minhash_sql_exprs(num_hashes: int = 16) -> str:
    coeffs = dd._minhash_coeffs(num_hashes)
    return ",\n               ".join(
        f"list_min(list_transform(hvs, h -> ({a} * h + {b}) % 2147483647)) AS h{i}"
        for i, (a, b) in enumerate(coeffs)
    )


def _band_bucket_sql(bands: int = 4, rows: int = 4) -> str:
    pieces = []
    for b in range(bands):
        cols = " || ',' || ".join(
            f"h{b * rows + r}::VARCHAR" for r in range(rows)
        )
        pieces.append(f"SELECT doc_id, {b} AS band, {cols} AS bucket FROM sigs")
    return " UNION ALL ".join(pieces)


@register(
    "minhash_lsh_pairs",
    f"""
    WITH {_MINHASH_CTE.format(hash_exprs=_minhash_sql_exprs(16))},
    banded AS ({_band_bucket_sql(4, 4)})
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM banded a JOIN banded b
      ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
    """,
    doc="MinHash+LSH near-dup candidates: shingle→minhash→band→bucket self-join (dedup extension)",
)
def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, num_hashes=16)
    return dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=1000).select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint")
    )


@register(
    "neardup_jaccard",
    f"""
    WITH {_MINHASH_CTE.format(hash_exprs=_minhash_sql_exprs(16))},
    banded AS ({_band_bucket_sql(4, 4)}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    shd AS (SELECT doc_id, list_distinct(shs) AS shs FROM sh)
    SELECT id_a, id_b,
           ROUND(len(list_intersect(x.shs, y.shs))
                 / GREATEST(len(list_distinct(list_concat(x.shs, y.shs))), 1)::DOUBLE,
                 4) AS jaccard
    FROM cand JOIN shd x ON cand.id_a = x.doc_id
              JOIN shd y ON cand.id_b = y.doc_id
    WHERE len(list_intersect(x.shs, y.shs))
          / GREATEST(len(list_distinct(list_concat(x.shs, y.shs))), 1)::DOUBLE >= 0.5
    """,
    doc="n-gram Jaccard verification of LSH candidates (dedup extension)",
)
def q_neardup_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, num_hashes=16)
    pairs = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=1000)
    return dd.jaccard_verify(d, pairs, threshold=0.5).select(
        F.col("id_a").cast("bigint"), F.col("id_b").cast("bigint"), "jaccard"
    )


@register(
    "neardup_containment",
    f"""
    WITH {_MINHASH_CTE.format(hash_exprs=_minhash_sql_exprs(16))},
    banded AS ({_band_bucket_sql(4, 4)}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    shd AS (SELECT doc_id, list_distinct(shs) AS shs FROM sh)
    SELECT id_a, id_b,
           ROUND(len(list_intersect(x.shs, y.shs))
                 / GREATEST(len(x.shs), 1)::DOUBLE, 4) AS cont_a,
           ROUND(len(list_intersect(x.shs, y.shs))
                 / GREATEST(len(y.shs), 1)::DOUBLE, 4) AS cont_b
    FROM cand JOIN shd x ON cand.id_a = x.doc_id
              JOIN shd y ON cand.id_b = y.doc_id
    WHERE GREATEST(
            ROUND(len(list_intersect(x.shs, y.shs))
                  / GREATEST(len(x.shs), 1)::DOUBLE, 4),
            ROUND(len(list_intersect(x.shs, y.shs))
                  / GREATEST(len(y.shs), 1)::DOUBLE, 4)) >= 0.8
    """,
    doc="directional n-gram containment on LSH candidates — the "
    "sub-document duplication signal (short doc quoted inside a long one "
    "scores ~1 containment at low Jaccard); same verify-candidates-only "
    "shape as neardup_jaccard (dedup extension)",
)
def q_neardup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, num_hashes=16)
    pairs = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=1000)
    return dd.containment_verify(d, pairs, threshold=0.8).select(
        F.col("id_a").cast("bigint"),
        F.col("id_b").cast("bigint"),
        "cont_a",
        "cont_b",
    )


@register(
    "dedup_components",
    f"""
    WITH RECURSIVE {_MINHASH_CTE.format(hash_exprs=_minhash_sql_exprs(16))},
    banded AS ({_band_bucket_sql(4, 4)}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION ALL
              SELECT id_b AS s, id_a AS d FROM pairs),
    reach(node, lab) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.s, r.lab FROM edges e JOIN reach r ON e.d = r.node)
    SELECT node, MIN(lab)::BIGINT AS component_id FROM reach GROUP BY node
    """,
    doc="duplicate-cluster assignment: LSH pairs → connected components by "
    "alternating large-star/small-star (Kiveris '14; O(log n) rounds, "
    "diameter-proof) (dedup extension; oracle = recursive closure)",
)
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, num_hashes=16)
    pairs = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=1000)
    return dd.connected_components(pairs).select(
        F.col("node").cast("bigint"), "component_id"
    )


@register(
    "split_leakage_safe",
    f"""
    WITH RECURSIVE {_MINHASH_CTE.format(hash_exprs=_minhash_sql_exprs(16))},
    banded AS ({_band_bucket_sql(4, 4)}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION ALL
              SELECT id_b AS s, id_a AS d FROM pairs),
    reach(node, lab) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.s, r.lab FROM edges e JOIN reach r ON e.d = r.node),
    comp AS (SELECT node, MIN(lab)::BIGINT AS component_id
             FROM reach GROUP BY node)
    SELECT doc_id, group_key,
           CASE WHEN b < 8000 THEN 'train'
                WHEN b < 9000 THEN 'val'
                ELSE 'test' END AS split
    FROM (SELECT d.doc_id,
                 COALESCE(c.component_id, d.doc_id)::BIGINT AS group_key,
                 ('0x' || substr(md5('7:' ||
                     COALESCE(c.component_id, d.doc_id)::VARCHAR), 1, 15))::BIGINT
                   % 10000 AS b
          FROM documents d LEFT JOIN comp c ON d.doc_id = c.node)
    """,
    doc="leakage-safe train/val/test split: the hash input is the near-dup "
    "CLUSTER label (LSH pairs -> connected components), so near-identical "
    "mirrors can never straddle train and test — the eval-contamination "
    "hole a per-document split leaves open. Outside clusters the "
    "assignment equals dataset_split; inside, constant per cluster. One "
    "AQE-broadcastable left join over dataset_split's pure projection "
    "(curation extension)",
)
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, num_hashes=16)
    pairs = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=1000)
    comp = dd.connected_components(pairs)
    return cur.leakage_safe_split(d.select("doc_id"), comp).select(
        F.col("doc_id").cast("bigint"),
        F.col("group_key").cast("bigint"),
        "split",
    )


@register(
    "dedup_cluster_stats",
    f"""
    WITH RECURSIVE {_MINHASH_CTE.format(hash_exprs=_minhash_sql_exprs(16))},
    banded AS ({_band_bucket_sql(4, 4)}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION ALL
              SELECT id_b AS s, id_a AS d FROM pairs),
    reach(node, lab) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.s, r.lab FROM edges e JOIN reach r ON e.d = r.node),
    comp AS (SELECT node, MIN(lab) AS component_id FROM reach GROUP BY node),
    sizes AS (
        SELECT component_id, COUNT(*)::BIGINT AS cluster_size
        FROM comp GROUP BY component_id)
    SELECT cluster_size,
           COUNT(*)::BIGINT AS n_clusters,
           SUM(cluster_size)::BIGINT AS n_docs,
           (SUM(cluster_size) - COUNT(*))::BIGINT AS removable_docs
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
    doc="dedup audit readout: duplicate-cluster size histogram over the "
    "LSH connected components — n_clusters/n_docs per multiplicity and "
    "the removable count (size − 1 per cluster), the number every dedup "
    "run reports before committing a prune. Two bounded aggregations on "
    "top of dedup_components; the histogram is at most O(max cluster "
    "size) rows (training-data extension)",
)
def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, num_hashes=16)
    pairs = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=1000)
    comp = dd.connected_components(pairs)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(
            F.count(F.lit(1)).alias("n_clusters"),
            F.sum("cluster_size").alias("n_docs"),
            (F.sum("cluster_size") - F.count(F.lit(1)))
            .cast("bigint")
            .alias("removable_docs"),
        )
        .orderBy("cluster_size")
    )


@register(
    "doc_chunking",
    """
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS t
        FROM documents),
    n AS (SELECT doc_id, t, len(t) AS n_tokens FROM toks WHERE len(t) > 0),
    chunks AS (
        SELECT doc_id,
               i::INT AS chunk_no,
               array_to_string(t[i * 48 + 1 : i * 48 + 64], ' ')
                   AS chunk_text,
               LEAST(n_tokens - i * 48, 64)::INT AS chunk_tokens
        FROM n, UNNEST(range(0,
            GREATEST((n_tokens - 64 + 47) // 48, 0) + 1)) AS r(i))
    SELECT doc_id, chunk_no, md5(chunk_text) AS chunk_md5, chunk_tokens
    FROM chunks
    """,
    doc="sliding-window document chunking (max_len=64 tokens, stride=48, "
    "16-token overlap) — the segmentation step every context-bounded "
    "training pipeline runs between curation and packing. Row-local "
    "explode over a token-count-derived chunk range, chunk text "
    "assembled by slice+concat inside codegen, no shuffle at all; the "
    "last chunk is short rather than dropped (no token loss), and "
    "overlap preserves cross-boundary context. Emitted as (doc, chunk_no, "
    "md5(chunk_text), chunk_tokens) — the md5 hash-checks the exact "
    "reassembled text without shipping it (training-data extension)",
)
def q_doc_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    max_len, stride = 64, 48
    d = _t(spark, sf_dir, "documents")
    toks = text_fns.word_tokens("text")
    n = F.size(F.col("t"))
    # number of chunks: 1 + ceil(max(n - max_len, 0) / stride)
    n_chunks = F.greatest(
        F.ceil((n - F.lit(max_len)).cast("double") / F.lit(stride)),
        F.lit(0),
    ).cast("int") + F.lit(1)
    base = (
        d.select("doc_id", toks.alias("t"))
        .where(F.size("t") > 0)
        .select(
            "doc_id",
            "t",
            n.alias("n_tokens"),
            F.explode(F.sequence(F.lit(0), n_chunks - 1)).alias("chunk_no"),
        )
    )
    chunk_text = F.concat_ws(
        " ", F.slice("t", F.col("chunk_no") * stride + 1, max_len)
    )
    return base.select(
        "doc_id",
        "chunk_no",
        F.md5(chunk_text).alias("chunk_md5"),
        F.least(
            F.col("n_tokens") - F.col("chunk_no") * stride, F.lit(max_len)
        )
        .cast("int")
        .alias("chunk_tokens"),
    )


@register(
    "source_dup_matrix",
    f"""
    WITH {_MINHASH_CTE.format(hash_exprs=_minhash_sql_exprs(16))},
    banded AS ({_band_bucket_sql(4, 4)}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    shd AS (SELECT doc_id, list_distinct(shs) AS shs FROM sh),
    verified AS (
        SELECT id_a, id_b
        FROM cand JOIN shd x ON cand.id_a = x.doc_id
                  JOIN shd y ON cand.id_b = y.doc_id
        WHERE ROUND(len(list_intersect(x.shs, y.shs))
              / GREATEST(len(list_distinct(list_concat(x.shs, y.shs))),
                         1)::DOUBLE, 4) >= 0.5),
    src AS (SELECT doc_id, source FROM documents),
    labeled AS (
        SELECT LEAST(sa.source, sb.source) AS source_a,
               GREATEST(sa.source, sb.source) AS source_b
        FROM verified
        JOIN src sa ON sa.doc_id = verified.id_a
        JOIN src sb ON sb.doc_id = verified.id_b)
    SELECT source_a, source_b, COUNT(*)::BIGINT AS n_dup_pairs
    FROM labeled GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
    doc="cross-source duplication matrix: verified near-dup pairs labeled "
    "by the (unordered) source pair — the provenance diagnostic that "
    "shows which corpus sources mirror each other (off-diagonal mass) vs "
    "self-duplicate (diagonal), deciding whether dedup must run globally "
    "or can shard per source. Source labels join onto the bounded "
    "verified-pair set; output is O(sources²) rows "
    "(training-data extension)",
)
def q_source_dup_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, num_hashes=16)
    cand = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=1000)
    verified = dd.jaccard_verify(d, cand, threshold=0.5).select(
        "id_a", "id_b"
    )
    src = d.select("doc_id", "source")
    labeled = (
        verified.join(
            src.select(
                F.col("doc_id").alias("id_a"), F.col("source").alias("sa")
            ),
            "id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("id_b"), F.col("source").alias("sb")
            ),
            "id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return (
        labeled.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).alias("n_dup_pairs"))
        .orderBy("source_a", "source_b")
    )


@register(
    "lsh_miss_rate",
    f"""
    WITH {_MINHASH_CTE.format(hash_exprs=_minhash_sql_exprs(16))},
    banded AS ({_band_bucket_sql(4, 4)}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    ids AS (SELECT DISTINCT doc_id FROM sh WHERE len(shs) > 0),
    sampled AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM ids a JOIN ids b ON a.doc_id < b.doc_id
        WHERE ('0x' || substr(md5('31:' || a.doc_id::VARCHAR || ':'
                                  || b.doc_id::VARCHAR), 1, 15))::BIGINT
              % 50 = 0),
    probe AS (
        SELECT s.id_a, s.id_b FROM sampled s
        LEFT JOIN cand c ON c.id_a = s.id_a AND c.id_b = s.id_b
        WHERE c.id_a IS NULL),
    shd AS (SELECT doc_id, list_distinct(shs) AS shs FROM sh),
    jac AS (
        SELECT probe.id_a, probe.id_b,
               ROUND(len(list_intersect(x.shs, y.shs))
                     / GREATEST(len(list_distinct(list_concat(x.shs, y.shs))),
                                1)::DOUBLE, 4) AS j
        FROM probe JOIN shd x ON probe.id_a = x.doc_id
                   JOIN shd y ON probe.id_b = y.doc_id)
    SELECT COUNT(*)::BIGINT AS n_sampled_noncand,
           SUM(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END)::BIGINT AS n_missed,
           ROUND(SUM(CASE WHEN j >= 0.5 THEN 1 ELSE 0 END)
                 / COUNT(*)::DOUBLE, 6) AS miss_rate,
           ROUND(MAX(j), 4) AS worst_missed_jaccard
    FROM jac
    """,
    doc="LSH banding MISS-RATE estimation: a deterministic hash-sample of "
    "NON-candidate pairs (1-in-50 of all id pairs, md5-keyed so the "
    "oracle draws the identical sample) is exact-Jaccard verified; pairs "
    "at or above the dedup threshold that banding never surfaced are the "
    "sketch's false negatives. Completes the dedup-evaluation trio "
    "(estimator calibration / cluster stats / miss rate) — the number "
    "that justifies a bands×rows configuration before a 100 TB run, "
    "where candidate recall cannot be eyeballed. The sampled-pair "
    "surface is |pairs|/50 of the quadratic space — at real scale sample "
    "by id-block first; the verify cost stays bounded by the sample "
    "(dedup-evaluation extension)",
)
def q_lsh_miss_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.dedup import _portable_hash

    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, num_hashes=16)
    cand = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=1000)
    ids = sigs.select(F.col("id").alias("doc_id"))
    a = ids.select(F.col("doc_id").alias("id_a"))
    b = ids.select(F.col("doc_id").alias("id_b"))
    pair_key = _portable_hash(
        F.concat(
            F.col("id_a").cast("string"), F.lit(":"),
            F.col("id_b").cast("string"),
        ),
        31,
    )
    sampled = (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .where(pair_key % 50 == 0)
    )
    probe = sampled.join(cand, ["id_a", "id_b"], "left_anti")
    jac = dd.jaccard_verify(d, probe, threshold=0.0)
    missed = F.when(F.col("jaccard") >= 0.5, 1).otherwise(0)
    return jac.agg(
        F.count(F.lit(1)).alias("n_sampled_noncand"),
        F.sum(missed).cast("bigint").alias("n_missed"),
        F.round(F.sum(missed) / F.count(F.lit(1)), 6).alias("miss_rate"),
        F.round(F.max("jaccard"), 4).alias("worst_missed_jaccard"),
    )


@register(
    "quality_dup_correlation",
    f"""
    WITH {_MINHASH_CTE.format(hash_exprs=_minhash_sql_exprs(16))},
    banded AS ({_band_bucket_sql(4, 4)}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    dup AS (SELECT DISTINCT id FROM (
        SELECT id_a AS id FROM cand UNION ALL SELECT id_b AS id FROM cand)),
    f AS (
        SELECT doc_id,
               length(text) AS n_chars_c,
               len(regexp_split_to_array(trim(text), '\\s+')) AS n_tokens,
               length(regexp_replace(text, '[^A-Za-z]', '', 'g')) AS alpha,
               len(regexp_extract_all(lower(text),
                   '\\b(the|and|of|to|in|a|is|for)\\b', 1)) AS stop_hits
        FROM documents),
    q AS (
        SELECT doc_id,
               ROUND(
                 (alpha / GREATEST(n_chars_c, 1)) * 0.5
                 + (CASE WHEN n_chars_c / GREATEST(n_tokens, 1)
                              BETWEEN 3 AND 12
                         THEN 1.0 ELSE 0.0 END) * 0.25
                 + LEAST((stop_hits / GREATEST(n_tokens, 1)) * 5.0, 1.0)
                   * 0.25,
               4) AS quality
        FROM f),
    th AS (
        SELECT ROUND(quantile_cont(quality, 0.25), 9) AS q1,
               ROUND(quantile_cont(quality, 0.50), 9) AS q2,
               ROUND(quantile_cont(quality, 0.75), 9) AS q3
        FROM q),
    binned AS (
        SELECT q.doc_id,
               (CASE WHEN q.quality <= th.q1 THEN 0
                     WHEN q.quality <= th.q2 THEN 1
                     WHEN q.quality <= th.q3 THEN 2
                     ELSE 3 END)::INT AS quality_bin,
               CASE WHEN dup.id IS NOT NULL THEN 1 ELSE 0 END AS is_dup
        FROM q CROSS JOIN th LEFT JOIN dup ON dup.id = q.doc_id)
    SELECT quality_bin,
           COUNT(*)::BIGINT AS n_docs,
           SUM(is_dup)::BIGINT AS n_dup_docs,
           ROUND(SUM(is_dup) / COUNT(*)::DOUBLE, 4) AS dup_rate
    FROM binned GROUP BY quality_bin ORDER BY quality_bin
    """,
    doc="cross-signal curation diagnostic: near-duplicate membership rate "
    "per GLOBAL quality quartile — the sanity check every dedup+quality "
    "pipeline runs before committing thresholds (low-quality strata "
    "usually duplicate more; a flat profile says the two filters are "
    "independent). Dup membership = appears in any LSH candidate pair; "
    "quartile thresholds are a broadcast single-row aggregate (9dp-"
    "rounded, the doc_quality_bins discipline); output is 4 rows "
    "(training-data extension)",
)
def q_quality_dup_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, num_hashes=16)
    cand = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=1000)
    dup = (
        cand.select(F.col("id_a").alias("doc_id"))
        .unionByName(cand.select(F.col("id_b").alias("doc_id")))
        .distinct()
        .withColumn("is_dup", F.lit(1))
    )
    q = d.select("doc_id", quality_score("text").alias("quality"))
    th = q.agg(
        F.round(F.percentile("quality", F.lit(0.25)), 9).alias("q1"),
        F.round(F.percentile("quality", F.lit(0.50)), 9).alias("q2"),
        F.round(F.percentile("quality", F.lit(0.75)), 9).alias("q3"),
    )
    binned = (
        F.when(F.col("quality") <= F.col("q1"), 0)
        .when(F.col("quality") <= F.col("q2"), 1)
        .when(F.col("quality") <= F.col("q3"), 2)
        .otherwise(3)
    )
    return (
        q.crossJoin(F.broadcast(th))
        .join(dup, "doc_id", "left")
        .select(
            binned.cast("int").alias("quality_bin"),
            F.coalesce("is_dup", F.lit(0)).alias("is_dup"),
        )
        .groupBy("quality_bin")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("is_dup").cast("bigint").alias("n_dup_docs"),
            F.round(F.sum("is_dup") / F.count(F.lit(1)), 4).alias(
                "dup_rate"
            ),
        )
        .orderBy("quality_bin")
    )


@register(
    "minhash_calibration",
    f"""
    WITH {_MINHASH_CTE.format(hash_exprs=_minhash_sql_exprs(16))},
    banded AS ({_band_bucket_sql(4, 4)}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    shd AS (SELECT doc_id, list_distinct(shs) AS shs FROM sh),
    est AS (
        SELECT cand.id_a, cand.id_b,
               ROUND(({" + ".join(
                   f"(a.h{i} = b.h{i})::INT" for i in range(16))})
                     / 16.0, 4) AS est_jaccard
        FROM cand JOIN sigs a ON a.doc_id = cand.id_a
                  JOIN sigs b ON b.doc_id = cand.id_b),
    exact AS (
        SELECT cand.id_a, cand.id_b,
               ROUND(len(list_intersect(x.shs, y.shs))
                     / GREATEST(len(list_distinct(list_concat(x.shs, y.shs))),
                                1)::DOUBLE, 4) AS jaccard
        FROM cand JOIN shd x ON cand.id_a = x.doc_id
                  JOIN shd y ON cand.id_b = y.doc_id)
    SELECT est.id_a, est.id_b, est.est_jaccard, exact.jaccard,
           ROUND(ABS(est.est_jaccard - exact.jaccard), 4) AS abs_err
    FROM est JOIN exact USING (id_a, id_b)
    """,
    doc="MinHash estimator calibration: per LSH candidate pair, the "
    "signature-agreement estimate (matching slots / num_hashes — the "
    "unbiased MinHash Jaccard estimator) against the exact n-gram "
    "Jaccard, with the absolute error. The measurement loop that sizes "
    "num_hashes/bands before trusting the sketch at corpus scale — the "
    "sketch-tuning counterpart of ann_recall_*; signature equality is a "
    "16-slot zip fold, exact Jaccard only runs on the bounded candidate "
    "set (dedup-evaluation extension)",
)
def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.functions.text import shingles as _shingles

    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, num_hashes=16)
    cand = dd.lsh_candidate_pairs(sigs, bands=4, rows_per_band=4, max_bucket=1000)
    shd = d.select(
        F.col("doc_id").alias("id"),
        F.array_distinct(_shingles("text", 3)).alias("shs"),
    )
    joined = dd._pair_sides(cand, sigs.join(shd, "id"))
    matches = F.aggregate(
        F.zip_with(
            F.col("a.sig"), F.col("b.sig"),
            lambda x, y: F.when(x == y, 1).otherwise(0),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    inter = F.size(F.array_intersect("a.shs", "b.shs")).cast("double")
    union = F.size(F.array_union("a.shs", "b.shs")).cast("double")
    est = F.round(matches / F.lit(16.0), 4)
    jac = F.round(inter / F.greatest(union, F.lit(1.0)), 4)
    return joined.select(
        "id_a",
        "id_b",
        est.alias("est_jaccard"),
        jac.alias("jaccard"),
        F.round(F.abs(est - jac), 4).alias("abs_err"),
    )


@register(
    "neardup_dedup_app",
    f"""
    WITH RECURSIVE {_MINHASH_CTE.format(hash_exprs=_minhash_sql_exprs(16))},
    banded AS ({_band_bucket_sql(4, 4)}),
    cand AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    shd AS (SELECT doc_id, list_distinct(shs) AS shs FROM sh),
    verified AS (
        SELECT id_a, id_b
        FROM cand JOIN shd x ON cand.id_a = x.doc_id
                  JOIN shd y ON cand.id_b = y.doc_id
        WHERE ROUND(len(list_intersect(x.shs, y.shs))
              / GREATEST(len(list_distinct(list_concat(x.shs, y.shs))),
                         1)::DOUBLE, 4) >= 0.5),
    edges AS (SELECT id_a AS s, id_b AS d FROM verified
              UNION ALL
              SELECT id_b AS s, id_a AS d FROM verified),
    reach(node, lab) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.s, r.lab FROM edges e JOIN reach r ON e.d = r.node),
    comp AS (SELECT node, MIN(lab) AS component_id FROM reach GROUP BY node),
    q AS (
        SELECT doc_id,
               ROUND(
                 (length(regexp_replace(text, '[^A-Za-z]', '', 'g'))
                  / GREATEST(length(text), 1)) * 0.5
                 + (CASE WHEN length(text)
                              / GREATEST(len(regexp_split_to_array(
                                             trim(text), '\\s+')), 1)
                              BETWEEN 3 AND 12
                         THEN 1.0 ELSE 0.0 END) * 0.25
                 + LEAST((len(regexp_extract_all(lower(text),
                       '\\b(the|and|of|to|in|a|is|for)\\b', 1))
                      / GREATEST(len(regexp_split_to_array(
                                     trim(text), '\\s+')), 1)) * 5.0,
                     1.0) * 0.25,
               4) AS quality
        FROM documents),
    labeled AS (
        SELECT d.doc_id, d.lang, q.quality,
               COALESCE(c.component_id, d.doc_id) AS component
        FROM documents d JOIN q USING (doc_id)
        LEFT JOIN comp c ON c.node = d.doc_id),
    best AS (
        SELECT component, doc_id AS keep_id FROM (
            SELECT component, doc_id,
                   ROW_NUMBER() OVER (PARTITION BY component
                                      ORDER BY quality DESC, doc_id ASC)
                       AS rn
            FROM labeled) WHERE rn = 1),
    sizes AS (SELECT component, COUNT(*)::BIGINT AS n_members
              FROM labeled GROUP BY component)
    SELECT l.doc_id, l.lang, l.component, s.n_members, l.quality,
           (l.doc_id = b.keep_id) AS kept
    FROM labeled l
    JOIN best b USING (component)
    JOIN sizes s USING (component)
    """,
    doc="end-to-end NEAR-duplicate corpus dedup app (RefinedWeb-family "
    "chain): MinHash→banded LSH candidates→exact Jaccard verify→connected "
    "components (star kernel past the propagation budget)→highest-quality "
    "representative per cluster. Per-doc verdicts with `kept` marking the "
    "retained representative; singletons keep themselves. Every stage is "
    "the already-audited operator; composition hash-checked as one row "
    "(training-data extension; oracle = recursive closure + window argmax)",
)
def q_neardup_dedup_app(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.apps import neardup_dedup_corpus

    d = _t(spark, sf_dir, "documents")
    return neardup_dedup_corpus(d, threshold=0.5)


@register(
    "knn_bruteforce",
    """
    WITH q AS (SELECT vec_id AS query_id,
                      list_transform(embedding, x -> x::DOUBLE) AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id,
                 list_transform(embedding, x -> x::DOUBLE) AS cv
          FROM embeddings),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               ROUND(list_dot_product(qv, cv)
                     / GREATEST(sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv)), 1e-12), 6) AS cos
        FROM q JOIN c ON q.query_id <> c.neighbor_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id)::INT AS rank
        FROM scored)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """,
    doc="brute-force cosine top-k ANN baseline (similarity-search extension); broadcast query side",
)
def q_knn_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.knn_bruteforce(e, e.where(F.col("vec_id") < 8), k=5)


@register(
    "knn_ivf",
    """
    WITH q AS (SELECT vec_id AS query_id, label AS bucket,
                      list_transform(embedding, x -> x::DOUBLE) AS qv
               FROM embeddings WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, label AS bucket,
                 list_transform(embedding, x -> x::DOUBLE) AS cv
          FROM embeddings),
    scored AS (
        SELECT q.query_id, c.neighbor_id,
               ROUND(list_dot_product(qv, cv)
                     / GREATEST(sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv)), 1e-12), 6) AS cos
        FROM q JOIN c ON q.bucket = c.bucket AND q.query_id <> c.neighbor_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id)::INT AS rank
        FROM scored)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """,
    doc="IVF-style bucketed ANN: probe only the coarse cluster (similarity-search extension)",
)
def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.knn_ivf(e, e.where(F.col("vec_id") < 8), k=5)


_LSH_PLANES = sim.lsh_planes(64, n_planes=6, seed=97)


def _lsh_bucket_sql() -> str:
    terms = []
    for i, p in enumerate(_LSH_PLANES):
        arr = "[" + ",".join(f"{x}::DOUBLE" for x in p) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(v, {arr}) > 0 THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


@register(
    "knn_lsh",
    f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    bk AS (SELECT vec_id, v, {_lsh_bucket_sql()} AS bucket FROM v),
    q AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bk WHERE vec_id < 8),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM bk),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND(list_dot_product(qv, cv)
                     / GREATEST(sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv)), 1e-12), 6) AS cos
        FROM q JOIN c USING (bucket) WHERE query_id <> neighbor_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id)::INT AS rank
        FROM scored)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """,
    doc="label-free ANN: sign-LSH hyperplane bucketing (2^6 buckets) + "
    "same-bucket cosine top-k — the scale path when no coarse quantizer "
    "labels exist (similarity extension)",
)
def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.knn_lsh(e, e.where(F.col("vec_id") < 8), _LSH_PLANES, k=5)


@register(
    "embedding_label_stats",
    """
    SELECT label,
           COUNT(*)::BIGINT AS n,
           ROUND(AVG(sqrt(list_dot_product(
               list_transform(embedding, x -> x::DOUBLE),
               list_transform(embedding, x -> x::DOUBLE)))), 4) AS avg_norm
    FROM embeddings GROUP BY label
    """,
    doc="vectorized norm math over array<float> column (similarity-search extension)",
)
def q_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.transform("embedding", lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )
    return e.groupBy("label").agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.avg(norm), 4).alias("avg_norm"),
    )


@register(
    "word_frequencies",
    """
    WITH words AS (
        SELECT unnest(regexp_extract_all(lower(text), '([a-z0-9]{8,})', 1)) AS word
        FROM documents)
    SELECT word, COUNT(*)::BIGINT AS freq
    FROM words GROUP BY word
    ORDER BY freq DESC, word LIMIT 20
    """,
    doc="regex token extraction + explode + frequency top-k — hashtags() analog (§2.8 string)",
)
def q_word_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            F.explode(
                F.regexp_extract_all(
                    F.lower("text"), F.lit("([a-z0-9]{8,})"), 1
                )
            ).alias("word")
        )
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "word")
        .limit(20)
    )


# SimHash near-dup pairs: 32-bit fingerprints, 12-bit prefix blocks,
# Hamming <= 6 within a block. The oracle replays the identical bit votes.
_SIMHASH_BITS, _SIMHASH_PREFIX, _SIMHASH_HD = 32, 12, 6


@register(
    "simhash_pairs",
    f"""
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS t
        FROM documents),
    hv AS (
        SELECT doc_id,
               list_transform(t,
                   tk -> ('0x' || substr(md5('0:' || tk), 1, 15))::BIGINT) AS hs
        FROM toks WHERE len(t) > 0),
    sigs AS (
        SELECT doc_id,
               list_sum(list_transform(range(0, {_SIMHASH_BITS}), b ->
                 CASE WHEN list_sum(list_transform(hs,
                        h -> CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
                      THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS sh
        FROM hv),
    blocked AS (
        SELECT doc_id, sh, sh >> {_SIMHASH_BITS - _SIMHASH_PREFIX} AS block
        FROM sigs)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.sh, b.sh))::INT AS hamming
    FROM blocked a JOIN blocked b
      ON a.block = b.block AND a.doc_id < b.doc_id
    WHERE bit_count(xor(a.sh, b.sh)) <= {_SIMHASH_HD}
    """,
    doc="SimHash near-dup pairs: bit-vote fingerprint, prefix blocking, "
    "Hamming verify (dedup extension, Charikar '02 / Manku '07)",
)
def q_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.functions.text import word_tokens

    d = _t(spark, sf_dir, "documents").where(F.size(word_tokens("text")) > 0)
    return dd.simhash_dedup(
        d,
        prefix_bits=_SIMHASH_PREFIX,
        max_hamming=_SIMHASH_HD,
        bits=_SIMHASH_BITS,
    ).select(
        F.col("id_a").cast("bigint"),
        F.col("id_b").cast("bigint"),
        F.col("hamming").cast("int"),
    )


@register(
    "doc_winnow_fingerprints",
    """
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS t
        FROM documents),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN
                 list_transform(range(1, len(t) - 1),
                                i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END AS shs
        FROM toks),
    hv AS (
        SELECT doc_id,
               list_transform(shs,
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS hvs
        FROM sh WHERE len(shs) > 0),
    fps AS (
        SELECT doc_id,
               CASE WHEN len(hvs) >= 4 THEN
                 list_distinct(list_transform(range(1, len(hvs) - 2),
                                              i -> list_min(hvs[i:i+3])))
               ELSE [list_min(hvs)] END AS fp_list
        FROM hv)
    SELECT doc_id, unnest(fp_list)::BIGINT AS fp FROM fps
    """,
    doc="winnowing rolling-hash fingerprints (Schleimer '03/MOSS): window-min "
    "of shingle hashes, exploded (text-analysis extension)",
)
def q_doc_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.functions.text import winnow_fingerprints
    from osmesa_spark.util import ensure_parallelism

    d = ensure_parallelism(
        _t(spark, sf_dir, "documents").select("doc_id", "text"), "doc_id"
    )
    hashes = F.expr(dd.shingle_hashes_sql("`text`", 3))
    # explode() drops empty arrays on its own; an explicit size()>0 filter
    # would re-evaluate the whole winnow expression per row a second time
    # (no CSE across Filter/Generate) — measured 7× slower at sf0.1.
    return d.select(
        "doc_id", F.explode(winnow_fingerprints(hashes, window=4)).alias("fp")
    )


@register(
    "neardup_winnow_pairs",
    """
    WITH toks AS (
        SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS t
        FROM documents),
    sh AS (
        SELECT doc_id,
               CASE WHEN len(t) >= 3 THEN
                 list_transform(range(1, len(t) - 1),
                                i -> array_to_string(t[i:i+2], ' '))
               ELSE [] END AS shs
        FROM toks),
    hv AS (
        SELECT doc_id,
               list_transform(shs,
                   s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % 2147483647) AS hvs
        FROM sh WHERE len(shs) > 0),
    fps AS (
        SELECT doc_id,
               unnest(CASE WHEN len(hvs) >= 4 THEN
                 list_distinct(list_transform(range(1, len(hvs) - 2),
                                              i -> list_min(hvs[i:i+3])))
               ELSE [list_min(hvs)] END) AS fp
        FROM hv),
    keep AS (SELECT fp FROM fps GROUP BY fp HAVING count(*) <= 50),
    pruned AS (SELECT doc_id, fp FROM fps JOIN keep USING (fp)),
    counts AS (SELECT doc_id, count(*)::BIGINT AS n_fp
               FROM pruned GROUP BY doc_id),
    shared AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*)::BIGINT AS shared
        FROM pruned a JOIN pruned b
          ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id HAVING count(*) >= 2)
    SELECT s.id_a, s.id_b, s.shared,
           ROUND(s.shared / LEAST(ca.n_fp, cb.n_fp), 6) AS overlap
    FROM shared s
    JOIN counts ca ON ca.doc_id = s.id_a
    JOIN counts cb ON cb.doc_id = s.id_b
    """,
    doc="MOSS-style near-dup pairs by winnowed fingerprint overlap "
    "(Schleimer '03): positional guarantee — any shared token run longer "
    "than window+shingle yields a shared fingerprint, catching block-"
    "level copying whole-doc MinHash signatures dilute; max_df-pruned "
    "equi-join (ubiquitous fingerprints dropped BEFORE the join, the "
    "hot-bucket discipline), containment-scored (dedup extension)",
)
def q_neardup_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return dd.winnow_overlap_pairs(d, min_shared=2, max_df=50)


@register(
    "neardup_cosine",
    """
    WITH e AS (SELECT vec_id, label,
                      list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           ROUND(list_dot_product(a.v, b.v)
                 / GREATEST(sqrt(list_dot_product(a.v, a.v))
                            * sqrt(list_dot_product(b.v, b.v)), 1e-12), 6) AS cos
    FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v)
                / GREATEST(sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v)), 1e-12), 6) >= 0.3
    """,
    doc="embedding-cosine near-dup pairs, bucket-blocked self-join "
    "(dedup/similarity extension); JVM-side zip_with dot products",
)
def q_neardup_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.neardup_cosine(e, threshold=0.3)


# ===========================================================================
# Multimodal columns (binary payload + typed metadata; mapInPandas kernels)
# ===========================================================================

@register(
    "doc_hashed_features",
    """
    WITH toks AS (
        SELECT doc_id,
               unnest(regexp_extract_all(lower(text), '([a-z0-9]+)', 1)) AS tok
        FROM documents),
    hashed AS (
        SELECT doc_id,
               (('0x' || substr(md5('23:' || tok), 1, 15))::BIGINT % 256)::INT
                 AS bucket,
               CASE WHEN (('0x' || substr(md5('23:' || tok), 1, 15))::BIGINT
                          >> 8) % 2 = 0 THEN 1 ELSE -1 END AS sgn
        FROM toks),
    cells AS (
        SELECT doc_id, bucket, SUM(sgn)::BIGINT AS val
        FROM hashed GROUP BY doc_id, bucket HAVING SUM(sgn) <> 0)
    SELECT doc_id AS id,
           count(*)::INT AS nnz,
           array_to_string(list(bucket ORDER BY bucket), ',') AS indices,
           array_to_string(list(val ORDER BY bucket), ',') AS values
    FROM cells GROUP BY doc_id
    """,
    doc="feature-hashing vectorizer (Weinberger '09 signed hashing trick): "
    "fixed-dimension sparse doc vectors with NO vocabulary pass or fitted "
    "state — unbounded token spaces never need a dictionary rebuild; one "
    "partial-agg shuffle on (doc, bucket), sparse cells emitted in "
    "ascending-bucket order as CSV for cross-engine canonicalization "
    "(text-featurization extension)",
)
def q_doc_hashed_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    out = textops.hashed_features(d, n_features=256, seed=23)
    return out.select(
        "id",
        "nnz",
        F.array_join(F.col("indices").cast("array<string>"), ",").alias(
            "indices"
        ),
        F.array_join(F.col("values").cast("array<string>"), ",").alias(
            "values"
        ),
    )


@register(
    "multimodal_audio_stats",
    """
    WITH a AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 1),
    pos AS (
        SELECT doc_id, i - 1 AS idx,
               ord(substr(text, i::INT, 1)) - 109 AS s
        FROM a, UNNEST(range(1, LEAST(length(text), 256) + 1)) AS t(i)),
    win AS (SELECT doc_id, idx, s, (idx // 32)::INT AS w FROM pos),
    sgn AS (
        SELECT doc_id, idx, w,
               CASE WHEN s >= 0 THEN 1 ELSE -1 END AS g
        FROM win),
    flips AS (
        SELECT doc_id, w, idx,
               CASE WHEN g <> LAG(g) OVER (PARTITION BY doc_id
                                           ORDER BY idx)
                    THEN 1 ELSE 0 END AS flip
        FROM sgn),
    agg AS (
        SELECT win.doc_id, win.w,
               count(*)::INT AS n_samples,
               round(sqrt(SUM(win.s * win.s)::DOUBLE / count(*)), 6) AS rms
        FROM win GROUP BY win.doc_id, win.w),
    crossings AS (
        SELECT doc_id, w, SUM(flip)::INT AS zero_crossings
        FROM flips GROUP BY doc_id, w)
    SELECT a.doc_id AS media_id, a.w AS window_no, a.n_samples, a.rms,
           COALESCE(c.zero_crossings, 0)::INT AS zero_crossings
    FROM agg a LEFT JOIN crossings c
      ON c.doc_id = a.doc_id AND c.w = a.w
    """,
    doc="multimodal AUDIO path: windowed waveform stats (RMS energy + "
    "zero-crossing count per 32-sample window, first 8 windows — the "
    "frame_sample bounded-probe discipline) over the decoded signal, "
    "fused synthesize→stats so payload bytes never cross Arrow; oracle "
    "re-derives the signal as ord(char)−center and replays the windowing "
    "— byte-vs-codepoint equivalence holds because the fixture text is "
    "ASCII (multibyte payloads are real bytes engine-side, the honest "
    "behavior) (multimodal extension)",
)
def q_multimodal_audio_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators import multimodal as mm

    d = _t(spark, sf_dir, "documents")
    return mm.synthesize_and_audio_stats(d)


@register(
    "multimodal_features",
    """
    SELECT doc_id AS media_id,
           (['image','audio','video'])[(doc_id % 3)::INT + 1] AS kind,
           (16 + doc_id % 64)::INT AS width,
           (16 + (doc_id * 7) % 64)::INT AS height,
           (length(text) + 9)::INT AS n_bytes,
           length(regexp_replace(text, '[^`a-o]', '', 'g'))::BIGINT AS bin6_count
    FROM documents
    """,
    doc="multimodal extension: synthesize binary media, Arrow-batched "
    "mapInPandas feature extraction; oracle re-derives metadata + the "
    "byte-histogram bin arithmetically (payload body = utf8 text)",
)
def q_multimodal_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators import multimodal as mm

    d = _t(spark, sf_dir, "documents")
    # fused synth→decode→feature kernel: payload never crosses Arrow;
    # un-fused composition (synthesize_media → extract_features) is the
    # tested modular path, this is the production-shaped one
    feats = mm.synthesize_and_extract(d)
    # features are L1-normalized float32; multiply back by body length to
    # recover the exact integer bin count (error << 0.5 at these sizes)
    return feats.select(
        "media_id",
        "kind",
        "width",
        "height",
        "n_bytes",
        F.round(
            F.element_at("features", 7).cast("double")
            * (F.col("n_bytes") - F.lit(9))
        )
        .cast("bigint")
        .alias("bin6_count"),
    )


@register(
    "multimodal_frames",
    """
    WITH v AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 2),
    fr AS (SELECT doc_id, text,
                  unnest(range(0, least(length(text), 512), 64)) AS off
           FROM v)
    SELECT doc_id AS media_id,
           (off // 64)::INT AS frame_no,
           COALESCE(list_sum(list_transform(
               regexp_extract_all(substr(text, (off + 1)::INT, 64), '(.)', 1, 's'),
               c -> unicode(c))), 0)::BIGINT AS checksum
    FROM fr
    """,
    doc="multimodal extension: video frame sampling (explode-shaped "
    "mapInPandas); oracle chunks the utf8 body with substr + char-code sums",
)
def q_multimodal_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators import multimodal as mm

    d = _t(spark, sf_dir, "documents")
    media = mm.synthesize_media(d)
    return mm.frame_sample(media, every_n_bytes=64, max_frames=8)


@register(
    "multimodal_resize",
    """
    WITH chars AS (
        SELECT doc_id,
               unnest(regexp_extract_all(text, '(.)', 1, 's')) AS ch,
               generate_subscripts(regexp_extract_all(text, '(.)', 1, 's'), 1)
                   AS pos
        FROM documents),
    cellsum AS (
        SELECT doc_id, ((pos - 1) % 12)::INT AS cell,
               SUM(unicode(ch))::BIGINT AS v
        FROM chars GROUP BY doc_id, cell),
    spine AS (
        SELECT d.doc_id, r.cell
        FROM (SELECT DISTINCT doc_id FROM documents) d,
             (SELECT unnest(range(0, 12))::INT AS cell) r)
    SELECT s.doc_id AS media_id, 4 AS out_w, 3 AS out_h,
           string_agg(COALESCE(c.v, 0)::VARCHAR, ',' ORDER BY s.cell)
               AS thumb
    FROM spine s LEFT JOIN cellsum c
      ON s.doc_id = c.doc_id AND s.cell = c.cell
    GROUP BY s.doc_id
    """,
    doc="multimodal extension: thumbnail resize — Arrow-batched decode + "
    "per-cell modular byte fold into a fixed 4x3 grid (the strided-mean "
    "downsample shape; real codec gated behind the decode stub). thumb "
    "emitted as a CSV string so external canonicalizers can sort it; "
    "oracle re-derives cell sums from utf8 char codes with a full cell "
    "spine for short bodies",
)
def q_multimodal_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators import multimodal as mm

    d = _t(spark, sf_dir, "documents")
    # fused single Arrow pass — blobs never cross the JVM boundary
    thumbs = mm.synthesize_and_resize(d, tw=4, th=3)
    return thumbs.select(
        "media_id",
        F.col("out_w").cast("int").alias("out_w"),
        F.col("out_h").cast("int").alias("out_h"),
        F.array_join(F.col("thumb").cast("array<string>"), ",").alias(
            "thumb"
        ),
    )


@register(
    "multimodal_phash_pairs",
    """
    WITH imgs AS (SELECT doc_id, text FROM documents WHERE doc_id % 3 = 0),
    pos AS (
        SELECT doc_id, ((i - 1) % 61)::INT AS cell,
               ord(substr(text, i::INT, 1)) AS byte
        FROM imgs, UNNEST(range(1, length(text) + 1)) AS t(i)),
    sums AS (SELECT doc_id, cell, SUM(byte)::BIGINT AS s
             FROM pos GROUP BY doc_id, cell),
    grid AS (SELECT doc_id, c::INT AS cell
             FROM imgs, UNNEST(range(0, 61)) AS g(c)),
    cells AS (SELECT g.doc_id, g.cell, COALESCE(s.s, 0) AS s
              FROM grid g LEFT JOIN sums s
                ON s.doc_id = g.doc_id AND s.cell = g.cell),
    bits AS (
        SELECT a.doc_id,
               CASE WHEN a.s > b.s THEN (1::BIGINT << a.cell)
                    ELSE 0 END AS bv
        FROM cells a JOIN cells b
          ON b.doc_id = a.doc_id AND b.cell = a.cell + 1
        WHERE a.cell < 60),
    ph AS (SELECT doc_id, SUM(bv)::BIGINT AS h FROM bits GROUP BY doc_id)
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           bit_count(xor(a.h, b.h))::INT AS hamming
    FROM ph a JOIN ph b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.h, b.h)) <= 3
    """,
    doc="image near-duplicate pairs by perceptual hash (dHash): fused "
    "decode→61-cell thumbnail Arrow kernel, pure-Column 60-bit gradient "
    "fingerprint, banded LSH candidate join (max_hamming+1 bands ⇒ EXACT "
    "pigeonhole recall, not probabilistic), bit_count(xor) Hamming "
    "verify. The corpus-sized cost is one narrow fingerprint shuffle — "
    "fingerprints are computed once and grouped by band, never "
    "self-joined. Oracle replays cell sums from utf8 char codes (ASCII "
    "fixture, like the audio oracle) and verifies the LSH guarantee by "
    "brute-force all-pairs comparison (multimodal dedup extension)",
)
def q_multimodal_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators import multimodal as mm

    d = _t(spark, sf_dir, "documents")
    imgs = d.where(F.col("doc_id") % 3 == 0)  # kind == image
    return mm.phash_pairs(imgs, max_hamming=3)


@register(
    "map_merge_simplify",
    f"""
    WITH {EVENTS_MICRO_CTE},
    a AS (SELECT user_id, event_type, COUNT(*)::BIGINT AS n
          FROM ev WHERE value > 100 GROUP BY user_id, event_type),
    b AS (SELECT user_id, event_type, COUNT(*)::BIGINT AS n
          FROM ev WHERE value <= 100 GROUP BY user_id, event_type),
    merged AS (
        SELECT COALESCE(a.user_id, b.user_id) AS user_id,
               COALESCE(a.event_type, b.event_type) AS event_type,
               COALESCE(a.n, 0) + COALESCE(b.n, 0) AS n
        FROM a FULL OUTER JOIN b
          ON a.user_id = b.user_id AND a.event_type = b.event_type)
    SELECT user_id, event_type, n FROM merged WHERE n > 0
    """,
    doc="map_zip_with coalesce-sum merge + map_filter zero-drop "
    "(simplify_counts) — stats/functions/package.scala:12-36, "
    "merge_counts/sum_counts semantics (§2.8 map family, A1 mechanics); "
    "Spark side builds real MapType columns, merges, simplifies, explodes",
)
def q_map_merge_simplify(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")

    def counts_map(side: DataFrame) -> DataFrame:
        return (
            side.groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n"))
            .groupBy("user_id")
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("event_type", "n"))
                ).alias("m")
            )
        )

    hi = counts_map(ev.where(F.col("value") > 100))
    lo = counts_map(ev.where(F.col("value") <= 100))
    merged = hi.withColumnRenamed("m", "ma").join(
        lo.withColumnRenamed("m", "mb"), "user_id", "full_outer"
    )
    empty = F.create_map().cast("map<string,bigint>")
    zipped = F.map_zip_with(
        F.coalesce("ma", empty),
        F.coalesce("mb", empty),
        lambda k, a, b: F.coalesce(a, F.lit(0)) + F.coalesce(b, F.lit(0)),
    )
    simplified = F.map_filter(zipped, lambda k, v: v > 0)
    return merged.select(
        "user_id", F.explode(simplified).alias("event_type", "n")
    )


@register(
    "supplier_region_rollup",
    """
    SELECT r.r_name,
           COUNT(*)::BIGINT AS n_suppliers,
           ROUND(SUM(s.s_acctbal), 2) AS acctbal_sum,
           ROUND(MAX(s.s_acctbal), 2) AS acctbal_max
    FROM supplier s
    JOIN nation n ON s.s_nationkey = n.n_nationkey
    JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
    doc="two-hop broadcast dim chain (supplier→nation→region) + rollup "
    "(§2.3 J4 left-chain family; completes driver-table coverage)",
)
def q_supplier_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    return (
        s.join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("acctbal_sum"),
            F.round(F.max("s_acctbal"), 2).alias("acctbal_max"),
        )
    )


@register(
    "kv_map_assembly",
    f"""
    WITH {EVENTS_MICRO_CTE},
    per AS (
        SELECT user_id, event_type, COUNT(*)::BIGINT AS n
        FROM ev GROUP BY user_id, event_type)
    SELECT user_id, event_type, n FROM per
    """,
    doc="collect_list k/v pairs zipped into a map, then exploded back — "
    "ChangesetMetadataCreator.scala:127-133,200-208 (A4); the round-trip "
    "through MapType is the Spark-side op under test",
)
def q_kv_map_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id", "event_type").agg(F.count(F.lit(1)).alias("n"))
    zipped = per.groupBy("user_id").agg(
        F.map_from_arrays(
            F.collect_list("event_type"), F.collect_list("n")
        ).alias("m")
    )
    return zipped.select(
        "user_id", F.explode("m").alias("event_type", "n")
    )


@register(
    "comments_assembly",
    f"""
    WITH {EVENTS_MICRO_CTE}
    SELECT user_id,
           COUNT(*)::BIGINT AS n_comments,
           ARG_MIN(event_type, strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                               || '|' || lpad(event_id::VARCHAR, 12, '0'))
             AS first_type,
           ARG_MAX(event_type, strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
                               || '|' || lpad(event_id::VARCHAR, 12, '0'))
             AS last_type
    FROM ev GROUP BY user_id
    """,
    doc="collect_list(struct(...)) assembly + ordered access — comments "
    "ChangesetMetadataCreator.scala:146-153,216-231 (A5); array_sort over "
    "struct rows is the op under test",
)
def q_comments_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    assembled = ev.groupBy("user_id").agg(
        F.array_sort(
            F.collect_list(F.struct("ts", "event_id", "event_type"))
        ).alias("comments")
    )
    first = F.get(F.col("comments"), F.lit(0))
    last = F.get(F.col("comments"), F.size("comments") - 1)
    return assembled.select(
        "user_id",
        F.size("comments").cast("bigint").alias("n_comments"),
        first["event_type"].alias("first_type"),
        last["event_type"].alias("last_type"),
    )


@register(
    "right_outer_parts",
    """
    SELECT p.p_brand,
           COUNT(l.l_orderkey)::BIGINT AS n_lines,
           SUM(CASE WHEN l.l_orderkey IS NULL THEN 1 ELSE 0 END)::BIGINT
             AS n_unreferenced
    FROM lineitem l RIGHT OUTER JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    doc="right-outer join keeping all right-side rows — "
    "FacetedEditHistogramTileCreator.scala:97-108 (J7)",
)
def q_right_outer_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    return (
        li.join(p, li.l_partkey == p.p_partkey, "right_outer")
        .groupBy("p_brand")
        .agg(
            F.count("l_orderkey").alias("n_lines"),
            F.sum(F.col("l_orderkey").isNull().cast("int"))
            .cast("bigint")
            .alias("n_unreferenced"),
        )
    )


# ===========================================================================
# Building matching (§2.12) on synthetic rectangles derived from events
# ===========================================================================

# dataset A: one axis-aligned rect per event; dataset B: even ids slightly
# shifted (matches), odd ids displaced far away (distractors)
_BM_A_SQL = """
        SELECT event_id AS id,
               (event_id % 90000) * 0.002                 AS x0,
               ((event_id * 13) % 45000) * 0.002           AS y0,
               ((event_id % 13) + 7) * 0.00037           AS w,
               ((event_id % 11) + 5) * 0.00041           AS h
        FROM events
"""
_BM_B_SQL = """
        SELECT event_id AS id,
               (event_id % 90000) * 0.002
                 + CASE WHEN event_id % 2 = 0
                        THEN ((event_id % 7) - 3) * 0.000411 ELSE 50.0 END AS x0,
               ((event_id * 13) % 45000) * 0.002
                 + CASE WHEN event_id % 2 = 0
                        THEN ((event_id % 5) - 2) * 0.000307 ELSE 20.0 END AS y0,
               ((event_id % 13) + 7) * 0.00037           AS w,
               ((event_id % 11) + 5) * 0.00041           AS h
        FROM events
"""


def _bm_rects(spark: SparkSession, sf_dir: str, side: str) -> DataFrame:
    from osmesa_spark.util import ensure_parallelism

    # Spread the BARE id column, then synthesize: the vertex arrays are
    # pure functions of event_id, so building them below the spread
    # exchange would (a) run the array-of-struct synthesis in the scan's
    # split count — ONE serial task at fixture scale (r11 stage profile:
    # 0.7-0.9 s single-task map stages per side) — and (b) shuffle the
    # synthesized payload (4.4 MB) instead of the 8-byte ids (guide §2.3:
    # shuffle keys, not payloads). candidate_pairs' own guard then no-ops.
    ev = ensure_parallelism(_t(spark, sf_dir, "events").select("event_id"),
                            "event_id")
    x0 = (F.col("event_id") % 90000) * 0.002
    y0 = ((F.col("event_id") * 13) % 45000) * 0.002
    if side in ("ia", "it"):
        # ISOLATED twin layout (building_match end-to-end fixture): an
        # injective 0.05°-spaced grid, so distinct ids sit ≥ 0.047 apart
        # (> the 0.01 centroid gate) and the ONLY candidate pairs the cell
        # join can emit are the (i, i) twins — whose DLT homography is
        # analytically the pure translation dx = (id % 4) * 2e-4. That
        # makes the FULL match pipeline (candidates → SVD kernel →
        # threshold) closed-form, hence hash-oracle-checkable.
        x0 = (F.col("event_id") % 300) * 0.05
        y0 = F.floor(F.col("event_id") / 300) * 0.05
        if side == "it":
            x0 = x0 + (F.col("event_id") % 4) * 0.0002
    elif side == "t":
        # translated twin (building_match_blend fixture, see _BM_T_SQL)
        x0 = x0 + (F.col("event_id") % 4) * 0.0002
    elif side == "b":
        match = F.col("event_id") % 2 == 0
        # shift multipliers carry prime factors (411=3*137, 307 prime) that
        # w/h denominators (37, 41) never cancel, so overlap ratios cannot
        # terminate at the rounding depth -> no round-half ties vs the oracle
        x0 = x0 + F.when(match, ((F.col("event_id") % 7) - 3) * 0.000411).otherwise(50.0)
        y0 = y0 + F.when(match, ((F.col("event_id") % 5) - 2) * 0.000307).otherwise(20.0)
    w = ((F.col("event_id") % 13) + 7) * 0.00037
    h = ((F.col("event_id") % 11) + 5) * 0.00041

    def pt(x, y):
        return F.struct(x.alias("x"), y.alias("y"))

    return ev.select(
        F.col("event_id").alias("id"),
        F.array(
            pt(x0, y0), pt(x0 + w, y0), pt(x0 + w, y0 + h), pt(x0, y0 + h)
        ).alias("vertices"),
    )


# DuckDB mirror of candidate generation (4-corner cell dedupe at zoom 14,
# centroid gate) + analytic axis-aligned rect intersection ratios.
_BM_CAND_SQL = f"""
    ra AS ({_BM_A_SQL}),
    rb AS ({_BM_B_SQL}),
    ca AS (
        SELECT id, x0, y0, w, h, x0 + w/2 AS cx, y0 + h/2 AS cy,
               unnest(list_distinct([
                 floor((x0 + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + 90.0) / 180.0 * 16384)::BIGINT,
                 floor((x0 + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + h + 90.0) / 180.0 * 16384)::BIGINT,
                 floor((x0 + w + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + 90.0) / 180.0 * 16384)::BIGINT,
                 floor((x0 + w + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + h + 90.0) / 180.0 * 16384)::BIGINT])) AS cell
        FROM ra),
    cb AS (
        SELECT id, x0, y0, w, h, x0 + w/2 AS cx, y0 + h/2 AS cy,
               unnest(list_distinct([
                 floor((x0 + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + 90.0) / 180.0 * 16384)::BIGINT,
                 floor((x0 + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + h + 90.0) / 180.0 * 16384)::BIGINT,
                 floor((x0 + w + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + 90.0) / 180.0 * 16384)::BIGINT,
                 floor((x0 + w + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + h + 90.0) / 180.0 * 16384)::BIGINT])) AS cell
        FROM rb),
    cand AS (
        SELECT DISTINCT ca.id AS id_a, cb.id AS id_b,
               ca.x0 AS ax0, ca.y0 AS ay0, ca.w AS aw, ca.h AS ah,
               cb.x0 AS bx0, cb.y0 AS by0, cb.w AS bw, cb.h AS bh
        FROM ca JOIN cb ON ca.cell = cb.cell
        WHERE (ca.cx - cb.cx) * (ca.cx - cb.cx)
              + (ca.cy - cb.cy) * (ca.cy - cb.cy) < 0.0001)
"""


@register(
    "bm_quadtree_partition",
    f"""
    WITH
    ra AS ({_BM_A_SQL}),
    l0init AS (
        SELECT id,
               (x0 + 180.0) / 360.0 AS ax0,
               (y0 + 90.0) / 180.0 AS ay0,
               (x0 + w + 180.0) / 360.0 AS ax1,
               (y0 + h + 90.0) / 180.0 AS ay1,
               0::BIGINT AS addr, FALSE AS done
        FROM ra),
    b0 AS (
        SELECT id, ax0, ay0, ax1, ay1, addr, done,
               CASE WHEN done THEN -1
                    WHEN ((ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT))
                         = ((ax1 > 0.5)::INT + 2 * ((ay1 > 0.5)::INT))
                    THEN (ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT)
                    ELSE -1 END AS b
        FROM l0init),
    l0 AS (
        SELECT id,
               CASE WHEN b >= 0 THEN 2 * (ax0 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax0 END AS ax0,
               CASE WHEN b >= 0 THEN 2 * (ay0 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay0 END AS ay0,
               CASE WHEN b >= 0 THEN 2 * (ax1 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax1 END AS ax1,
               CASE WHEN b >= 0 THEN 2 * (ay1 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay1 END AS ay1,
               CASE WHEN b >= 0 THEN addr * 4 + b ELSE addr END AS addr,
               (done OR b < 0) AS done
        FROM b0),
    b1 AS (
        SELECT id, ax0, ay0, ax1, ay1, addr, done,
               CASE WHEN done THEN -1
                    WHEN ((ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT))
                         = ((ax1 > 0.5)::INT + 2 * ((ay1 > 0.5)::INT))
                    THEN (ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT)
                    ELSE -1 END AS b
        FROM l0),
    l1 AS (
        SELECT id,
               CASE WHEN b >= 0 THEN 2 * (ax0 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax0 END AS ax0,
               CASE WHEN b >= 0 THEN 2 * (ay0 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay0 END AS ay0,
               CASE WHEN b >= 0 THEN 2 * (ax1 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax1 END AS ax1,
               CASE WHEN b >= 0 THEN 2 * (ay1 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay1 END AS ay1,
               CASE WHEN b >= 0 THEN addr * 4 + b ELSE addr END AS addr,
               (done OR b < 0) AS done
        FROM b1),
    b2 AS (
        SELECT id, ax0, ay0, ax1, ay1, addr, done,
               CASE WHEN done THEN -1
                    WHEN ((ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT))
                         = ((ax1 > 0.5)::INT + 2 * ((ay1 > 0.5)::INT))
                    THEN (ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT)
                    ELSE -1 END AS b
        FROM l1),
    l2 AS (
        SELECT id,
               CASE WHEN b >= 0 THEN 2 * (ax0 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax0 END AS ax0,
               CASE WHEN b >= 0 THEN 2 * (ay0 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay0 END AS ay0,
               CASE WHEN b >= 0 THEN 2 * (ax1 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax1 END AS ax1,
               CASE WHEN b >= 0 THEN 2 * (ay1 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay1 END AS ay1,
               CASE WHEN b >= 0 THEN addr * 4 + b ELSE addr END AS addr,
               (done OR b < 0) AS done
        FROM b2),
    b3 AS (
        SELECT id, ax0, ay0, ax1, ay1, addr, done,
               CASE WHEN done THEN -1
                    WHEN ((ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT))
                         = ((ax1 > 0.5)::INT + 2 * ((ay1 > 0.5)::INT))
                    THEN (ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT)
                    ELSE -1 END AS b
        FROM l2),
    l3 AS (
        SELECT id,
               CASE WHEN b >= 0 THEN 2 * (ax0 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax0 END AS ax0,
               CASE WHEN b >= 0 THEN 2 * (ay0 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay0 END AS ay0,
               CASE WHEN b >= 0 THEN 2 * (ax1 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax1 END AS ax1,
               CASE WHEN b >= 0 THEN 2 * (ay1 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay1 END AS ay1,
               CASE WHEN b >= 0 THEN addr * 4 + b ELSE addr END AS addr,
               (done OR b < 0) AS done
        FROM b3),
    b4 AS (
        SELECT id, ax0, ay0, ax1, ay1, addr, done,
               CASE WHEN done THEN -1
                    WHEN ((ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT))
                         = ((ax1 > 0.5)::INT + 2 * ((ay1 > 0.5)::INT))
                    THEN (ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT)
                    ELSE -1 END AS b
        FROM l3),
    l4 AS (
        SELECT id,
               CASE WHEN b >= 0 THEN 2 * (ax0 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax0 END AS ax0,
               CASE WHEN b >= 0 THEN 2 * (ay0 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay0 END AS ay0,
               CASE WHEN b >= 0 THEN 2 * (ax1 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax1 END AS ax1,
               CASE WHEN b >= 0 THEN 2 * (ay1 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay1 END AS ay1,
               CASE WHEN b >= 0 THEN addr * 4 + b ELSE addr END AS addr,
               (done OR b < 0) AS done
        FROM b4),
    b5 AS (
        SELECT id, ax0, ay0, ax1, ay1, addr, done,
               CASE WHEN done THEN -1
                    WHEN ((ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT))
                         = ((ax1 > 0.5)::INT + 2 * ((ay1 > 0.5)::INT))
                    THEN (ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT)
                    ELSE -1 END AS b
        FROM l4),
    l5 AS (
        SELECT id,
               CASE WHEN b >= 0 THEN 2 * (ax0 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax0 END AS ax0,
               CASE WHEN b >= 0 THEN 2 * (ay0 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay0 END AS ay0,
               CASE WHEN b >= 0 THEN 2 * (ax1 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax1 END AS ax1,
               CASE WHEN b >= 0 THEN 2 * (ay1 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay1 END AS ay1,
               CASE WHEN b >= 0 THEN addr * 4 + b ELSE addr END AS addr,
               (done OR b < 0) AS done
        FROM b5),
    b6 AS (
        SELECT id, ax0, ay0, ax1, ay1, addr, done,
               CASE WHEN done THEN -1
                    WHEN ((ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT))
                         = ((ax1 > 0.5)::INT + 2 * ((ay1 > 0.5)::INT))
                    THEN (ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT)
                    ELSE -1 END AS b
        FROM l5),
    l6 AS (
        SELECT id,
               CASE WHEN b >= 0 THEN 2 * (ax0 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax0 END AS ax0,
               CASE WHEN b >= 0 THEN 2 * (ay0 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay0 END AS ay0,
               CASE WHEN b >= 0 THEN 2 * (ax1 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax1 END AS ax1,
               CASE WHEN b >= 0 THEN 2 * (ay1 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay1 END AS ay1,
               CASE WHEN b >= 0 THEN addr * 4 + b ELSE addr END AS addr,
               (done OR b < 0) AS done
        FROM b6),
    b7 AS (
        SELECT id, ax0, ay0, ax1, ay1, addr, done,
               CASE WHEN done THEN -1
                    WHEN ((ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT))
                         = ((ax1 > 0.5)::INT + 2 * ((ay1 > 0.5)::INT))
                    THEN (ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT)
                    ELSE -1 END AS b
        FROM l6),
    l7 AS (
        SELECT id,
               CASE WHEN b >= 0 THEN 2 * (ax0 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax0 END AS ax0,
               CASE WHEN b >= 0 THEN 2 * (ay0 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay0 END AS ay0,
               CASE WHEN b >= 0 THEN 2 * (ax1 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax1 END AS ax1,
               CASE WHEN b >= 0 THEN 2 * (ay1 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay1 END AS ay1,
               CASE WHEN b >= 0 THEN addr * 4 + b ELSE addr END AS addr,
               (done OR b < 0) AS done
        FROM b7),
    b8 AS (
        SELECT id, ax0, ay0, ax1, ay1, addr, done,
               CASE WHEN done THEN -1
                    WHEN ((ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT))
                         = ((ax1 > 0.5)::INT + 2 * ((ay1 > 0.5)::INT))
                    THEN (ax0 > 0.5)::INT + 2 * ((ay0 > 0.5)::INT)
                    ELSE -1 END AS b
        FROM l7),
    l8 AS (
        SELECT id,
               CASE WHEN b >= 0 THEN 2 * (ax0 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax0 END AS ax0,
               CASE WHEN b >= 0 THEN 2 * (ay0 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay0 END AS ay0,
               CASE WHEN b >= 0 THEN 2 * (ax1 - CASE WHEN b % 2 = 1
                    THEN 0.5 ELSE 0.0 END) ELSE ax1 END AS ax1,
               CASE WHEN b >= 0 THEN 2 * (ay1 - CASE WHEN b >= 2
                    THEN 0.5 ELSE 0.0 END) ELSE ay1 END AS ay1,
               CASE WHEN b >= 0 THEN addr * 4 + b ELSE addr END AS addr,
               (done OR b < 0) AS done
        FROM b8)
    SELECT id, addr AS qt_address,
           (addr % 4099)::INT AS qt_partition
    FROM l8
    """,
    doc="QuadTreePartitioner parity (bm/QuadTreePartitioner.scala:11-110): "
    "2-bit-per-division quadtree address of each building's normalized "
    "bbox (strict >0.5 quadrant test, stop at corner disagreement or "
    "division 8) + hash partition id mod 4099 — the reference's spatial "
    "co-location contract as a pure COLUMN the planner can repartition/"
    "groupBy on, instead of an RDD Partitioner subclass. Chained "
    "per-division projections keep the expression tree linear; oracle "
    "replays the identical recentering recurrence as a CTE chain (bm "
    "extension)",
)
def q_bm_quadtree_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators import buildings as bm

    a = bm.with_bbox(_bm_rects(spark, sf_dir, "a"))
    return bm.with_quadtree_address(
        a, F.col("minx"), F.col("miny"), F.col("maxx"), F.col("maxy")
    ).select("id", "qt_address", "qt_partition")


@register(
    "building_match_volume",
    f"""
    WITH {_BM_CAND_SQL}
    SELECT id_a, id_b,
           ROUND(GREATEST(LEAST(ax0 + aw, bx0 + bw) - GREATEST(ax0, bx0), 0)
                 * GREATEST(LEAST(ay0 + ah, by0 + bh) - GREATEST(ay0, by0), 0)
                 * 1e12)::BIGINT AS inter_e12,
           ROUND(aw * ah * 1e12)::BIGINT AS area_a_e12,
           ROUND(bw * bh * 1e12)::BIGINT AS area_b_e12
    FROM cand
    """,
    doc="building-match candidates + intersection areas (§2.12, "
    "bm/VolumeMatching.scala:9-24): grid-cell equi-join + numpy "
    "Sutherland-Hodgman clip; the oracle replays candidates and the rect "
    "intersection analytically. Areas ship as exact 1e12-scaled integers — "
    "all synthetic coords are multiples of 1e-6, so the comparison has no "
    "float-rounding ties (ratios would hit exact m/2^k half-way points).",
)
def q_building_match_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators import buildings as bm

    a = _bm_rects(spark, sf_dir, "a")
    b = _bm_rects(spark, sf_dir, "b")
    pairs = bm.candidate_pairs(a, b)
    return bm.score_pairs(pairs, with_vertex=False).select(
        "id_a",
        "id_b",
        F.round(F.col("inter_area") * 1e12).cast("bigint").alias("inter_e12"),
        F.round(F.col("area_a") * 1e12).cast("bigint").alias("area_a_e12"),
        F.round(F.col("area_b") * 1e12).cast("bigint").alias("area_b_e12"),
    )


# Support-matrix oracle: candidate pairs with their CANONICAL cell + exact
# centroid mirror ((x0 + (x0 + w))/2 replays the engine's (minx+maxx)/2
# float ops bit-for-bit), anchors by an exact 1e12-integer area criterion
# (no float-threshold boundary), then the reference's dot·dist support sum
# normalized per cell. Parameterized on the B-side rect SQL so the blend
# query can replay the same CTE chain over the translated-twin fixture.
def _bm_support_cte(b_sql: str) -> str:
    return f"""
    ra AS ({_BM_A_SQL}),
    rb AS ({b_sql}),
    ka AS (
        SELECT id, x0, y0, w, h,
               (x0 + (x0 + w)) / 2 AS cx, (y0 + (y0 + h)) / 2 AS cy,
               list_distinct([
                 floor((x0 + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + 90.0) / 180.0 * 16384)::BIGINT,
                 floor((x0 + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + h + 90.0) / 180.0 * 16384)::BIGINT,
                 floor((x0 + w + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + 90.0) / 180.0 * 16384)::BIGINT,
                 floor((x0 + w + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + h + 90.0) / 180.0 * 16384)::BIGINT]) AS cells
        FROM ra),
    kb AS (
        SELECT id, x0, y0, w, h,
               (x0 + (x0 + w)) / 2 AS cx, (y0 + (y0 + h)) / 2 AS cy,
               list_distinct([
                 floor((x0 + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + 90.0) / 180.0 * 16384)::BIGINT,
                 floor((x0 + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + h + 90.0) / 180.0 * 16384)::BIGINT,
                 floor((x0 + w + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + 90.0) / 180.0 * 16384)::BIGINT,
                 floor((x0 + w + 180.0) / 360.0 * 16384)::BIGINT * 16384
                   + floor((y0 + h + 90.0) / 180.0 * 16384)::BIGINT]) AS cells
        FROM rb),
    ka2 AS (SELECT *, unnest(cells) AS cell FROM ka),
    kb2 AS (SELECT *, unnest(cells) AS cell FROM kb),
    candc AS (
        SELECT ka2.id AS id_a, kb2.id AS id_b, ka2.cell AS cell,
               ka2.cx AS cxa, ka2.cy AS cya, kb2.cx AS cxb, kb2.cy AS cyb,
               GREATEST(LEAST(ka2.x0 + ka2.w, kb2.x0 + kb2.w)
                        - GREATEST(ka2.x0, kb2.x0), 0)
               * GREATEST(LEAST(ka2.y0 + ka2.h, kb2.y0 + kb2.h)
                          - GREATEST(ka2.y0, kb2.y0), 0) AS inter,
               ka2.w * ka2.h AS area_a, kb2.w * kb2.h AS area_b
        FROM ka2 JOIN kb2 ON ka2.cell = kb2.cell
        WHERE (ka2.cx - kb2.cx) * (ka2.cx - kb2.cx)
              + (ka2.cy - kb2.cy) * (ka2.cy - kb2.cy) < 0.0001
          AND ka2.cell = list_aggregate(
                list_intersect(ka2.cells, kb2.cells), 'min')),
    anchors AS (
        SELECT cell, (cxa + cxb) / 2.0 AS kx, (cya + cyb) / 2.0 AS ky
        FROM candc
        WHERE ROUND(inter * 1e12)::BIGINT * 10
                  >= 9 * ROUND(area_a * 1e12)::BIGINT
          AND ROUND(inter * 1e12)::BIGINT * 10
                  >= 9 * ROUND(area_b * 1e12)::BIGINT),
    q AS (
        SELECT c.cell, c.id_a, c.id_b,
               ANY_VALUE(GREATEST(c.inter / c.area_a, c.inter / c.area_b))
                   AS p,
               SUM(CASE WHEN a.kx IS NOT NULL THEN
                   (((c.cxa - a.kx) * (c.cxb - a.kx)
                     + (c.cya - a.ky) * (c.cyb - a.ky))
                    / GREATEST(sqrt((c.cxa - a.kx) * (c.cxa - a.kx)
                                    + (c.cya - a.ky) * (c.cya - a.ky))
                               * sqrt((c.cxb - a.kx) * (c.cxb - a.kx)
                                      + (c.cyb - a.ky) * (c.cyb - a.ky)),
                               1e-12) + 1.0) / 2.0
                   * LEAST(
                       sqrt((c.cxa - a.kx) * (c.cxa - a.kx)
                            + (c.cya - a.ky) * (c.cya - a.ky))
                       / GREATEST(sqrt((c.cxb - a.kx) * (c.cxb - a.kx)
                                       + (c.cyb - a.ky) * (c.cyb - a.ky)),
                                  1e-12),
                       sqrt((c.cxb - a.kx) * (c.cxb - a.kx)
                            + (c.cyb - a.ky) * (c.cyb - a.ky))
                       / GREATEST(sqrt((c.cxa - a.kx) * (c.cxa - a.kx)
                                       + (c.cya - a.ky) * (c.cya - a.ky)),
                                  1e-12))
                   ELSE 0 END) AS q_raw
        FROM candc c LEFT JOIN anchors a USING (cell)
        GROUP BY c.cell, c.id_a, c.id_b),
    normed AS (
        SELECT id_a, id_b, p,
               CASE WHEN MAX(q_raw) OVER (PARTITION BY cell) > 0
                    THEN q_raw / MAX(q_raw) OVER (PARTITION BY cell)
                    ELSE 0.0 END AS qn
        FROM q)
"""


_BM_SUPPORT_SQL = _bm_support_cte(_BM_B_SQL)

# Translated-twin fixture for the blend oracle: B = A shifted +x by
# dx = (id % 4) * 0.0002 — small enough that greedy vertex pairing is the
# true correspondence, so the DLT homography is analytically the pure
# translation [[1,0,dx],[0,1,0],[0,0,1]] and deviation = dx exactly;
# vertex score = 1/(1+dx), projection score = 1/(1+dx/2) (two corners land
# ON the twin's boundary, two at distance dx → mean dx/2 each side).
_BM_T_SQL = """
        SELECT event_id AS id,
               (event_id % 90000) * 0.002
                 + (event_id % 4) * 0.0002                AS x0,
               ((event_id * 13) % 45000) * 0.002           AS y0,
               ((event_id % 13) + 7) * 0.00037           AS w,
               ((event_id % 11) + 5) * 0.00041           AS h
        FROM events
"""


@register(
    "building_match_support",
    f"""
    WITH {_BM_SUPPORT_SQL}
    SELECT id_a, id_b,
           ROUND(qn, 6) AS support,
           ROUND((p + qn) / 2.0, 6) AS p_sup
    FROM normed
    """,
    doc="neighborhood support matrix (§2.12, BuildingMatching.scala:200-260)"
    ": per candidate pair, Σ over the cell's anchor buildings of "
    "centroid-direction-cosine × distance-ratio, normalized by the cell "
    "max, blended (p + q)/2 — the cross-pair term the reference computes "
    "in a per-partition dense triple loop, here as cell-keyed joins + one "
    "partial-agg shuffle + a co-partitioned window. Anchors chosen by an "
    "exact 1e12-integer area criterion so the threshold can't flip on "
    "cross-engine float noise",
)
def q_building_match_support(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators import buildings as bm

    a = _bm_rects(spark, sf_dir, "a")
    b = _bm_rects(spark, sf_dir, "b")
    scored = bm.score_pairs(bm.candidate_pairs(a, b), with_vertex=False)
    e12 = lambda c: F.round(F.col(c) * 1e12).cast("bigint")  # noqa: E731
    pred = (e12("inter_area") * 10 >= 9 * e12("area_a")) & (
        e12("inter_area") * 10 >= 9 * e12("area_b")
    )
    return bm.with_support(scored, anchor_pred=pred).select(
        "id_a", "id_b", "support", "p_sup"
    )


@register(
    "building_match",
    """
    WITH r AS (
        SELECT event_id AS id, (event_id % 4) * 0.0002 AS dx,
               ((event_id % 13) + 7) * 0.00037 AS w,
               ((event_id % 11) + 5) * 0.00041 AS h
        FROM events)
    SELECT id AS id_a, id AS id_b,
           ROUND((w - dx) * h * 1e12)::BIGINT AS inter_e12,
           ROUND(w * h * 1e12)::BIGINT AS area_a_e12,
           ROUND(w * h * 1e12)::BIGINT AS area_b_e12,
           ROUND(1.0 / (1.0 + dx) * 1e6)::BIGINT AS pv_e6,
           ROUND(1.0 / (1.0 + dx / 2.0) * 1e6)::BIGINT AS pj_e6,
           ROUND(GREATEST((w - dx) / w, 1.0 / (1.0 + dx),
                          1.0 / (1.0 + dx / 2.0)) * 1e6)::BIGINT AS p_e6
    FROM r
    WHERE GREATEST((w - dx) / w, 1.0 / (1.0 + dx),
                   1.0 / (1.0 + dx / 2.0)) > 0.5
    """,
    doc="full end-to-end building match — candidate cell join + Arrow "
    "kernel (convex clip + DLT-homography SVD + vertex projection) + "
    "p-threshold (§2.12, bm/BuildingMatching.scala:160-332, "
    "bm/VertexMatching.scala:10-93, bm/Homography.scala:28-42) — on the "
    "isolated-twin fixture: ids sit on an injective 0.05° grid (min "
    "cross-pair centroid distance 0.047 > the 0.01 gate), so the emitted "
    "pairs are EXACTLY the (i,i) twins, where the homography is the pure "
    "translation dx and every score is closed-form (vol = (w−dx)/w, "
    "vertex = 1/(1+dx), projection = 1/(1+dx/2)). The oracle replays those "
    "closed forms; a fixture or candidate-logic error surfaces as extra/"
    "missing rows. Arbitrary-pair generality stays covered by "
    "tests/test_buildings.py; this row covers the composed operator the "
    "rows-only registration could not",
)
def q_building_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators import buildings as bm

    a = _bm_rects(spark, sf_dir, "ia")
    b = _bm_rects(spark, sf_dir, "it")
    return bm.building_match(a, b, threshold=0.5).select(
        "id_a",
        "id_b",
        F.round(F.col("inter_area") * 1e12).cast("bigint").alias("inter_e12"),
        F.round(F.col("area_a") * 1e12).cast("bigint").alias("area_a_e12"),
        F.round(F.col("area_b") * 1e12).cast("bigint").alias("area_b_e12"),
        F.round(F.col("p_vertex") * 1e6).cast("bigint").alias("pv_e6"),
        F.round(F.col("p_proj") * 1e6).cast("bigint").alias("pj_e6"),
        F.round(F.col("p") * 1e6).cast("bigint").alias("p_e6"),
    )


@register(
    "building_match_blend",
    f"""
    WITH {_bm_support_cte(_BM_T_SQL)},
    dxs AS (SELECT event_id AS id, (event_id % 4) * 0.0002 AS dx
            FROM events)
    SELECT n.id_a AS id,
           ROUND((1.0 / (1.0 + d.dx)) * 1e6)::BIGINT        AS vs_e6,
           ROUND((1.0 / (1.0 + d.dx / 2.0)) * 1e6)::BIGINT  AS pj_e6,
           ROUND(GREATEST(n.p, 1.0 / (1.0 + d.dx),
                          1.0 / (1.0 + d.dx / 2.0)) * 1e6)::BIGINT AS p_e6,
           ROUND(ROUND(n.qn, 6) * 1e6)::BIGINT              AS sup_e6,
           ROUND(ROUND((GREATEST(n.p, 1.0 / (1.0 + d.dx),
                                 1.0 / (1.0 + d.dx / 2.0)) + n.qn) / 2.0,
                       6) * 1e6)::BIGINT                    AS psup_e6
    FROM normed n JOIN dxs d ON n.id_a = d.id
    WHERE n.id_a = n.id_b
    ORDER BY id
    """,
    doc="the FULL BuildingMatching blend — max(p_vol, p_vertex, p_proj) + "
    "support, (p+q)/2 (BuildingMatching.scala:200-260) — made driver-hash-"
    "checkable: B is A translated by dx=(id%4)*2e-4, where the DLT-SVD "
    "homography is analytically the pure translation (deviation = dx, so "
    "vertex score = 1/(1+dx); projection score = 1/(1+dx/2)); the support "
    "CTE replays the same cell/anchor/dot-dist chain as "
    "building_match_support. Requires the Hartley-normalized DLT "
    "(buildings.homography_deviation): the raw solve at lon/lat magnitude "
    "carries ~1e-4 deviation error vs ~2e-9 normalized, and the emitted "
    "1e6-scaled integers need <4e-8. Covers the SVD path the plain "
    "building_match row (rows-only, no_oracle) cannot",
)
def q_building_match_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators import buildings as bm

    a = _bm_rects(spark, sf_dir, "a")
    b = _bm_rects(spark, sf_dir, "t")
    scored = bm.score_pairs(bm.candidate_pairs(a, b), with_vertex=True)
    e12 = lambda c: F.round(F.col(c) * 1e12).cast("bigint")  # noqa: E731
    pred = (e12("inter_area") * 10 >= 9 * e12("area_a")) & (
        e12("inter_area") * 10 >= 9 * e12("area_b")
    )
    sup = bm.with_support(scored, anchor_pred=pred)
    return (
        sup.where(F.col("id_a") == F.col("id_b"))
        .select(
            F.col("id_a").alias("id"),
            F.round(F.col("p_vertex") * 1e6).cast("bigint").alias("vs_e6"),
            F.round(F.col("p_proj") * 1e6).cast("bigint").alias("pj_e6"),
            F.round(F.col("p") * 1e6).cast("bigint").alias("p_e6"),
            F.round(F.col("support") * 1e6).cast("bigint").alias("sup_e6"),
            F.round(F.col("p_sup") * 1e6).cast("bigint").alias("psup_e6"),
        )
        .orderBy("id")
    )


@register(
    "doc_bigram_topk",
    """
    WITH toks AS (
        SELECT regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS w
        FROM documents),
    bg AS (
        SELECT unnest(list_transform(range(1, len(w)),
                                     i -> w[i] || ' ' || w[i+1])) AS bigram
        FROM toks WHERE len(w) >= 2)
    SELECT bigram, COUNT(*)::BIGINT AS freq
    FROM bg GROUP BY bigram ORDER BY freq DESC, bigram LIMIT 25
    """,
    doc="corpus bigram LM counts, top-k: shingle explode + hash agg + "
    "ordered limit. The n-gram statistics primitive under corpus analysis "
    "and KenLM-style filtering; partial aggregation bounds the shuffle by "
    "distinct-bigram count, and TakeOrderedAndProject keeps top-k from "
    "materializing the full sort at 100 TB (training-data extension)",
)
def q_doc_bigram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(F.explode(text_fns.shingles("text", 2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.col("freq").desc(), "bigram")
        .limit(25)
    )


# Decontamination: 5-gram shingle split (eval = 5% of docs by portable
# doc_id hash), train docs scored by distinct-shingle overlap with the eval
# set. Both sides hash grams with the full-width 60-bit dedup.gram_hash60.
_DECON_GRAMS_SQL = """
    grams AS (
        SELECT doc_id,
               ('0x' || substr(md5('17:' || doc_id::VARCHAR), 1, 15))::BIGINT
                   % 20 = 0 AS is_eval,
               unnest(list_distinct(list_transform(range(1, len(w) - 3),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                        w[i+3] || ' ' || w[i+4]))) AS g
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS w
              FROM documents)
        WHERE len(w) >= 5),
    hashed AS (
        SELECT doc_id, is_eval,
               ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
        FROM grams)
"""


@register(
    "decontaminate_overlap",
    f"""
    WITH {_DECON_GRAMS_SQL},
    ev AS (SELECT DISTINCT gh FROM hashed WHERE is_eval),
    tr AS (SELECT doc_id, gh FROM hashed WHERE NOT is_eval)
    SELECT tr.doc_id AS doc_id,
           COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN ev.gh IS NOT NULL THEN 1 ELSE 0 END)::BIGINT
               AS n_contaminated,
           ROUND(SUM(CASE WHEN ev.gh IS NOT NULL THEN 1 ELSE 0 END)::DOUBLE
                 / COUNT(*), 4) AS contamination
    FROM tr LEFT JOIN ev USING (gh)
    GROUP BY tr.doc_id
    HAVING SUM(CASE WHEN ev.gh IS NOT NULL THEN 1 ELSE 0 END) > 0
    ORDER BY contamination DESC, doc_id
    """,
    doc="eval-set decontamination (test-set overlap detection): distinct "
    "5-gram shingle hashes per doc; the distinct eval-gram set (small by "
    "construction — the eval split is ~5% of docs) is BROADCAST and train "
    "grams left-join it, then a doc-keyed agg scores each train doc's "
    "contaminated-gram ratio. No per-gram holder lists are ever built, so "
    "a stop-phrase gram shared by millions of train docs costs one hash "
    "probe per occurrence instead of one giant reducer-side array — the "
    "skew-safe shape at 100 TB. The is_eval split predicate depends only "
    "on doc_id, so Catalyst pushes it below the shingle explode on the "
    "eval branch: only eval docs are shingled twice (training-data "
    "extension)",
)
def q_decontaminate_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.dedup import _portable_hash, gram_hash60

    d = _t(spark, sf_dir, "documents")
    # regex shingling + per-gram md5 is the CPU hot spot: a one-split scan
    # (small table / one row-group) would serialize it on a single core
    d = ensure_parallelism(d.select("doc_id", "text"), "doc_id")
    grams = d.select(
        "doc_id",
        (
            F.pmod(
                _portable_hash(F.col("doc_id").cast("string"), 17), F.lit(20)
            )
            == 0
        ).alias("is_eval"),
        F.explode(F.array_distinct(text_fns.shingles("text", 5))).alias("g"),
    ).select("doc_id", "is_eval", gram_hash60(F.col("g")).alias("gh"))
    ev = (
        grams.where(F.col("is_eval"))
        .select("gh")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    tr = grams.where(~F.col("is_eval")).select("doc_id", "gh")
    return (
        tr.join(F.broadcast(ev), "gh", "left")
        .select("doc_id", F.coalesce("hit", F.lit(0)).alias("hit"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_grams"),
            F.sum("hit").cast("bigint").alias("n_contaminated"),
            F.round(F.sum("hit") / F.count(F.lit(1)), 4).alias(
                "contamination"
            ),
        )
        .where(F.col("n_contaminated") > 0)
        .orderBy(F.col("contamination").desc(), "doc_id")
    )


@register(
    "corpus_ngram_diversity",
    """
    WITH toks AS (
        SELECT lang, doc_id,
               regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS t
        FROM documents),
    g1 AS (SELECT lang, unnest(t) AS g FROM toks),
    g2 AS (SELECT lang, array_to_string(t[i:i+1], ' ') AS g
           FROM toks, UNNEST(range(1, len(t))) AS r(i)
           WHERE len(t) >= 2),
    g3 AS (SELECT lang, array_to_string(t[i:i+2], ' ') AS g
           FROM toks, UNNEST(range(1, len(t) - 1)) AS r(i)
           WHERE len(t) >= 3),
    d1 AS (SELECT lang, ROUND(COUNT(DISTINCT g) / COUNT(*)::DOUBLE, 4)
                    AS distinct_1 FROM g1 GROUP BY lang),
    d2 AS (SELECT lang, ROUND(COUNT(DISTINCT g) / COUNT(*)::DOUBLE, 4)
                    AS distinct_2 FROM g2 GROUP BY lang),
    d3 AS (SELECT lang, ROUND(COUNT(DISTINCT g) / COUNT(*)::DOUBLE, 4)
                    AS distinct_3 FROM g3 GROUP BY lang),
    nd AS (SELECT lang, COUNT(*)::BIGINT AS n_docs
           FROM documents GROUP BY lang)
    SELECT nd.lang, nd.n_docs, d1.distinct_1, d2.distinct_2, d3.distinct_3
    FROM nd JOIN d1 USING (lang) JOIN d2 USING (lang) JOIN d3 USING (lang)
    ORDER BY lang
    """,
    doc="corpus n-gram diversity profile (distinct-n, the Self-BLEU-family "
    "dataset-card metric): unique-to-total ratio of 1/2/3-grams per "
    "language — collapsing distinct-n flags templated or duplicated "
    "generation before training. Each n is one (lang, gram)-keyed "
    "partial-agg shuffle (count-distinct two-stage, no gram lists); the "
    "three aggregate frames are lang-keyed joins of ≤ n_langs rows "
    "(text-analysis extension)",
)
def q_corpus_ngram_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    spread = ensure_parallelism(d.select("lang", "doc_id", "text"), "doc_id")

    def dn(n: int, name: str) -> DataFrame:
        g = spread.select(
            "lang", F.explode(text_fns.shingles("text", n)).alias("g")
        )
        return g.groupBy("lang").agg(
            F.round(
                F.countDistinct("g") / F.count(F.lit(1)).cast("double"), 4
            ).alias(name)
        )

    nd = d.groupBy("lang").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        nd.join(dn(1, "distinct_1"), "lang")
        .join(dn(2, "distinct_2"), "lang")
        .join(dn(3, "distinct_3"), "lang")
        .orderBy("lang")
    )


@register(
    "decontaminate_semantic",
    """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    ev AS (SELECT vec_id, v FROM v WHERE vec_id < 25),
    tr AS (SELECT vec_id, v FROM v WHERE vec_id >= 25),
    scored AS (
        SELECT tr.vec_id,
               ROUND(list_dot_product(tr.v, ev.v)
                     / GREATEST(sqrt(list_dot_product(tr.v, tr.v))
                                * sqrt(list_dot_product(ev.v, ev.v)), 1e-12),
                     6) AS cos
        FROM tr JOIN ev ON TRUE)
    SELECT vec_id,
           COUNT(*)::BIGINT AS n_eval_hits,
           MAX(cos) AS max_eval_cos
    FROM scored WHERE cos >= 0.3
    GROUP BY vec_id
    ORDER BY max_eval_cos DESC, vec_id
    """,
    doc="SEMANTIC eval-set decontamination: the embedding-space "
    "complement of decontaminate_overlap's exact n-gram screen — "
    "paraphrased or reformatted eval leakage that shares no 5-gram still "
    "scores high cosine. The eval vector set (small by construction) "
    "BROADCASTS; every train vector pays |eval| fused JVM dot products in "
    "one narrow pass — no shuffle of the corpus, the same shape a 100 TB "
    "decontamination sweep needs. Emits per-train-doc hit count and max "
    "similarity for the removal decision (training-data extension)",
)
def q_decontaminate_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    ev = e.where(F.col("vec_id") < 25).select(
        F.col("vec_id").alias("eval_id"), F.col("embedding").alias("evec")
    )
    tr = ensure_parallelism(
        e.where(F.col("vec_id") >= 25), "vec_id"
    ).select("vec_id", F.col("embedding").alias("tvec"))
    scored = tr.join(F.broadcast(ev)).select(
        "vec_id",
        F.round(sim.cosine("tvec", "evec"), 6).alias("cos"),
    )
    return (
        scored.where(F.col("cos") >= 0.3)
        .groupBy("vec_id")
        .agg(
            F.count(F.lit(1)).alias("n_eval_hits"),
            F.max("cos").alias("max_eval_cos"),
        )
        .orderBy(F.col("max_eval_cos").desc(), "vec_id")
    )


@register(
    "source_mix_weights",
    """
    WITH per AS (
        SELECT source, COUNT(*)::BIGINT AS n_docs,
               SUM(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT
                   AS n_tokens
        FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_tokens)::DOUBLE AS tot_tokens,
                   COUNT(*)::DOUBLE AS n_sources FROM per)
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens / tot_tokens, 6) AS share,
           ROUND(LEAST((tot_tokens / n_sources) / n_tokens, 4.0), 4)
               AS sample_weight
    FROM per, tot ORDER BY source
    """,
    doc="domain-mixture rebalancing: per-source token counts -> sampling "
    "weight toward a uniform target mix, capped at 4.0 epochs (the "
    "DoReMi/Pile-style static mixing primitive). One shuffle for the "
    "per-source agg; the totals row joins back via broadcast cross join, "
    "never a single-partition window (training-data extension)",
)
def q_source_mix_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    per = d.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(text_fns.token_count("text")).alias("n_tokens"),
    )
    tot = per.agg(
        F.sum("n_tokens").cast("double").alias("tot_tokens"),
        F.count(F.lit(1)).cast("double").alias("n_sources"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "n_tokens",
            F.round(F.col("n_tokens") / F.col("tot_tokens"), 6).alias("share"),
            F.round(
                F.least(
                    (F.col("tot_tokens") / F.col("n_sources"))
                    / F.col("n_tokens"),
                    F.lit(4.0),
                ),
                4,
            ).alias("sample_weight"),
        )
        .orderBy("source")
    )


@register(
    "mixture_temperature",
    """
    WITH per AS (
        SELECT source,
               SUM(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT
                   AS n_tokens
        FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_tokens)::DOUBLE AS tot FROM per),
    sh AS (SELECT source, n_tokens, ROUND(n_tokens / tot, 9) AS share9
           FROM per, tot),
    z AS (SELECT SUM(sqrt(share9)) AS z FROM sh)
    SELECT source, n_tokens,
           ROUND(share9, 6) AS share,
           ROUND(sqrt(share9) / z, 6) AS p_temp,
           ROUND(sqrt(share9) / z / share9, 4) AS boost
    FROM sh, z ORDER BY source
    """,
    doc="temperature-scaled multinomial source mixing (the XLM-R/mBERT "
    "low-resource-upsampling rule, T=2 i.e. p_s ∝ share^0.5): flattens the "
    "source distribution so tail domains are seen more than their token "
    "share without a hard target mix. Exponent 1/2 on purpose — IEEE "
    "sqrt is correctly rounded in BOTH engines, so unlike pow(x, α) the "
    "scaled weights are bit-identical; shares are pre-rounded to 9dp so "
    "the sqrt inputs match too. Plan: one per-source shuffle agg + two "
    "single-row broadcast joins (total, normalizer) — no window, no "
    "second corpus pass (training-data extension)",
)
def q_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # materialize the #sources-row agg once: three consumers below (total,
    # normalizer, final projection) must not re-run the corpus scan.
    # Lazy: the first consumer's broadcast build materializes it — no
    # separate construction-time job.
    per = (
        d.groupBy("source")
        .agg(F.sum(text_fns.token_count("text")).alias("n_tokens"))
        .localCheckpoint(eager=False)
    )
    tot = per.agg(F.sum("n_tokens").cast("double").alias("tot"))
    sh = per.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_tokens",
        F.round(F.col("n_tokens") / F.col("tot"), 9).alias("share9"),
    )
    z = sh.agg(F.sum(F.sqrt("share9")).alias("z"))
    return (
        sh.crossJoin(F.broadcast(z))
        .select(
            "source",
            "n_tokens",
            F.round(F.col("share9"), 6).alias("share"),
            F.round(F.sqrt("share9") / F.col("z"), 6).alias("p_temp"),
            F.round(
                F.sqrt("share9") / F.col("z") / F.col("share9"), 4
            ).alias("boost"),
        )
        .orderBy("source")
    )


@register(
    "split_contamination_report",
    f"""
    WITH RECURSIVE {_MINHASH_CTE.format(hash_exprs=_minhash_sql_exprs(16))},
    banded AS ({_band_bucket_sql(4, 4)}),
    pairs AS (
        SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
        FROM banded a JOIN banded b
          ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id),
    edges AS (SELECT id_a AS s, id_b AS d FROM pairs
              UNION ALL
              SELECT id_b AS s, id_a AS d FROM pairs),
    reach(node, lab) AS (
        SELECT s, s FROM edges
        UNION
        SELECT e.s, r.lab FROM edges e JOIN reach r ON e.d = r.node),
    comp AS (SELECT node, MIN(lab)::BIGINT AS component_id
             FROM reach GROUP BY node),
    assign AS (
        SELECT d.doc_id,
               CASE WHEN ('0x' || substr(md5('7:' || d.doc_id::VARCHAR), 1, 15))::BIGINT
                         % 10000 < 8000 THEN 'train'
                    WHEN ('0x' || substr(md5('7:' || d.doc_id::VARCHAR), 1, 15))::BIGINT
                         % 10000 < 9000 THEN 'val'
                    ELSE 'test' END AS per_doc,
               CASE WHEN ('0x' || substr(md5('7:' ||
                         COALESCE(c.component_id, d.doc_id)::VARCHAR), 1, 15))::BIGINT
                         % 10000 < 8000 THEN 'train'
                    WHEN ('0x' || substr(md5('7:' ||
                         COALESCE(c.component_id, d.doc_id)::VARCHAR), 1, 15))::BIGINT
                         % 10000 < 9000 THEN 'val'
                    ELSE 'test' END AS per_cluster
        FROM documents d LEFT JOIN comp c ON d.doc_id = c.node),
    lab AS (
        SELECT p.id_a, p.id_b, x.per_doc AS da, y.per_doc AS db,
               x.per_cluster AS ca, y.per_cluster AS cb
        FROM pairs p JOIN assign x ON p.id_a = x.doc_id
                     JOIN assign y ON p.id_b = y.doc_id)
    SELECT policy, n_pairs, n_cross
    FROM (
      SELECT 'per_doc' AS policy, COUNT(*)::BIGINT AS n_pairs,
             SUM(CASE WHEN da <> db THEN 1 ELSE 0 END)::BIGINT AS n_cross
      FROM lab
      UNION ALL
      SELECT 'per_cluster', COUNT(*)::BIGINT,
             SUM(CASE WHEN ca <> cb THEN 1 ELSE 0 END)::BIGINT
      FROM lab)
    ORDER BY policy
    """,
    doc="eval-contamination audit: for every LSH near-dup pair, does the "
    "pair straddle two splits? Reported for BOTH policies — the naive "
    "per-document hash split (non-zero n_cross = train/test leakage) and "
    "the cluster-keyed split (structurally zero) — the before/after "
    "evidence for split_leakage_safe. Same dup-graph subtree as "
    "dedup_components + two bounded id-joins; output is 2 rows "
    "(curation extension)",
)
def q_split_contamination_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sigs = dd.minhash_signatures(d, num_hashes=16)
    # pairs feed BOTH the component labeling and the straddle join below —
    # materialize the LSH pipeline once (pairs ≪ corpus)
    pairs = dd.lsh_candidate_pairs(
        sigs, bands=4, rows_per_band=4, max_bucket=1000
    ).localCheckpoint(eager=False)
    comp = dd.connected_components(pairs)
    ids = d.select("doc_id")
    assign = (
        cur.leakage_safe_split(ids, comp)
        .withColumnRenamed("split", "per_cluster")
        .join(
            cur.dataset_split(ids).withColumnRenamed("split", "per_doc"),
            "doc_id",
        )
        .select("doc_id", "per_doc", "per_cluster")
    )
    lab = (
        pairs.join(
            assign.select(
                F.col("doc_id").alias("id_a"),
                F.col("per_doc").alias("da"),
                F.col("per_cluster").alias("ca"),
            ),
            "id_a",
        )
        .join(
            assign.select(
                F.col("doc_id").alias("id_b"),
                F.col("per_doc").alias("db"),
                F.col("per_cluster").alias("cb"),
            ),
            "id_b",
        )
    )
    # 1-row aggregate feeds two policy projections — run the join once
    out = lab.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.sum((F.col("da") != F.col("db")).cast("int")).alias("cross_doc"),
        F.sum((F.col("ca") != F.col("cb")).cast("int")).alias("cross_clu"),
    ).localCheckpoint(eager=False)
    per_doc = out.select(
        F.lit("per_doc").alias("policy"),
        F.col("n_pairs").cast("bigint"),
        F.col("cross_doc").cast("bigint").alias("n_cross"),
    )
    per_clu = out.select(
        F.lit("per_cluster").alias("policy"),
        F.col("n_pairs").cast("bigint"),
        F.col("cross_clu").cast("bigint").alias("n_cross"),
    )
    return per_doc.unionAll(per_clu).orderBy("policy")


@register(
    "length_bucket_padding",
    """
    WITH t AS (
        SELECT doc_id,
               len(regexp_extract_all(lower(COALESCE(text, '')),
                   '([a-z0-9]+)', 1))::BIGINT AS n_tokens
        FROM documents),
    b AS (
        SELECT doc_id, n_tokens,
               LEAST(n_tokens // 16, 7)::INT AS bucket
        FROM t)
    SELECT bucket,
           COUNT(*)::BIGINT AS n_docs,
           SUM(n_tokens)::BIGINT AS sum_tokens,
           MAX(n_tokens)::BIGINT AS max_tokens,
           (COUNT(*) * MAX(n_tokens) - SUM(n_tokens))::BIGINT AS pad_tokens,
           ROUND((COUNT(*) * MAX(n_tokens) - SUM(n_tokens))
                 / GREATEST(COUNT(*) * MAX(n_tokens), 1) / 1.0, 6)
             AS pad_frac
    FROM b
    GROUP BY bucket
    ORDER BY bucket
    """,
    doc="Length-bucketed batching efficiency (the padding-waste readout "
    "behind bucketed batch assembly — sequences batched with unlike "
    "lengths pad to the batch max and burn compute on pad tokens): "
    "bucket docs by token-length bands (16-token bands, top band open), "
    "report per-bucket count, token mass, bucket max and the padding "
    "waste a max-length-padded batch of that bucket would incur. All "
    "integer math except the final 6dp ratio of two exact integers — "
    "engine-portable. One map-side-combined agg over 8 groups; the "
    "token count is the same word tokenizer every curation op shares "
    "(training-data extension)",
)
def q_length_bucket_padding(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    toks = text_fns.word_tokens_sql("coalesce(`text`, '')")
    n_tok = F.expr(f"size({toks})").cast("bigint")
    b = d.select(
        n_tok.alias("n_tokens"),
        F.least(F.floor(n_tok / 16), F.lit(7)).cast("int").alias("bucket"),
    )
    pad = F.count(F.lit(1)) * F.max("n_tokens") - F.sum("n_tokens")
    return (
        b.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
            F.max("n_tokens").alias("max_tokens"),
            pad.cast("bigint").alias("pad_tokens"),
            F.round(
                pad
                / F.greatest(
                    F.count(F.lit(1)) * F.max("n_tokens"), F.lit(1)
                ).cast("double"),
                6,
            ).alias("pad_frac"),
        )
        .orderBy("bucket")
    )


@register(
    "token_budget_plan",
    """
    WITH per AS (
        SELECT source,
               SUM(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT
                   AS n_tokens
        FROM documents GROUP BY source),
    tot AS (SELECT SUM(n_tokens)::BIGINT AS w_tot,
                   COUNT(*)::BIGINT AS n_src FROM per),
    ordered AS (
        SELECT per.source, per.n_tokens, tot.w_tot, tot.n_src,
               7 * tot.w_tot AS t2,
               ROW_NUMBER() OVER (ORDER BY per.n_tokens, per.source) AS k,
               COALESCE(SUM(per.n_tokens) OVER (
                   ORDER BY per.n_tokens, per.source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                   0)::BIGINT AS cum_prev
        FROM per, tot),
    flagged AS (
        SELECT *,
               (8 * n_tokens * (n_src - k + 1)
                  <= t2 - 8 * cum_prev) AS saturated
        FROM ordered),
    sat AS (SELECT COALESCE(SUM(CASE WHEN saturated THEN n_tokens END), 0)
                       ::BIGINT AS sat_n,
                   COALESCE(SUM(CASE WHEN saturated THEN 1 END), 0)
                       ::BIGINT AS sat_k
            FROM flagged)
    SELECT source, n_tokens, saturated,
           ROUND(CASE WHEN saturated THEN 4.0 * n_tokens
                      ELSE (t2 - 8.0 * sat_n) / 2 / (n_src - sat_k) END,
                 2) AS alloc_tokens,
           ROUND(CASE WHEN saturated THEN 4.0
                      ELSE (t2 - 8.0 * sat_n) / 2
                           / (n_src - sat_k) / n_tokens END,
                 4) AS epochs
    FROM flagged, sat ORDER BY source
    """,
    doc="epoch-capped token-budget water-filling (the data-constrained "
    "scaling setting, Muennighoff et al. 2023: repeat data up to ~4 "
    "epochs): allocate T = 3.5x corpus tokens across sources toward a "
    "UNIFORM target mix, no source repeated past 4 epochs — small "
    "sources saturate at the cap, their shortfall redistributes to the "
    "rest. Closed form, no iteration: sort sources by tokens, one "
    "cumulative-sum window pass; each saturation test is a PURE BIGINT "
    "inequality (the half-token budget is carried DOUBLED — t2 = 7*W — "
    "so 3.5x stays integral), bit-exact cross-engine; only the final "
    "allocation divides. #sources-row "
    "frame: one corpus agg, then window + broadcast joins on rows that "
    "fit in a cache line (training-data extension)",
)
def q_token_budget_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    per = (
        d.groupBy("source")
        .agg(F.sum(text_fns.token_count("text")).alias("n_tokens"))
        .localCheckpoint(eager=False)
    )
    tot = per.agg(
        F.sum("n_tokens").cast("bigint").alias("w_tot"),
        F.count(F.lit(1)).cast("bigint").alias("n_src"),
    )
    w = Window.orderBy("n_tokens", "source")
    ordered = (
        per.crossJoin(F.broadcast(tot))
        .withColumn("t2", F.lit(7) * F.col("w_tot"))
        .withColumn("k", F.row_number().over(w))
        .withColumn(
            "cum_prev",
            F.coalesce(
                F.sum("n_tokens").over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0),
            ).cast("bigint"),
        )
    )
    flagged = ordered.withColumn(
        "saturated",
        F.lit(8) * F.col("n_tokens") * (F.col("n_src") - F.col("k") + 1)
        <= F.col("t2") - F.lit(8) * F.col("cum_prev"),
    ).localCheckpoint(eager=False)
    sat = flagged.agg(
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.col("n_tokens"))), F.lit(0)
        )
        .cast("bigint")
        .alias("sat_n"),
        F.coalesce(
            F.sum(F.when(F.col("saturated"), F.lit(1))), F.lit(0)
        )
        .cast("bigint")
        .alias("sat_k"),
    )
    leftover = (F.col("t2") - 8.0 * F.col("sat_n")) / 2 / (
        F.col("n_src") - F.col("sat_k")
    )
    return (
        flagged.crossJoin(F.broadcast(sat))
        .select(
            "source",
            "n_tokens",
            "saturated",
            F.round(
                F.when(F.col("saturated"), 4.0 * F.col("n_tokens")).otherwise(
                    leftover
                ),
                2,
            ).alias("alloc_tokens"),
            F.round(
                F.when(F.col("saturated"), F.lit(4.0)).otherwise(
                    leftover / F.col("n_tokens")
                ),
                4,
            ).alias("epochs"),
        )
        .orderBy("source")
    )


@register(
    "corpus_shard_manifest",
    """
    SELECT shard,
           COUNT(*)::BIGINT AS n_docs,
           SUM(len(regexp_split_to_array(trim(text), '\\s+')))::BIGINT
               AS n_tokens,
           MIN(doc_id)::BIGINT AS id_lo,
           MAX(doc_id)::BIGINT AS id_hi,
           (SUM(('0x' || substr(md5('23:' || doc_id::VARCHAR), 1, 15))::BIGINT
                % 1000000007) % 1000000007)::BIGINT AS checksum
    FROM (SELECT doc_id, text,
                 (('0x' || substr(md5('17:' || doc_id::VARCHAR), 1, 15))::BIGINT
                  % 8)::INT AS shard
          FROM documents)
    GROUP BY shard
    """,
    doc="deterministic output sharding + loader manifest: shard = "
    "hash(id) % n (stable under re-runs and corpus reorder, size-balanced "
    "in expectation), manifest = per-shard (n_docs, n_tokens, id range, "
    "ORDER-INDEPENDENT checksum = sum of per-doc hashes mod prime) — the "
    "reproducibility contract a training loader verifies shards against. "
    "One hash-agg with map-side combine; the checksum never overflows "
    "BIGINT (per-doc fold mod 1e9+7) (curation extension)",
)
def q_corpus_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    sharded = cur.shard_assignment(d, n_shards=8)
    return cur.shard_manifest(sharded).select(
        "shard",
        "n_docs",
        "n_tokens",
        F.col("id_lo").cast("bigint"),
        F.col("id_hi").cast("bigint"),
        F.col("checksum").cast("bigint"),
    )


# k-means oracle: replays kmeans_lloyd (k=4, 2 rounds, seed 29) — hash-picked
# seed rows, argmin on 6-decimal-rounded squared L2 with cid tie-break, and
# 6-decimal-rounded mean centroids between rounds (re-quantizes float-sum
# ordering noise so both engines see identical centroid literals in round 2).
_KM_DIST = "round(list_sum(list_transform(range(1, 65), j -> ({a}[j]-{b}[j])*({a}[j]-{b}[j]))), 6)"


_KMEANS_SQL = f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings),
    s AS (
        SELECT v, row_number() OVER (ORDER BY
                   ('0x' || substr(md5('29:' || vec_id::VARCHAR), 1, 15))::BIGINT,
                   vec_id) - 1 AS cid
        FROM v QUALIFY cid <= 3),
    a1 AS (
        SELECT vec_id, v, cid FROM (
            SELECT v.vec_id, v.v, s.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                       {_KM_DIST.format(a="v.v", b="s.v")}, s.cid) AS rn
            FROM v, s) t WHERE rn = 1),
    c1 AS (
        SELECT cid, list(rv ORDER BY pos) AS v FROM (
            SELECT cid, pos, round(avg(val), 6) AS rv FROM (
                SELECT cid, unnest(v) AS val,
                       generate_subscripts(v, 1) AS pos FROM a1) u
            GROUP BY cid, pos) g
        GROUP BY cid),
    a2 AS (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, c1.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                       {_KM_DIST.format(a="v.v", b="c1.v")}, c1.cid) AS rn
            FROM v, c1) t WHERE rn = 1)
    SELECT vec_id, cid::INT AS cluster FROM a2 ORDER BY vec_id
    """


@register(
    "kmeans_clusters",
    _KMEANS_SQL,
    doc="deterministic Lloyd's k-means (k=4, 2 rounds) over the embedding "
    "column — trains the coarse quantizer knn_ivf probes, and is the "
    "clustering step under SemDeDup-style semantic dedup / diversity "
    "sampling. Per round: assignment is a narrow codegen-only map "
    "(centroids are literals), update is one partial-agg shuffle of k*dim "
    "doubles; only k rows touch the driver (training-data extension)",
)
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.kmeans_lloyd(e, k=4, iters=2, seed=29).orderBy("vec_id")


@register(
    "ivf_append",
    f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings),
    base AS (SELECT * FROM v WHERE vec_id < 400),
    s AS (
        SELECT v, row_number() OVER (ORDER BY
                   ('0x' || substr(md5('29:' || vec_id::VARCHAR), 1, 15))::BIGINT,
                   vec_id) - 1 AS cid
        FROM base QUALIFY cid <= 3),
    a1 AS (
        SELECT vec_id, v, cid FROM (
            SELECT base.vec_id, base.v, s.cid,
                   row_number() OVER (PARTITION BY base.vec_id ORDER BY
                       {_KM_DIST.format(a="base.v", b="s.v")}, s.cid) AS rn
            FROM base, s) t WHERE rn = 1),
    c1 AS (
        SELECT cid, list(rv ORDER BY pos) AS v FROM (
            SELECT cid, pos, round(avg(val), 6) AS rv FROM (
                SELECT cid, unnest(v) AS val,
                       generate_subscripts(v, 1) AS pos FROM a1) u
            GROUP BY cid, pos) g
        GROUP BY cid),
    newv AS (SELECT * FROM v WHERE vec_id >= 400),
    a2 AS (
        SELECT vec_id, cid FROM (
            SELECT newv.vec_id, c1.cid,
                   row_number() OVER (PARTITION BY newv.vec_id ORDER BY
                       {_KM_DIST.format(a="newv.v", b="c1.v")}, c1.cid) AS rn
            FROM newv, c1) t WHERE rn = 1)
    SELECT vec_id, cid::INT AS cluster FROM a2 ORDER BY vec_id
    """,
    doc="incremental IVF index append: the coarse quantizer trains ONCE on "
    "the base corpus (vec_id < 400, kmeans_lloyd k=4), then a NEW corpus "
    "slice is assigned to the frozen centroids with kmeans_assign — a "
    "pure-Column literal-distance argmin projection, no shuffle, no "
    "Python, base corpus untouched. The operational path that keeps a "
    "100 TB ANN index fresh under daily appends without retraining; "
    "oracle replays training on the base slice and the literal argmin on "
    "the new slice (similarity extension)",
)
def q_ivf_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    base = e.where(F.col("vec_id") < 400)
    new = e.where(F.col("vec_id") >= 400)
    _, cents = sim.kmeans_lloyd(
        base, k=4, iters=2, seed=29, return_centroids=True
    )
    return sim.kmeans_assign(new, cents).orderBy("vec_id")


@register(
    "embedding_drift",
    f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings),
    base AS (SELECT * FROM v WHERE vec_id < 400),
    s AS (
        SELECT v, row_number() OVER (ORDER BY
                   ('0x' || substr(md5('29:' || vec_id::VARCHAR), 1, 15))::BIGINT,
                   vec_id) - 1 AS cid
        FROM base QUALIFY cid <= 3),
    a1 AS (
        SELECT vec_id, v, cid FROM (
            SELECT base.vec_id, base.v, s.cid,
                   row_number() OVER (PARTITION BY base.vec_id ORDER BY
                       {_KM_DIST.format(a="base.v", b="s.v")}, s.cid) AS rn
            FROM base, s) t WHERE rn = 1),
    c1 AS (
        SELECT cid, list(rv ORDER BY pos) AS v FROM (
            SELECT cid, pos, round(avg(val), 6) AS rv FROM (
                SELECT cid, unnest(v) AS val,
                       generate_subscripts(v, 1) AS pos FROM a1) u
            GROUP BY cid, pos) g
        GROUP BY cid),
    newv AS (SELECT * FROM v WHERE vec_id >= 400),
    a2 AS (
        SELECT vec_id, v, cid FROM (
            SELECT newv.vec_id, newv.v, c1.cid,
                   row_number() OVER (PARTITION BY newv.vec_id ORDER BY
                       {_KM_DIST.format(a="newv.v", b="c1.v")}, c1.cid) AS rn
            FROM newv, c1) t WHERE rn = 1),
    newmean AS (
        SELECT cid, pos, round(avg(val), 6) AS m FROM (
            SELECT cid, unnest(v) AS val,
                   generate_subscripts(v, 1) AS pos FROM a2) u
        GROUP BY cid, pos),
    cdim AS (
        SELECT cid, unnest(v) AS c, generate_subscripts(v, 1) AS pos
        FROM c1),
    counts AS (SELECT cid, COUNT(*)::BIGINT AS n_new FROM a2 GROUP BY cid)
    SELECT counts.cid::INT AS cluster, counts.n_new,
           ROUND(sqrt(SUM((newmean.m - cdim.c) * (newmean.m - cdim.c))), 6)
               AS drift
    FROM newmean JOIN cdim USING (cid, pos)
    JOIN counts ON counts.cid = newmean.cid
    GROUP BY counts.cid, counts.n_new
    ORDER BY cluster
    """,
    doc="embedding DRIFT monitor for the incremental-append path: per "
    "frozen coarse cluster, the L2 distance between the trained centroid "
    "and the appended slice's member mean (6dp-rounded per-dim means, the "
    "kmeans rounding discipline) plus the slice's membership count — the "
    "retrain-trigger readout every embedding pipeline watches after "
    "ivf_append-style maintenance. Per-dim means are one (cluster, dim) "
    "partial agg; the distance folds k·dim bounded rows "
    "(similarity-ops extension)",
)
def q_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    base = e.where(F.col("vec_id") < 400)
    new = e.where(F.col("vec_id") >= 400)
    _, cents = sim.kmeans_lloyd(
        base, k=4, iters=2, seed=29, return_centroids=True
    )
    assigned = sim.kmeans_assign(new, cents).join(
        new.select("vec_id", "embedding"), "vec_id"
    )
    dims = assigned.select(
        "cluster",
        F.posexplode(F.col("embedding").cast("array<double>")).alias(
            "pos", "val"
        ),
    )
    means = dims.groupBy("cluster", "pos").agg(
        F.round(F.avg("val"), 6).alias("m")
    )
    cent_rows = [
        (int(cid), int(pos), float(c))
        for cid, cent in cents
        for pos, c in enumerate(cent)
    ]
    cdim = e.sparkSession.createDataFrame(
        cent_rows, "cluster int, pos int, c double"
    )
    counts = assigned.groupBy("cluster").agg(
        F.count(F.lit(1)).alias("n_new")
    )
    return (
        means.join(F.broadcast(cdim), ["cluster", "pos"])
        .groupBy("cluster")
        .agg(
            F.round(
                F.sqrt(
                    F.sum((F.col("m") - F.col("c")) * (F.col("m") - F.col("c")))
                ),
                6,
            ).alias("drift")
        )
        .join(counts, "cluster")
        .select("cluster", "n_new", "drift")
        .orderBy("cluster")
    )


# SemDeDup cluster sizing: k grows with corpus size so the blocked
# self-join's pair count stays O(N * target_cluster) instead of O(N²/k_const).
# target 125 at fixture scale keeps k=4 at sf0.01 (N=500), matching the
# static oracle SQL; at 100 TB set the target to ~10k vectors per cluster
# (k ≈ N/10k), which bounds per-task pair work regardless of corpus size.
SEMDEDUP_TARGET_CLUSTER = 125


def semdedup_k(n: int, target: int = SEMDEDUP_TARGET_CLUSTER) -> int:
    return max(4, -(-n // target))


@register(
    "semdedup_prune",
    f"""
    WITH km AS ({_KMEANS_SQL}),
    ev AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
           FROM embeddings),
    e AS (SELECT km.vec_id, km.cluster, ev.v FROM km JOIN ev USING (vec_id))
    SELECT DISTINCT b.vec_id AS vec_id
    FROM e a JOIN e b ON a.cluster = b.cluster AND a.vec_id < b.vec_id
    WHERE ROUND(list_dot_product(a.v, b.v)
                / GREATEST(sqrt(list_dot_product(a.v, a.v))
                           * sqrt(list_dot_product(b.v, b.v)), 1e-12), 6)
          >= 0.3
    ORDER BY vec_id
    """,
    doc="SemDeDup end-to-end: kmeans_lloyd coarse clusters block the "
    "pairwise cosine self-join, higher-id member of each >=0.3 pair is "
    "dropped. k is derived from corpus size (semdedup_k: N/125 at fixture "
    "scale, N/10k recommended at 100 TB) so pair count is bounded by the "
    "TARGET cluster size, not the corpus; the composition IVF-train -> "
    "cluster-blocked prune is the published SemDeDup shape "
    "(training-data extension). Oracle replays k=4, which semdedup_k "
    "yields at the driver's sf0.01 fixture (N=500)",
)
def q_semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # spread the single-split scan BEFORE the kernel: unlike the light
    # trainer-only queries (where the extra exchange measured as a net
    # loss — kmeans_clusters 0.86→1.18 s), semdedup's downstream is the
    # cluster-blocked Σ|cluster|²·dim cosine stage, which inherits the
    # kernel's partitioning; on the one-task scan it serialized ~2 s of
    # pair CPU on one core (stage profile: one 2.1 s CPU task at 80% of
    # query wall). Interleaved same-session A/B, 6 pairs: median
    # 3.35 → 2.50 s. No-op at real scale (scan has many splits).
    e = ensure_parallelism(_t(spark, sf_dir, "embeddings"), "vec_id")
    k = semdedup_k(e.count())
    # emit_vector: the assign kernel already holds each row, so the
    # cluster-blocked self-join needs no join back to the source table
    clustered = sim.kmeans_lloyd(e, k=k, iters=2, seed=29, emit_vector=True)
    return sim.semdedup(clustered, threshold=0.3, vec_col="v").orderBy(
        "vec_id"
    )


@register(
    "doc_dup_ngram_fraction",
    """
    WITH grams AS (
        SELECT doc_id,
               unnest(list_distinct(list_transform(range(1, len(w) - 3),
                   i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                        w[i+3] || ' ' || w[i+4]))) AS g
        FROM (SELECT doc_id,
                     regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS w
              FROM documents)
        WHERE len(w) >= 5),
    hashed AS (
        SELECT doc_id, ('0x' || substr(md5(g), 1, 15))::BIGINT AS gh
        FROM grams),
    cnt AS (SELECT gh, COUNT(*)::BIGINT AS df FROM hashed GROUP BY gh)
    SELECT doc_id,
           COUNT(*)::BIGINT AS n_grams,
           SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END)::BIGINT AS dup_grams,
           ROUND(SUM(CASE WHEN df > 1 THEN 1 ELSE 0 END)::DOUBLE / COUNT(*),
                 4) AS dup_frac
    FROM hashed JOIN cnt USING (gh)
    GROUP BY doc_id ORDER BY doc_id
    """,
    doc="per-doc duplicated-5-gram fraction (RefinedWeb-family quality "
    "signal), via the SINGLETON identity dup(doc) = total(doc) − "
    "singletons(doc): a df=1 gram's sole holder is recoverable as "
    "min(doc_id) inside the same gram-keyed aggregation, so the gram "
    "table shuffles exactly ONCE (by hash) and no per-gram holder lists "
    "exist — a stop-phrase gram held by millions of docs is one bounded "
    "counter row. The doc-keyed totals shuffle only map-side-combined "
    "per-doc counts; the final join is between two per-doc aggregates "
    "(training-data extension)",
)
def q_doc_dup_ngram_fraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.dedup import gram_hash60

    d = _t(spark, sf_dir, "documents")
    # spread the scan before the shingle+md5 stage (single-split guard)
    d = ensure_parallelism(d.select("doc_id", "text"), "doc_id")
    grams = d.select(
        "doc_id",
        F.explode(F.array_distinct(text_fns.shingles("text", 5))).alias("g"),
    ).select("doc_id", gram_hash60(F.col("g")).alias("gh"))
    # totals need no explode/shuffle at all: per-doc distinct-gram count is
    # a row-local array size. Filter on the CHEAP equivalent (≥5 tokens ⟺
    # n_grams > 0): a filter on n_grams itself would be pushed below the
    # spreading exchange and re-evaluate the whole shingle pipeline on the
    # unspread scan split (the minhash_signatures pushdown trap).
    totals = d.where(
        F.size(text_fns.word_tokens("text")) >= 5
    ).select(
        "doc_id",
        F.size(F.array_distinct(text_fns.shingles("text", 5))).alias(
            "n_grams"
        ).cast("bigint"),
    )
    per_gram = grams.groupBy("gh").agg(
        F.count(F.lit(1)).alias("df"), F.min("doc_id").alias("only_doc")
    )
    singles = (
        per_gram.where(F.col("df") == 1)
        .groupBy(F.col("only_doc").alias("doc_id"))
        .agg(F.count(F.lit(1)).alias("uniq"))
    )
    dup = (F.col("n_grams") - F.coalesce(F.col("uniq"), F.lit(0))).cast(
        "bigint"
    )
    return (
        totals.join(singles, "doc_id", "left")
        .select(
            "doc_id",
            "n_grams",
            dup.alias("dup_grams"),
            F.round(dup / F.col("n_grams"), 4).alias("dup_frac"),
        )
        .orderBy("doc_id")
    )


@register(
    "doc_dedup_spans",
    """
    WITH tokens AS (
        SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS w
        FROM documents),
    words AS (
        SELECT doc_id, u.word, (u.p - 1)::BIGINT AS p
        FROM tokens, LATERAL (SELECT unnest(w) AS word,
                                     generate_subscripts(w, 1) AS p) u),
    wc AS (SELECT doc_id, COUNT(*)::BIGINT AS n_words FROM words
           GROUP BY doc_id),
    gramlist AS (
        SELECT doc_id, list_transform(range(1, len(w) - 3),
            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' ||
                 w[i+3] || ' ' || w[i+4]) AS gl
        FROM tokens WHERE len(w) >= 5),
    grams AS (
        SELECT doc_id, (u.p - 1)::BIGINT AS i,
               ('0x' || substr(md5(u.g), 1, 15))::BIGINT AS g
        FROM gramlist, LATERAL (SELECT unnest(gl) AS g,
                                       generate_subscripts(gl, 1) AS p) u),
    cnt AS (SELECT g, COUNT(*)::BIGINT AS df FROM grams GROUP BY g),
    dup AS (SELECT grams.doc_id, grams.i FROM grams JOIN cnt USING (g)
            WHERE df >= 2),
    covered AS (
        SELECT DISTINCT w.doc_id, w.p FROM words w
        JOIN dup d ON d.doc_id = w.doc_id AND w.p BETWEEN d.i AND d.i + 4),
    kept AS (
        SELECT w.doc_id, w.p, w.word FROM words w
        ANTI JOIN covered c ON w.doc_id = c.doc_id AND w.p = c.p),
    kc AS (SELECT doc_id, COUNT(*)::BIGINT AS n_kept,
                  COALESCE(string_agg(word, ' ' ORDER BY p), '') AS cleaned
           FROM kept GROUP BY doc_id)
    SELECT d.doc_id,
           COALESCE(wc.n_words, 0) AS n_words,
           COALESCE(wc.n_words, 0) - COALESCE(kc.n_kept, 0) AS n_removed,
           length(COALESCE(kc.cleaned, ''))::BIGINT AS cleaned_len,
           md5(COALESCE(kc.cleaned, '')) AS cleaned_md5
    FROM documents d
    LEFT JOIN wc ON wc.doc_id = d.doc_id
    LEFT JOIN kc ON kc.doc_id = d.doc_id
    ORDER BY d.doc_id
    """,
    doc="exact-substring span excision (Lee et al. 2022) at 5-word-gram "
    "granularity: every word covered by a gram occurring ≥2 times anywhere "
    "in the corpus is removed; emits the cleaned residue's length + md5 so "
    "the rewritten TEXT itself is hash-checked, not just counts. Gram "
    "hashes are built row-locally; the occurrence count shuffles gram "
    "instances once by 60-bit hash; only duplicated instances reach the "
    "per-doc index collection; coverage + residue are array HOFs on the "
    "doc row (training-data extension)",
)
def q_doc_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.dedup import remove_duplicated_spans

    d = _t(spark, sf_dir, "documents")
    out = remove_duplicated_spans(d, "text", "doc_id", n=5)
    return out.select(
        F.col("id").alias("doc_id"),
        "n_words",
        "n_removed",
        F.length("cleaned").cast("bigint").alias("cleaned_len"),
        F.md5("cleaned").alias("cleaned_md5"),
    ).orderBy("doc_id")


@register(
    "doc_c4_line_filter",
    """
    WITH tokens AS (
        SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS w
        FROM documents),
    lined AS (
        SELECT doc_id,
               array_to_string(list_transform(
                   range(0, ((len(w) + 5) // 6)::BIGINT),
                   i -> array_to_string(w[i*6+1 : i*6+6], ' ')
                        || CASE WHEN (i + doc_id) % 3 != 0
                                THEN '.' ELSE '' END), chr(10)) AS text
        FROM tokens WHERE len(w) > 0),
    split AS (
        SELECT doc_id, string_split(text, chr(10)) AS ls FROM lined),
    filt AS (
        SELECT doc_id, len(ls)::BIGINT AS n_lines,
               list_filter(ls, l ->
                   regexp_matches(l, '[.!?"]\\s*$')
                   AND len(string_split_regex(trim(l), '\\s+')) >= 5
                   AND NOT contains(l, '{') AND NOT contains(l, '}')
                   AND NOT contains(lower(l), 'javascript')
                   AND NOT contains(lower(l), 'cookie')
                   AND NOT contains(lower(l), 'lorem ipsum')) AS kept
        FROM split)
    SELECT doc_id AS id, n_lines, len(kept)::BIGINT AS n_kept,
           md5(array_to_string(kept, chr(10))) AS cleaned_md5
    FROM filt WHERE len(kept) >= 1 ORDER BY id
    """,
    doc="C4-style line-level cleaning (Raffel et al. 2020 §2.2): terminal "
    "punctuation, ≥5 words, no braces, no cookies/javascript/lorem "
    "boilerplate; docs with zero surviving lines drop. The synthetic corpus "
    "has no line structure, so BOTH engines first derive the same lined "
    "text (6-word lines, deterministic 1-in-3 missing terminal period) — "
    "the filter then does real work (~1/3 of lines drop) and the cleaned "
    "residue is md5-checked. The operator itself is a row-local projection "
    "(split/filter/join HOFs) — composes with downstream stages with no "
    "shuffle of its own (training-data extension)",
)
def q_doc_c4_line_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.textops import c4_line_filter

    d = _t(spark, sf_dir, "documents")
    toks = text_fns.word_tokens("text")
    # let-bind the token array: the per-chunk lambda referencing `toks`
    # directly re-ran the tokenizing regex once per 6-word chunk (see
    # functions.text.shingles_sql, same fix)
    lined_text = text_fns._let(
        toks,
        lambda t: F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0), F.floor((F.size(t) + 5) / 6).cast("bigint") - 1
                ),
                lambda i: F.concat(
                    F.concat_ws(" ", F.slice(t, i * 6 + 1, 6)),
                    F.when(
                        (i + F.col("doc_id")) % 3 != 0, F.lit(".")
                    ).otherwise(F.lit("")),
                ),
            ),
            "\n",
        ),
    )
    lined = d.where(F.size(toks) > 0).select(
        "doc_id", lined_text.alias("text")
    )
    out = c4_line_filter(lined, "doc_id", "text", min_line_words=5)
    return out.select(
        "id",
        "n_lines",
        "n_kept",
        F.md5("cleaned").alias("cleaned_md5"),
    ).orderBy("id")


@register(
    "doc_lm_nll",
    """
    WITH tokens AS (
        SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS w
        FROM documents),
    bg AS (
        SELECT doc_id, w[u.i] AS a, w[u.i + 1] AS b
        FROM tokens, LATERAL (SELECT unnest(range(1, len(w))) AS i) u
        WHERE len(w) >= 2),
    cab AS (SELECT a, b, COUNT(*)::DOUBLE AS c_ab FROM bg GROUP BY a, b),
    ca AS (SELECT a, SUM(c_ab)::DOUBLE AS c_a FROM cab GROUP BY a),
    v AS (SELECT COUNT(*)::DOUBLE AS v FROM
          (SELECT a AS t FROM cab UNION SELECT b FROM cab)),
    probs AS (
        SELECT cab.a, cab.b,
               ln((cab.c_ab + 0.5) / (ca.c_a + 0.5 * v.v)) AS lp
        FROM cab JOIN ca USING (a), v)
    SELECT bg.doc_id AS id, COUNT(*)::BIGINT AS n_bigrams,
           ROUND(-AVG(p.lp), 6) AS nll
    FROM bg JOIN probs p ON bg.a = p.a AND bg.b = p.b
    GROUP BY bg.doc_id ORDER BY id
    """,
    doc="CCNet-style LM quality signal: per-doc average negative "
    "log-likelihood under a corpus-trained add-0.5-smoothed bigram model "
    "(in-engine stand-in for the KenLM perplexity filter). Bigrams built "
    "row-locally; the instance table is checkpointed (feeds both the "
    "count agg and the score join); C(a) and V both derive from C(a,b) — "
    "no second or third corpus pass. Bigram-keyed joins — counter "
    "rows, never holder lists (training-data extension)",
)
def q_doc_lm_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.textops import lm_nll_scores

    d = _t(spark, sf_dir, "documents")
    return lm_nll_scores(d, "doc_id", "text").orderBy("id")


@register(
    "incremental_new_docs",
    """
    WITH prior AS (
        SELECT DISTINCT md5(text) AS h FROM documents WHERE doc_id % 3 != 0),
    inc AS (
        SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 3 = 0)
    SELECT inc.doc_id, inc.h
    FROM inc ANTI JOIN prior ON inc.h = prior.h
    ORDER BY inc.doc_id
    """,
    doc="incremental snapshot-over-snapshot dedup with a Bloom prefilter: "
    "prior corpus → distributed bitmap build (explode k positions, bit_or "
    "per 64-bit word — ONE bounded-output shuffle, ≤ m/64 rows no matter "
    "the corpus size); incoming batch probed row-locally against the "
    "broadcast bitmap (positions JVM-side, bit test a vectorized numpy "
    "kernel); only bloom-positive rows (true dups + ~fpp false positives) "
    "pay the exact anti-join. Output is EXACT — the Bloom only prunes join "
    "input, every candidate is verified — so the oracle is a plain "
    "anti-join (training-data extension)",
)
def q_incremental_new_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.dedup import bloom_new_rows

    d = _t(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("h")
    )
    prior = d.where(F.col("doc_id") % 3 != 0)
    incoming = d.where(F.col("doc_id") % 3 == 0)
    return bloom_new_rows(incoming, prior, "h", fpp=0.01).orderBy("doc_id")


@register(
    "tokenizer_fertility",
    """
    WITH toks AS (
        SELECT lang,
               len(list_filter(
                 regexp_extract_all(COALESCE(text, ''),
                   '(''(?:s|t|re|ve|m|ll|d)| ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+)', 1),
                 t -> trim(t) <> '')) AS bpe_cnt,
               len(regexp_split_to_array(trim(text), '\\s+')) AS ws_cnt
        FROM documents)
    SELECT lang,
           COUNT(*)::BIGINT AS n_docs,
           ROUND(SUM(bpe_cnt)::DOUBLE / SUM(ws_cnt), 4) AS fertility
    FROM toks GROUP BY lang ORDER BY lang
    """,
    doc="tokenizer fertility by language (BPE-ish pretokens per whitespace "
    "word) — the per-language cost signal used to balance multilingual "
    "token budgets; single partial-agg shuffle (training-data extension)",
)
def q_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            text_fns.bpe_token_count("text").alias("bpe_cnt"),
            text_fns.token_count("text").alias("ws_cnt"),
        )
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("bpe_cnt") / F.sum("ws_cnt"), 4).alias("fertility"),
        )
        .orderBy("lang")
    )


@register(
    "doc_token_entropy",
    """
    WITH words AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text),
                              '([a-z0-9]+)', 1)) AS w
        FROM documents),
    wc AS (
        SELECT doc_id, w, COUNT(*)::DOUBLE AS c
        FROM words GROUP BY doc_id, w)
    SELECT doc_id,
           SUM(c)::BIGINT AS n_tokens,
           ROUND(ln(SUM(c)) - SUM(c * ln(c)) / SUM(c), 4) AS entropy
    FROM wc GROUP BY doc_id ORDER BY doc_id
    """,
    doc="per-doc Shannon token entropy (nats) — the unigram-diversity "
    "quality signal (low entropy = repetitive/boilerplate, degenerate "
    "generations): H = ln(n) − Σc·ln(c)/n from per-(doc, word) counts. "
    "Two partial-agg shuffles of bounded counter rows, identical shape to "
    "repetition_stats; pure codegen (training-data extension)",
)
def q_doc_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", F.explode(text_fns.word_tokens("text")).alias("w")
    )
    wc = words.groupBy("doc_id", "w").agg(
        F.count(F.lit(1)).cast("double").alias("c")
    )
    n = F.sum("c")
    return (
        wc.groupBy("doc_id")
        .agg(
            n.cast("bigint").alias("n_tokens"),
            F.round(F.log(n) - F.sum(F.col("c") * F.log("c")) / n, 4).alias(
                "entropy"
            ),
        )
        .orderBy("doc_id")
    )


# sparse-cosine pruning knobs: terms appearing in more than MAX_DF docs are
# dropped from the INDEX (not the norms) — the standard inverted-index
# scale bound: a stop-word shared by every doc otherwise contributes
# O(N²) join rows. At 100 TB keep max_df ≪ corpus size (e.g. 1e5).
_SPARSE_MAX_DF = 100
_SPARSE_THRESHOLD = 0.6


@register(
    "neardup_sparse_cosine",
    f"""
    WITH words AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text),
                              '([a-z0-9]+)', 1)) AS w
        FROM documents),
    tf AS (
        SELECT doc_id, w, COUNT(*)::DOUBLE AS tf
        FROM words GROUP BY doc_id, w),
    df AS (
        SELECT w, COUNT(*)::DOUBLE AS df FROM tf GROUP BY w),
    n AS (SELECT COUNT(DISTINCT doc_id)::DOUBLE AS n FROM tf),
    wts AS (
        SELECT tf.doc_id, tf.w, tf.tf * ln(n.n / df.df) AS wt, df.df
        FROM tf JOIN df USING (w), n),
    norms AS (
        SELECT doc_id, sqrt(SUM(wt * wt)) AS nrm FROM wts GROUP BY doc_id),
    idx AS (SELECT doc_id, w, wt FROM wts WHERE df <= {_SPARSE_MAX_DF}),
    dots AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, SUM(a.wt * b.wt) AS dot
        FROM idx a JOIN idx b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id)
    SELECT id_a, id_b,
           ROUND(dot / GREATEST(na.nrm * nb.nrm, 1e-12), 6) AS cos
    FROM dots
    JOIN norms na ON na.doc_id = id_a
    JOIN norms nb ON nb.doc_id = id_b
    WHERE ROUND(dot / GREATEST(na.nrm * nb.nrm, 1e-12), 6)
          >= {_SPARSE_THRESHOLD}
    ORDER BY id_a, id_b
    """,
    doc="sparse TF-IDF cosine near-dup via INVERTED-INDEX join — the "
    "token-space counterpart of minhash (exact weights, no signature "
    "approximation): per-(doc, term) tf·idf weights, term-keyed self-join "
    "accumulates partial dot products, normalized by full doc norms. "
    "Terms with df > max_df are pruned from the index (hot-term O(N²) "
    "bound — the standard sparse-all-pairs scale trick; norms keep every "
    "term so pruning only LOWERS similarity, never inflates it). Shuffles "
    "are term-keyed then pair-keyed, all partial-agg (training-data "
    "extension)",
)
def q_neardup_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.dedup import sparse_cosine_pairs

    d = _t(spark, sf_dir, "documents")
    return sparse_cosine_pairs(
        d, max_df=_SPARSE_MAX_DF, threshold=_SPARSE_THRESHOLD
    ).orderBy("id_a", "id_b")


@register(
    "ann_recall_lsh",
    f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    bq AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 8),
    bscored AS (
        SELECT bq.query_id, v.vec_id AS neighbor_id,
               ROUND(list_dot_product(qv, v.v)
                     / GREATEST(sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(v.v, v.v)), 1e-12),
                     6) AS cos
        FROM bq JOIN v ON bq.query_id <> v.vec_id),
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM bscored) WHERE rank <= 5),
    bk AS (SELECT vec_id, v, {_lsh_bucket_sql()} AS bucket FROM v),
    lq AS (SELECT vec_id AS query_id, v AS qv, bucket FROM bk
           WHERE vec_id < 8),
    lscored AS (
        SELECT query_id, bk.vec_id AS neighbor_id,
               ROUND(list_dot_product(qv, bk.v)
                     / GREATEST(sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(bk.v, bk.v)), 1e-12),
                     6) AS cos
        FROM lq JOIN bk USING (bucket) WHERE query_id <> bk.vec_id),
    lsh AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM lscored) WHERE rank <= 5),
    hits AS (
        SELECT bf.query_id, COUNT(*)::BIGINT AS hits
        FROM bf JOIN lsh USING (query_id, neighbor_id)
        GROUP BY bf.query_id)
    SELECT q.query_id,
           ROUND(COALESCE(h.hits, 0) / 5.0, 2) AS recall_at_5
    FROM (SELECT DISTINCT query_id FROM bf) q
    LEFT JOIN hits h USING (query_id)
    ORDER BY query_id
    """,
    doc="ANN quality evaluation: recall@5 of the sign-LSH probe against "
    "the exact brute-force top-k, per query — the measurement loop that "
    "tunes the bucket-count/recall trade-off before scaling an index out. "
    "Composes the two existing operators; the join is on (query, "
    "neighbor) pairs, both sides already top-k-pruned (similarity "
    "extension)",
)
def q_ann_recall_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    return _recall_at_k(
        sim.knn_bruteforce(e, q, k=5), sim.knn_lsh(e, q, _LSH_PLANES, k=5)
    )


# JL sign random projection: 64 -> 16 dims. The sign matrix is a small
# deterministic driver-side literal (like _LSH_PLANES) embedded in BOTH
# plans, and √16 = 4 is a power of two, so the projection replays
# IEEE-bit-exactly in any engine generating the same left-to-right
# association order.
_RP_SIGNS = sim.rp_signs(64, d_out=16, seed=41)


def _rp_comps_sql(var: str = "v") -> list[str]:
    """The 16 projection expressions over a 1-indexed DOUBLE list `var`,
    in exactly random_projection's association order."""
    return [
        "(("
        + " + ".join(
            f"{var}[{i + 1}]*{float(s)!r}" for i, s in enumerate(srow)
        )
        + ") / 4.0)"
        for srow in _RP_SIGNS
    ]


@register(
    "embedding_rp_project",
    f"""
    WITH e AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings)
    SELECT vec_id,
           {", ".join(f"ROUND({c}, 6) AS rp{j:02d}"
                      for j, c in enumerate(_rp_comps_sql()))}
    FROM e
    """,
    doc="Johnson-Lindenstrauss sign random projection (Achlioptas 2003): "
    "64-dim float embeddings compressed to 16 dims with a deterministic "
    "Rademacher matrix — the project-once/persist-short-vectors path that "
    "cuts every downstream probe's arithmetic and scan bytes 4× with "
    "JL-bounded cosine distortion. Pure-Column left-to-right chains, no "
    "shuffle, whole-stage codegen; oracle replays the same association "
    "order bit-exactly (similarity extension)",
)
def q_embedding_rp_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    out = sim.random_projection(e, _RP_SIGNS)
    return out.select(
        "vec_id",
        *[
            F.round(F.col("rp")[j], 6).alias(f"rp{j:02d}")
            for j in range(len(_RP_SIGNS))
        ],
    )


@register(
    "knn_rp",
    f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    p AS (SELECT vec_id,
                 [{", ".join(_rp_comps_sql())}] AS pv
          FROM v),
    rq AS (SELECT vec_id AS query_id, pv AS qp FROM p WHERE vec_id < 8),
    rscored AS (
        SELECT rq.query_id, p.vec_id AS neighbor_id,
               ROUND(list_dot_product(qp, p.pv)
                     / GREATEST(sqrt(list_dot_product(qp, qp))
                                * sqrt(list_dot_product(p.pv, p.pv)), 1e-12),
                     6) AS cos
        FROM rq JOIN p ON rq.query_id <> p.vec_id)
    SELECT query_id, neighbor_id, rank FROM (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id) AS rank
        FROM rscored) WHERE rank <= 5
    """,
    doc="top-k cosine in the JL-projected space — the compression ANN "
    "probe: every candidate still scored, but at d_out/dim of the "
    "arithmetic and scan bytes (project once, persist short vectors). "
    "Same broadcast-probe shape as knn_bruteforce; oracle replays the "
    "bit-exact projection then ranks (similarity extension)",
)
def q_knn_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    return sim.knn_rp(e, q, _RP_SIGNS, k=5)


@register(
    "ann_recall_rp",
    f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    bq AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 8),
    bscored AS (
        SELECT bq.query_id, v.vec_id AS neighbor_id,
               ROUND(list_dot_product(qv, v.v)
                     / GREATEST(sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(v.v, v.v)), 1e-12),
                     6) AS cos
        FROM bq JOIN v ON bq.query_id <> v.vec_id),
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM bscored) WHERE rank <= 5),
    p AS (SELECT vec_id,
                 [{", ".join(_rp_comps_sql())}] AS pv
          FROM v),
    rq AS (SELECT vec_id AS query_id, pv AS qp FROM p WHERE vec_id < 8),
    rscored AS (
        SELECT rq.query_id, p.vec_id AS neighbor_id,
               ROUND(list_dot_product(qp, p.pv)
                     / GREATEST(sqrt(list_dot_product(qp, qp))
                                * sqrt(list_dot_product(p.pv, p.pv)), 1e-12),
                     6) AS cos
        FROM rq JOIN p ON rq.query_id <> p.vec_id),
    rp AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM rscored) WHERE rank <= 5),
    hits AS (
        SELECT bf.query_id, COUNT(*)::BIGINT AS hits
        FROM bf JOIN rp USING (query_id, neighbor_id)
        GROUP BY bf.query_id)
    SELECT q.query_id,
           ROUND(COALESCE(h.hits, 0) / 5.0, 2) AS recall_at_5
    FROM (SELECT DISTINCT query_id FROM bf) q
    LEFT JOIN hits h USING (query_id)
    ORDER BY query_id
    """,
    doc="ANN quality evaluation for the JL-compression path: recall@5 of "
    "top-k-in-projected-space against the exact full-dim brute force — "
    "the measurement that picks d_out before persisting a compressed "
    "index. Completes the recall matrix (LSH / PQ / IVF-PQ / RP) "
    "(similarity extension)",
)
def q_ann_recall_rp(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    return _recall_at_k(
        sim.knn_bruteforce(e, q, k=5), sim.knn_rp(e, q, _RP_SIGNS, k=5)
    )


@register(
    "ann_recall_trunc",
    """
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    bq AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 8),
    bscored AS (
        SELECT bq.query_id, v.vec_id AS neighbor_id,
               ROUND(list_dot_product(qv, v.v)
                     / GREATEST(sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(v.v, v.v)), 1e-12),
                     6) AS cos
        FROM bq JOIN v ON bq.query_id <> v.vec_id),
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM bscored) WHERE rank <= 5),
    p AS (SELECT vec_id, v[1:16] AS pv FROM v),
    tq AS (SELECT vec_id AS query_id, pv AS qp FROM p WHERE vec_id < 8),
    tscored AS (
        SELECT tq.query_id, p.vec_id AS neighbor_id,
               ROUND(list_dot_product(qp, p.pv)
                     / GREATEST(sqrt(list_dot_product(qp, qp))
                                * sqrt(list_dot_product(p.pv, p.pv)), 1e-12),
                     6) AS cos
        FROM tq JOIN p ON tq.query_id <> p.vec_id),
    tr AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM tscored) WHERE rank <= 5),
    hits AS (
        SELECT bf.query_id, COUNT(*)::BIGINT AS hits
        FROM bf JOIN tr USING (query_id, neighbor_id)
        GROUP BY bf.query_id)
    SELECT q.query_id,
           ROUND(COALESCE(h.hits, 0) / 5.0, 2) AS recall_at_5
    FROM (SELECT DISTINCT query_id FROM bf) q
    LEFT JOIN hits h USING (query_id)
    ORDER BY query_id
    """,
    doc="ANN recall for PREFIX truncation (the Matryoshka-embedding "
    "serving trick: keep the first 16 of 64 dims, no learned transform "
    "at all): top-k cosine over the truncated prefix vs the exact "
    "full-dim brute force. Fourth row of the compression-evaluation "
    "matrix (LSH buckets / PQ codebooks / JL projection / prefix "
    "truncation) — together they rank every standard 4× compression "
    "before an index is persisted. Truncation is a zero-cost slice; at "
    "100 TB the persisted prefix also cuts the scan surface 4× "
    "(similarity extension)",
)
def q_ann_recall_trunc(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    trunc = e.select(
        "vec_id", F.slice(F.col("embedding"), 1, 16).alias("embedding")
    )
    q = e.where(F.col("vec_id") < 8)
    tq = trunc.where(F.col("vec_id") < 8)
    return _recall_at_k(
        sim.knn_bruteforce(e, q, k=5), sim.knn_bruteforce(trunc, tq, k=5)
    )


@register(
    "ann_recall_pq",
    f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    bq AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 8),
    bscored AS (
        SELECT bq.query_id, v.vec_id AS neighbor_id,
               round(list_sum(list_transform(range(1, 65),
                     j -> (qv[j]-v.v[j])*(qv[j]-v.v[j]))), 6) AS d2
        FROM bq JOIN v ON bq.query_id <> v.vec_id),
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2, neighbor_id) AS rank
            FROM bscored) WHERE rank <= 5),
    short AS (SELECT query_id, neighbor_id
              FROM ({_pq_sql(k=16, topk=50)}) t),
    rescored AS (
        SELECT s.query_id, s.neighbor_id,
               round(list_sum(list_transform(range(1, 65),
                     j -> (bq.qv[j]-v.v[j])*(bq.qv[j]-v.v[j]))), 6) AS d2
        FROM short s
        JOIN v ON v.vec_id = s.neighbor_id
        JOIN bq ON bq.query_id = s.query_id),
    pq AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY d2, neighbor_id) AS rank
            FROM rescored) WHERE rank <= 5),
    hits AS (
        SELECT bf.query_id, COUNT(*)::BIGINT AS hits
        FROM bf JOIN pq USING (query_id, neighbor_id)
        GROUP BY bf.query_id)
    SELECT q.query_id,
           ROUND(COALESCE(h.hits, 0) / 5.0, 2) AS recall_at_5
    FROM (SELECT DISTINCT query_id FROM bf) q
    LEFT JOIN hits h USING (query_id)
    ORDER BY query_id
    """,
    doc="ANN quality evaluation: recall@5 of the PQ shortlist-50 + exact "
    "re-rank pipeline (knn_pq_rerank, the IVFADC+R layout) against the "
    "exact squared-L2 brute-force top-k — PQ approximates L2, so L2, not "
    "cosine, is the honest baseline. Random fixture embeddings are PQ's "
    "worst case (no cluster structure), so the measured ~0.5 recall at a "
    "10%-of-corpus shortlist is the floor, not the typical; the oracle "
    "replays codebook training (k=16), ADC shortlist and re-rank "
    "end-to-end (similarity extension)",
)
def q_ann_recall_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    # ADC approximates L2, so the exact reference metric is L2, not cosine
    return _recall_at_k(
        sim.knn_l2(e, q, k=5),
        sim.knn_pq_rerank(e, q, k=5, shortlist=50, k_centroids=16),
    )


# BM25 constants (Robertson/Okapi defaults) and the fixed query-term set —
# literals shared by engine and oracle.
_BM25_K1, _BM25_B = 1.2, 0.75
_BM25_TERMS = ["spark", "join", "shuffle"]


@register(
    "doc_bm25_topk",
    f"""
    WITH words AS (
        SELECT doc_id, unnest(regexp_extract_all(lower(text),
                              '([a-z0-9]+)', 1)) AS w
        FROM documents),
    dl AS (SELECT doc_id, COUNT(*)::DOUBLE AS dl FROM words GROUP BY doc_id),
    stats AS (SELECT AVG(dl) AS avgdl, COUNT(*)::DOUBLE AS n FROM dl),
    tf AS (
        SELECT doc_id, w, COUNT(*)::DOUBLE AS tf FROM words
        WHERE w IN ({", ".join(f"'{t}'" for t in _BM25_TERMS)})
        GROUP BY doc_id, w),
    df AS (SELECT w, COUNT(*)::DOUBLE AS df FROM tf GROUP BY w),
    scored AS (
        SELECT tf.doc_id,
               SUM(ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
                   * tf.tf * ({_BM25_K1!r} + 1.0)
                   / (tf.tf + {_BM25_K1!r} * (1.0 - {_BM25_B!r}
                      + {_BM25_B!r} * dl.dl / s.avgdl))) AS score
        FROM tf
        JOIN df USING (w) JOIN dl USING (doc_id), stats s
        GROUP BY tf.doc_id),
    ranked AS (
        SELECT doc_id, ROUND(score, 6) AS score,
               ROW_NUMBER() OVER (ORDER BY ROUND(score, 6) DESC, doc_id)::INT
                   AS rank
        FROM scored)
    SELECT rank, doc_id, score FROM ranked WHERE rank <= 10
    """,
    doc="Okapi BM25 top-k retrieval for a fixed term set (k1=1.2, b=0.75): "
    "doc-length normalization from a broadcast (avgdl, N) aggregate, idf "
    "from per-term df, one doc-keyed partial-agg sum, rank on the ROUNDED "
    "score with doc_id tiebreak (cross-engine-stable ordering). The "
    "retrieval primitive under corpus curation search / hard-negative "
    "mining (training-data extension)",
)
def q_doc_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    # single-split guard before the tokenize+explode stage
    d = ensure_parallelism(d.select("doc_id", "text"), "doc_id")
    words = d.select(
        "doc_id", F.explode(text_fns.word_tokens("text")).alias("w")
    )
    dl = words.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("double").alias("dl")
    )
    stats = dl.agg(
        F.avg("dl").alias("avgdl"), F.count(F.lit(1)).cast("double").alias("n")
    )
    tf = (
        words.where(F.col("w").isin(_BM25_TERMS))
        .groupBy("doc_id", "w")
        .agg(F.count(F.lit(1)).cast("double").alias("tf"))
    )
    df_ = tf.groupBy("w").agg(F.count(F.lit(1)).cast("double").alias("df"))
    idf = F.log(
        1.0 + (F.col("n") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    term_score = idf * F.col("tf") * (_BM25_K1 + 1.0) / (
        F.col("tf")
        + _BM25_K1 * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
    )
    scored = (
        tf.join(F.broadcast(df_), "w")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("doc_id")
        .agg(F.round(F.sum(term_score), 6).alias("score"))
    )
    # TakeOrdered (sort+limit) prunes distributed — the global row_number
    # window then runs on 10 rows, never the corpus
    top = scored.orderBy(F.col("score").desc(), "doc_id").limit(10)
    w = Window.orderBy(F.col("score").desc(), "doc_id")
    return top.withColumn("rank", F.row_number().over(w).cast("int")).select(
        "rank", "doc_id", "score"
    )


_RRF_K = 60


def _register_hybrid_rrf() -> None:
    """Registered via a helper so the oracle can EMBED the already-
    registered BM25 oracle as a subquery — the lexical list in both
    engines is definitionally the same query."""
    bm25_sql = REGISTRY["doc_bm25_topk"].oracle

    @register(
        "hybrid_rrf_retrieval",
        f"""
    WITH bm AS (SELECT doc_id, rank AS bm_rank FROM ({bm25_sql}) t),
    v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
          FROM embeddings),
    qv AS (SELECT v FROM v WHERE vec_id = 0),
    sem_scored AS (
        SELECT v.vec_id AS doc_id,
               ROUND(list_dot_product(qv.v, v.v)
                     / GREATEST(sqrt(list_dot_product(qv.v, qv.v))
                                * sqrt(list_dot_product(v.v, v.v)), 1e-12),
                     6) AS cos
        FROM v, qv WHERE v.vec_id <> 0),
    sem AS (
        SELECT doc_id, rank AS sem_rank FROM (
            SELECT doc_id,
                   ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id)::INT AS rank
            FROM sem_scored) WHERE rank <= 10),
    fused AS (
        SELECT COALESCE(bm.doc_id, sem.doc_id) AS doc_id,
               bm.bm_rank, sem.sem_rank,
               ROUND(COALESCE(1.0 / ({_RRF_K} + bm.bm_rank), 0.0)
                     + COALESCE(1.0 / ({_RRF_K} + sem.sem_rank), 0.0), 6)
                   AS rrf_score
        FROM bm FULL OUTER JOIN sem ON bm.doc_id = sem.doc_id)
    SELECT ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id)::INT AS rank,
           doc_id, rrf_score,
           (bm_rank IS NOT NULL) AS in_lexical,
           (sem_rank IS NOT NULL) AS in_semantic
    FROM fused
    QUALIFY rank <= 10
    """,
        doc="hybrid retrieval by reciprocal-rank fusion (Cormack, Clarke & "
        "Buettcher, SIGIR 2009; k=60 is their recommended constant): the BM25 "
        "lexical top-10 (embedded verbatim — same registered query both "
        "engines) fused with the embedding-cosine semantic top-10 for a "
        "fixed query vector; RRF(d) = Σ 1/(k + rank_source(d)). The "
        "standard lexical+dense hybrid that beats either list alone — "
        "fusion is a full-outer join of two ≤10-row lists, so the added "
        "cost over the two retrievers is nil at any corpus size "
        "(retrieval extension)",
    )
    def q_hybrid_rrf_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
        bm = (
            q_doc_bm25_topk(spark, sf_dir)
            .select("doc_id", F.col("rank").alias("bm_rank"))
        )
        e = _t(spark, sf_dir, "embeddings")
        qv = e.where(F.col("vec_id") == 0).select(
            F.col("embedding").alias("qvec")
        )
        sem_scored = (
            ensure_parallelism(e.where(F.col("vec_id") != 0), "vec_id")
            .crossJoin(F.broadcast(qv))
            .select(
                F.col("vec_id").alias("doc_id"),
                F.round(sim.cosine("qvec", "embedding"), 6)
                .alias("cos"),
            )
        )
        sem_top = sem_scored.orderBy(F.col("cos").desc(), "doc_id").limit(10)
        w = Window.orderBy(F.col("cos").desc(), "doc_id")
        sem = sem_top.select(
            "doc_id", F.row_number().over(w).cast("int").alias("sem_rank")
        )
        fused = (
            bm.join(sem, "doc_id", "full_outer")
            .select(
                "doc_id",
                "bm_rank",
                "sem_rank",
                F.round(
                    F.coalesce(
                        F.lit(1.0) / (F.lit(_RRF_K) + F.col("bm_rank")),
                        F.lit(0.0),
                    )
                    + F.coalesce(
                        F.lit(1.0) / (F.lit(_RRF_K) + F.col("sem_rank")),
                        F.lit(0.0),
                    ),
                    6,
                ).alias("rrf_score"),
            )
        )
        top = fused.orderBy(F.col("rrf_score").desc(), "doc_id").limit(10)
        w2 = Window.orderBy(F.col("rrf_score").desc(), "doc_id")
        return top.select(
            F.row_number().over(w2).cast("int").alias("rank"),
            "doc_id",
            "rrf_score",
            F.col("bm_rank").isNotNull().alias("in_lexical"),
            F.col("sem_rank").isNotNull().alias("in_semantic"),
        )


_register_hybrid_rrf()


@register(
    "doc_paragraph_dedup",
    """
    WITH paras AS (
        SELECT doc_id, (u.i - 1)::BIGINT AS idx, p[u.i] AS para
        FROM (SELECT doc_id, string_split(COALESCE(text, ''), chr(10)) AS p
              FROM documents),
             LATERAL (SELECT unnest(range(1, len(p) + 1)) AS i) u),
    hashed AS (
        SELECT doc_id, idx, para,
               CASE WHEN lower(trim(para)) <> '' THEN
                 ('0x' || substr(md5('11:' || lower(trim(para))), 1, 15))::BIGINT
               END AS ph
        FROM paras),
    ranked AS (
        SELECT doc_id, idx, para, ph,
               ROW_NUMBER() OVER (PARTITION BY ph ORDER BY doc_id, idx) AS rn
        FROM hashed),
    verdict AS (
        SELECT doc_id, idx, para,
               (ph IS NULL OR rn = 1) AS kept
        FROM ranked)
    SELECT doc_id AS id,
           COUNT(*)::BIGINT AS n_paras,
           SUM(CASE WHEN kept THEN 1 ELSE 0 END)::BIGINT AS n_kept,
           md5(COALESCE(
             string_agg(CASE WHEN kept THEN para END, chr(10) ORDER BY idx),
             '')) AS cleaned_md5
    FROM verdict GROUP BY doc_id ORDER BY id
    """,
    doc="paragraph-level exact dedup (CCNet, Wenzek et al. 2020 §3): "
    "newline-delimited paragraphs, normalized-hash equality, deterministic "
    "first-seen-wins (min (doc, idx) survives), blank lines structural. "
    "Split/posexplode row-local; ONE hash-keyed count/min partial agg; "
    "verdict join-back against only the count≥2 hashes "
    "(AQE-broadcastable); one doc-keyed reassembly agg "
    "(training-data extension)",
)
def q_doc_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.dedup import dedup_paragraphs

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    out = dedup_paragraphs(d, "doc_id", "text")
    return out.select(
        "id", "n_paras", "n_kept", F.md5("cleaned").alias("cleaned_md5")
    ).orderBy("id")


@register(
    "doc_dedup_spans_char",
    """
    WITH d AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
    w AS (
        SELECT doc_id, (u.i - 1)::INT AS s,
               ('0x' || substr(md5('13:' || substr(text, u.i, 50)),
                               1, 15))::BIGINT AS h
        FROM d, LATERAL (SELECT unnest(range(1, length(text) - 50 + 2)) AS i) u
        WHERE length(text) >= 50),
    c AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
    ds AS (SELECT w.doc_id, w.s FROM w JOIN c USING (h)),
    isl AS (
        SELECT doc_id, s,
               CASE WHEN s > COALESCE(MAX(s) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -999999) + 50 THEN 1 ELSE 0 END AS brk
        FROM ds),
    grp AS (SELECT doc_id, s,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS g
            FROM isl),
    iv AS (SELECT doc_id, g, MIN(s) AS lo, MAX(s) + 49 AS hi
           FROM grp GROUP BY doc_id, g),
    cov AS (SELECT doc_id, SUM(hi - lo + 1)::BIGINT AS n_removed
            FROM iv GROUP BY doc_id),
    gap AS (
        SELECT doc_id,
               COALESCE(LAG(hi) OVER (PARTITION BY doc_id ORDER BY lo), -1)
                 + 1 AS gs,
               lo AS ge
        FROM iv
        UNION ALL
        SELECT doc_id, MAX(hi) + 1 AS gs, NULL AS ge
        FROM iv GROUP BY doc_id),
    seg AS (
        SELECT g.doc_id, g.gs,
               substr(d.text, g.gs + 1,
                      COALESCE(g.ge, length(d.text)) - g.gs) AS seg
        FROM gap g JOIN d ON d.doc_id = g.doc_id),
    cl AS (SELECT doc_id, string_agg(seg, '' ORDER BY gs) AS cleaned
           FROM seg GROUP BY doc_id)
    SELECT d.doc_id AS id, length(d.text)::BIGINT AS n_chars,
           COALESCE(cov.n_removed, 0)::BIGINT AS n_removed,
           length(COALESCE(cl.cleaned, d.text))::BIGINT AS cleaned_len,
           md5(COALESCE(cl.cleaned, d.text)) AS cleaned_md5
    FROM d LEFT JOIN cov USING (doc_id)
    LEFT JOIN cl ON cl.doc_id = d.doc_id
    ORDER BY id
    """,
    doc="CHARACTER-level exact-substring excision — the paper-exact "
    "Lee et al. 2022 ExactSubstr criterion (duplicated ≥50-char spans, "
    "reconstructed exactly by the union of duplicated 50-char windows; "
    "the suffix array is the shared-memory equivalent, the rolling-window "
    "hash count is the distributed one). Window hashes row-local (text "
    "never rides the explode), ONE hash-keyed occurrence agg, dup starts "
    "back via semi-join bounded by dup density, interval merge + residue "
    "as array HOFs on the doc row (training-data extension)",
)
def q_doc_dedup_spans_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.dedup import remove_duplicated_spans_char

    d = _t(spark, sf_dir, "documents").withColumn(
        "text", F.coalesce("text", F.lit(""))
    )
    out = remove_duplicated_spans_char(d, "doc_id", "text", min_len=50)
    return out.select(
        "id",
        "n_chars",
        "n_removed",
        F.length("cleaned").cast("bigint").alias("cleaned_len"),
        F.md5("cleaned").alias("cleaned_md5"),
    ).orderBy("id")


@register(
    "dsir_weights",
    """
    WITH docs AS (
        SELECT doc_id AS id, (lang = 'en') AS is_tgt,
               regexp_extract_all(lower(COALESCE(text, '')),
                                  '([a-z0-9]+)', 1) AS w
        FROM documents),
    inst AS (
        SELECT id, is_tgt,
               ('0x' || substr(md5('29:' || t.tok), 1, 15))::BIGINT % 4096 AS b,
               COUNT(*)::BIGINT AS n
        FROM docs, LATERAL (SELECT unnest(w) AS tok) t
        GROUP BY 1, 2, 3),
    fits AS (
        SELECT b, SUM(n)::BIGINT AS c_raw,
               SUM(CASE WHEN is_tgt THEN n ELSE 0 END)::BIGINT AS c_tgt
        FROM inst GROUP BY b),
    tot AS (SELECT SUM(c_raw)::BIGINT AS t_raw, SUM(c_tgt)::BIGINT AS t_tgt
            FROM fits),
    ratio AS (
        SELECT b, ln((c_tgt + 0.5) / (t_tgt + 0.5 * 4096))
                - ln((c_raw + 0.5) / (t_raw + 0.5 * 4096)) AS lr
        FROM fits, tot),
    scored AS (
        SELECT id, SUM(n)::BIGINT AS n_tokens, ROUND(SUM(n * lr), 6) AS logw
        FROM inst JOIN ratio USING (b) GROUP BY id)
    SELECT d.id, COALESCE(s.n_tokens, 0)::BIGINT AS n_tokens,
           COALESCE(s.logw, 0.0)::DOUBLE AS logw
    FROM (SELECT DISTINCT id FROM docs) d LEFT JOIN scored s USING (id)
    ORDER BY d.id
    """,
    doc="DSIR importance weights (Xie et al. 2023): per-doc hashed-unigram "
    "log importance ratio between the target distribution (lang='en' "
    "sample) and the raw corpus, add-0.5 smoothed over 4096 buckets — the "
    "importance-resampling score that tilts a crawl toward a curated "
    "target without a trained classifier. ONE (doc,bucket) partial-count "
    "shuffle checkpointed for both fits and the scoring join; the fitted "
    "log-ratio table is ≤4096 rows and broadcasts; per-doc score = "
    "broadcast equi-join + doc-keyed agg (training-data extension)",
)
def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.curation import dsir_weights

    d = _t(spark, sf_dir, "documents")
    return dsir_weights(d, F.col("lang") == "en").orderBy("id")


def _lr_quality_sql(rounds: int = 3, n_buckets: int = 256, lr: float = 0.5,
                    seed: int = 31, train_where: str | None = None) -> str:
    """Generated oracle for doc_lr_quality / lr_score_frozen: replays the
    unrolled full-batch GD rounds of `textops.lr_quality_train` as CTE
    chains — per round the INTEGER-exact gradient (per-doc error quantized
    to 1e-9 units, BIGINT sum), the 9dp-rounded step, and the weight fold;
    the final pass scores EVERY doc under the trained weights. With
    `train_where`, the gradient rounds run over the matching docs only
    (the frozen train/serve split `lr_train_weights` + `lr_score`
    exercise); with None the output string is byte-identical to the
    original same-frame oracle."""
    tdocs = "docs" if train_where is None else "t_docs"
    parts = []
    prev_w, prev_b = "w0", "bias0"
    for r in range(1, rounds + 1):
        parts.append(f"""
    z{r} AS (
        SELECT d.id, d.y,
               COALESCE(s.zz, 0) + (SELECT b0 FROM {prev_b}) AS z
        FROM {tdocs} d
        LEFT JOIN (SELECT id, SUM(n * w.w) AS zz
                   FROM inst JOIN {prev_w} w USING (b) GROUP BY id) s
               USING (id)),
    e{r} AS (SELECT id,
                    CAST(ROUND((1.0/(1.0+exp(-z)) - y) * 1000000000.0, 0)
                         AS BIGINT) AS eq
             FROM z{r}),
    g{r} AS (SELECT i.b,
                    ROUND({-lr} * (CAST(SUM(i.n * e.eq) AS DOUBLE)
                                   / 1000000000.0)
                          / (SELECT n FROM nn), 9) AS step
             FROM inst i JOIN e{r} e USING (id) GROUP BY i.b),
    w{r} AS (
        SELECT g.b, ROUND(COALESCE(w.w, 0) + g.step, 9) AS w
        FROM g{r} g LEFT JOIN {prev_w} w USING (b)
        UNION ALL
        SELECT w.b, w.w FROM {prev_w} w ANTI JOIN g{r} g USING (b)),
    bias{r} AS (
        SELECT ROUND((SELECT b0 FROM {prev_b})
                     + ROUND({-lr} * (CAST((SELECT SUM(eq) FROM e{r})
                                           AS DOUBLE) / 1000000000.0)
                             / (SELECT n FROM nn), 9), 9) AS b0)""")
        prev_w, prev_b = f"w{r}", f"bias{r}"
    chain = ",".join(parts)
    train_cte = (
        "" if train_where is None
        else f"\n    t_docs AS (SELECT * FROM docs WHERE {train_where}),"
    )
    return f"""
    WITH docs AS (
        SELECT doc_id AS id,
               CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END AS y,
               regexp_extract_all(lower(COALESCE(text, '')),
                                  '([a-z0-9]+)', 1) AS toks
        FROM documents),
    inst AS (
        SELECT id,
               ('0x' || substr(md5('{seed}:' || t.tok), 1, 15))::BIGINT
                 % {n_buckets} AS b,
               COUNT(*)::BIGINT AS n
        FROM docs, LATERAL (SELECT unnest(toks) AS tok) t
        GROUP BY 1, 2),
{train_cte}
    nn AS (SELECT COUNT(*)::DOUBLE AS n FROM {tdocs}),
    w0 AS (SELECT CAST(NULL AS BIGINT) AS b, CAST(NULL AS DOUBLE) AS w
           WHERE FALSE),
    bias0 AS (SELECT 0.0 AS b0),{chain},
    zf AS (
        SELECT d.id, COALESCE(s.zz, 0) + (SELECT b0 FROM {prev_b}) AS z
        FROM docs d
        LEFT JOIN (SELECT id, SUM(n * w.w) AS zz
                   FROM inst JOIN {prev_w} w USING (b) GROUP BY id) s
               USING (id)),
    ntok AS (SELECT id, SUM(n)::BIGINT AS n_tokens FROM inst GROUP BY id)
    SELECT zf.id,
           COALESCE(ntok.n_tokens, 0)::BIGINT AS n_tokens,
           ROUND(1.0/(1.0+exp(-zf.z)), 6) AS p,
           (ROUND(1.0/(1.0+exp(-zf.z)), 6) >= 0.5) AS pred
    FROM zf LEFT JOIN ntok USING (id)
    ORDER BY zf.id
    """


@register(
    "doc_lr_quality",
    _lr_quality_sql,
    doc="IN-ENGINE quality-classifier training (the GPT-3/PaLM 'classify "
    "against a high-quality reference' LR filter, Brown et al. 2020 "
    "app. A): 3 unrolled full-batch GD rounds over hashed-unigram counts "
    "(256 buckets), then score every doc. Per round: z/err are row-local "
    "(weights ride as a broadcast join — measured 16-65x faster than the "
    "literal-map HOF fold, see textops._lr_fit), the gradient is ONE "
    "bucket-keyed partial agg made INTEGER-exact (per-doc error "
    "quantized to 1e-9 units, BIGINT sum — order-independent, so engines "
    "agree bit-for-bit), steps rounded 9dp; driver folds ≤256 doubles "
    "per round like the k-means trainer. Oracle unrolls the identical "
    "rounds as CTEs (training-data extension)",
)
def q_doc_lr_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.textops import lr_quality_train

    d = _t(spark, sf_dir, "documents")
    return lr_quality_train(d, F.col("lang") == "en").orderBy("id")


@register(
    "lr_calibration",
    f"""
    WITH s AS ({_lr_quality_sql(rounds=1)}),
    lab AS (SELECT doc_id AS id,
                   CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
            FROM documents),
    b AS (
        SELECT LEAST(CAST(ROUND(s.p * 1000000.0, 0) AS BIGINT) // 100000,
                     9)::INT AS bin,
               CAST(ROUND(s.p * 1000000.0, 0) AS BIGINT) AS p_e6,
               lab.y
        FROM s JOIN lab USING (id))
    SELECT bin,
           COUNT(*)::BIGINT AS n,
           ROUND(SUM(p_e6) / (COUNT(*) * 1000000.0), 6) AS mean_p,
           ROUND(SUM(y) / (COUNT(*) * 1.0), 6) AS pos_rate
    FROM b
    GROUP BY bin
    ORDER BY bin
    """,
    doc="Calibration (reliability) bins for the in-engine LR quality "
    "classifier: train as doc_lr_quality, decile-bin the predicted p and "
    "report per-bin count, mean prediction and empirical positive rate — "
    "the reliability diagram behind choosing a gate threshold. Trained "
    "ONE GD round, deliberately under-trained: the fully-trained model "
    "separates this corpus so sharply that every p lands in one decile "
    "and the diagram degenerates — one round spreads predictions over "
    "4+ bins at every SF, which is what a calibration readout is for. "
    "Engine-portable by integer math: p is 6dp, so p·1e6 is an exact "
    "BIGINT — bins come from integer division and means from exact "
    "integer sums, never float accumulation order. One groupBy over "
    "10 bins on top of the training pass (training-data extension)",
)
def q_lr_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.textops import lr_quality_train

    d = _t(spark, sf_dir, "documents")
    scores = lr_quality_train(d, F.col("lang") == "en", rounds=1)
    lab = d.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("lang") == "en", 1).otherwise(0).alias("y"),
    )
    p_e6 = F.round(F.col("p") * 1e6, 0).cast("bigint")
    b = scores.join(lab, "id").select(
        F.least(F.floor(p_e6 / 100000).cast("int"), F.lit(9)).alias("bin"),
        p_e6.alias("p_e6"),
        "y",
    )
    return (
        b.groupBy("bin")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(
                F.sum("p_e6") / (F.count(F.lit(1)) * 1e6), 6
            ).alias("mean_p"),
            F.round(
                F.sum("y") / F.count(F.lit(1)).cast("double"), 6
            ).alias("pos_rate"),
        )
        .orderBy("bin")
    )


@register(
    "lr_score_frozen",
    _lr_quality_sql(train_where="id % 2 = 0"),
    doc="FROZEN LR serving — the train/serve split every ingest pipeline "
    "runs: `lr_train_weights` fits on HALF the corpus (doc_id % 2 = 0, "
    "label lang='en'), the returned (weights, bias) artifact is frozen, "
    "and `lr_score` gates the WHOLE corpus against it (the streaming "
    "intake's lr_model path, scored here as its batch twin). Serving is "
    "one (doc,bucket) partial-count shuffle + a broadcast weight join + "
    "an id-keyed agg — per-batch cost, independent of training history. "
    "Oracle unrolls the identical integer-exact GD rounds over the train "
    "half only, then scores all docs (training-data extension)",
)
def q_lr_score_frozen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.textops import lr_score, lr_train_weights

    d = _t(spark, sf_dir, "documents")
    w, b0 = lr_train_weights(
        d.where(F.col("doc_id") % 2 == 0), F.col("lang") == "en"
    )
    return lr_score(d, w, b0, id_col="doc_id").orderBy("id")


@register(
    "intake_accepted_batch",
    """
    WITH f AS (
        SELECT doc_id,
               regexp_split_to_array(trim(text), '\\s+') AS words,
               regexp_split_to_array(text, '\\n') AS lines,
               length(text)
                 - length(replace(text, '#', ''))
                 + (length(text) - length(replace(text, '...', ''))) / 3
                 + length(text) - length(replace(text, '…', '')) AS n_sym,
               len(list_distinct(regexp_extract_all(lower(text),
                   '\\b(the|be|to|of|and|that|have|with)\\b', 1)))
                 AS n_stopwords
        FROM documents),
    g AS (
        SELECT doc_id,
               len(words) AS n_words,
               GREATEST(len(words), 1) AS nw,
               GREATEST(len(lines), 1) AS nl,
               list_sum(list_transform(words, w -> length(w))) AS sum_wl,
               list_sum(list_transform(words, w ->
                   CASE WHEN regexp_matches(w, '[A-Za-z]')
                        THEN 1 ELSE 0 END)) AS n_alpha_words,
               list_sum(list_transform(lines, l ->
                   CASE WHEN substr(ltrim(l), 1, 1) IN ('-', '*', '•')
                        THEN 1 ELSE 0 END)) AS n_bullet,
               list_sum(list_transform(lines, l ->
                   CASE WHEN rtrim(l) LIKE '%...' OR rtrim(l) LIKE '%…'
                        THEN 1 ELSE 0 END)) AS n_ell_lines,
               n_sym, n_stopwords
        FROM f),
    kept AS (
        SELECT doc_id FROM g
        WHERE (n_words BETWEEN 50 AND 100000)
          AND (sum_wl / nw BETWEEN 3.0 AND 10.0)
          AND (n_sym / nw <= 0.1)
          AND (n_bullet / nl <= 0.9)
          AND (n_ell_lines / nl <= 0.3)
          AND (n_alpha_words / nw >= 0.8)),
    ded AS (
        SELECT MIN(d.doc_id) AS doc_id
        FROM documents d JOIN kept USING (doc_id)
        GROUP BY d.text),
    t_docs AS (
        SELECT (lang = 'en') AS is_tgt,
               regexp_extract_all(lower(COALESCE(text, '')),
                                  '([a-z0-9]+)', 1) AS w
        FROM documents WHERE doc_id % 2 = 0),
    fits AS (
        SELECT ('0x' || substr(md5('29:' || t.tok), 1, 15))::BIGINT
                 % 4096 AS b,
               COUNT(*)::BIGINT AS c_raw,
               SUM(CASE WHEN is_tgt THEN 1 ELSE 0 END)::BIGINT AS c_tgt
        FROM t_docs, LATERAL (SELECT unnest(w) AS tok) t
        GROUP BY 1),
    tot AS (SELECT SUM(c_raw)::BIGINT AS t_raw, SUM(c_tgt)::BIGINT AS t_tgt
            FROM fits),
    ratio AS (
        SELECT b, ln((c_tgt + 0.5) / (t_tgt + 0.5 * 4096))
                - ln((c_raw + 0.5) / (t_raw + 0.5 * 4096)) AS lr
        FROM fits, tot),
    s_inst AS (
        SELECT dd.doc_id AS id,
               ('0x' || substr(md5('29:' || t.tok), 1, 15))::BIGINT
                 % 4096 AS b,
               COUNT(*)::BIGINT AS n
        FROM ded dd
        JOIN documents d USING (doc_id),
        LATERAL (SELECT unnest(regexp_extract_all(
            lower(COALESCE(d.text, '')), '([a-z0-9]+)', 1)) AS tok) t
        GROUP BY 1, 2),
    scored AS (
        SELECT id, SUM(n)::BIGINT AS n_tokens,
               ROUND(SUM(n * COALESCE(r.lr, 0.0)), 6) AS logw
        FROM s_inst LEFT JOIN ratio r USING (b) GROUP BY id)
    SELECT id AS doc_id, n_tokens, logw
    FROM scored
    WHERE logw >= -12.0
    ORDER BY doc_id
    """,
    doc="BATCH TWIN of the streaming corpus intake "
    "(streaming/intake_stream.py): Gopher rule gate (the bundle minus "
    "the distinct-stopword floor, which the synthetic corpus cannot "
    "pass — zero rows would make the check vacuous) → exact dedup "
    "first-seen-wins (min doc_id per identical text — the batch "
    "equivalent of dropDuplicatesWithinWatermark's first arrival) → "
    "DSIR scoring against a ratio FROZEN from the doc_id%2=0 train half "
    "(target lang='en') → importance threshold logw >= -12. Exercises the "
    "frozen `dsir_ratio`/`dsir_score` train/serve split end-to-end; the "
    "same chain the stream applies per micro-batch, so this oracle is "
    "the stream's ground truth at any scale (training-data extension)",
)
def q_intake_accepted_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.functions.text import gopher_quality_flags
    from osmesa_spark.operators.curation import dsir_ratio
    from osmesa_spark.streaming.intake_stream import intake_accepted_docs

    d = _t(spark, sf_dir, "documents")
    ratio = dsir_ratio(
        d.where(F.col("doc_id") % 2 == 0), F.col("lang") == "en"
    ).localCheckpoint(eager=False)
    g = gopher_quality_flags("text")
    gated = d.where(
        g["r_word_count"] & g["r_word_len"] & g["r_symbols"]
        & g["r_bullets"] & g["r_ellipsis"] & g["r_alpha_words"]
    )
    # pin the gate+dedup subtree: intake_accepted_docs consumes it TWICE
    # (the dsir_score instance pass and the score join-back) — the stream
    # gets this for free because each micro-batch is already materialized,
    # but the batch twin would re-run the gate and the dedup shuffle per
    # consumer (measured at sf0.1: 2.76 s -> 1.67 s median of 3)
    deduped = (
        gated.groupBy("text")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id", "text")
        .localCheckpoint(eager=False)
    )
    # -12.0 sits mid-distribution for the synthetic corpus (logw is
    # negative throughout: the en target is a corpus minority), so the
    # gate genuinely splits accepted from rejected at every SF
    accepted = intake_accepted_docs(deduped, ratio, min_logw=-12.0)
    return accepted.select("doc_id", "n_tokens", "logw").orderBy("doc_id")


def _two_word_lined(d: DataFrame) -> DataFrame:
    """Deterministic 2-word 'lined text' derivation SHARED by
    doc_line_dedup and doc_gopher_repetition (the synthetic corpus has
    no native line structure, so both engines derive the same lines
    first). Both queries' DuckDB oracles replay exactly this
    construction — keeping it in one place keeps them in lockstep."""
    toks = text_fns.word_tokens("text")
    # let-bound token array: the per-chunk lambda otherwise re-runs the
    # tokenizing regex once per 2-word chunk (functions.text.shingles_sql fix)
    lined_text = text_fns._let(
        toks,
        lambda t: F.array_join(
            F.transform(
                F.sequence(
                    F.lit(0), F.floor((F.size(t) + 1) / 2).cast("bigint") - 1
                ),
                lambda i: F.concat_ws(" ", F.slice(t, i * 2 + 1, 2)),
            ),
            "\n",
        ),
    )
    return d.where(F.size(toks) > 0).select(
        "doc_id", lined_text.alias("text")
    )


@register(
    "doc_line_dedup",
    """
    WITH tokens AS (
        SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS w
        FROM documents),
    lined AS (
        SELECT doc_id, list_transform(
                   range(0, ((len(w) + 1) // 2)::BIGINT),
                   i -> array_to_string(w[i*2+1 : i*2+2], ' ')) AS ls
        FROM tokens WHERE len(w) > 0),
    l AS (
        SELECT doc_id, unnest(ls) AS line, generate_subscripts(ls, 1) AS i
        FROM lined),
    firsts AS (
        SELECT doc_id, line, MIN(i) AS fi FROM l GROUP BY doc_id, line),
    agg AS (
        SELECT doc_id, COUNT(*)::BIGINT AS n_kept,
               md5(string_agg(line, chr(10) ORDER BY fi)) AS dedup_md5
        FROM firsts GROUP BY doc_id)
    SELECT lined.doc_id, len(lined.ls)::BIGINT AS n_lines,
           agg.n_kept, agg.dedup_md5
    FROM lined JOIN agg USING (doc_id) ORDER BY doc_id
    """,
    doc="INTRA-document exact line dedup (keep first occurrence, preserve "
    "order) — the boilerplate collapse (nav menus, repeated headers, chat "
    "echo) RefinedWeb/Dolma run before corpus-level paragraph dedup "
    "(`doc_paragraph_dedup` is the cross-doc sibling). The synthetic "
    "corpus has no line structure, so both engines derive the same "
    "2-word lines first (~2% of lines collapse at sf0.01). The operator "
    "itself (`textops.dedup_lines_within_doc`) is a ZERO-shuffle "
    "projection: split / first-occurrence filter / rejoin as array HOFs "
    "in codegen; deduped text md5-checked (training-data extension)",
)
def q_doc_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.textops import dedup_lines_within_doc

    d = _t(spark, sf_dir, "documents")
    lined = _two_word_lined(d)
    out = dedup_lines_within_doc(lined, "doc_id", "text")
    return out.select(
        "doc_id", "n_lines", "n_kept",
        F.md5("text_dedup").alias("dedup_md5"),
    ).orderBy("doc_id")


# C4's released filter drops any page containing a term from the public
# "List of Dirty, Naughty, Obscene..." list; the synthetic corpus carries
# none of those, so the registry list mixes two terms that DO occur
# ('slow', 'big' — the gate does real work: some docs drop, most keep)
# with two that don't ('spam', 'nsfw' — absent terms must cost nothing).
_BLOCKLIST_TERMS = ["slow", "big", "spam", "nsfw"]


@register(
    "doc_blocklist_filter",
    """
    WITH toks AS (
        SELECT doc_id,
               regexp_extract_all(lower(COALESCE(text, '')),
                                  '([a-z0-9]+)', 1) AS t
        FROM documents)
    SELECT doc_id,
           len(t)::BIGINT AS n_tokens,
           len(list_filter(t, x -> x IN ('slow', 'big', 'spam', 'nsfw')))::BIGINT
               AS n_blocked,
           ROUND(len(list_filter(t, x -> x IN ('slow', 'big', 'spam', 'nsfw')))
                 / GREATEST(len(t), 1)::DOUBLE, 4) AS blocked_frac,
           len(list_filter(t, x -> x IN ('slow', 'big', 'spam', 'nsfw'))) = 0
               AS keep
    FROM toks ORDER BY doc_id
    """,
    doc="C4-style blocklist gate (Raffel et al. 2020 §2.2: drop any page "
    "containing a blocklisted term): per-doc blocked-token census + strict "
    "zero-hit keep verdict + the fraction softer policies tune on. The "
    "term list folds into the plan as a literal IN (codegen, no join) — "
    "right for real-world list sizes; `textops.blocklist_filter_join` is "
    "the broadcast-join twin for 10k+-term lexicons, property-tested "
    "equal (training-data extension)",
)
def q_doc_blocklist_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    flags = text_fns.blocklist_flags("text", _BLOCKLIST_TERMS)
    return (
        d.select("doc_id", flags.alias("f"))
        .select("doc_id", "f.n_tokens", "f.n_blocked", "f.blocked_frac",
                "f.keep")
        .orderBy("doc_id")
    )


@register(
    "domain_reweight_nll",
    """
    WITH tokens AS (
        SELECT doc_id, regexp_extract_all(lower(text), '([a-z0-9]+)', 1) AS w
        FROM documents),
    bg AS (
        SELECT doc_id, w[u.i] AS a, w[u.i + 1] AS b
        FROM tokens, LATERAL (SELECT unnest(range(1, len(w))) AS i) u
        WHERE len(w) >= 2),
    cab AS (SELECT a, b, COUNT(*)::DOUBLE AS c_ab FROM bg GROUP BY a, b),
    ca AS (SELECT a, SUM(c_ab)::DOUBLE AS c_a FROM cab GROUP BY a),
    v AS (SELECT COUNT(*)::DOUBLE AS v FROM
          (SELECT a AS t FROM cab UNION SELECT b FROM cab)),
    probs AS (
        SELECT cab.a, cab.b,
               ln((cab.c_ab + 0.5) / (ca.c_a + 0.5 * v.v)) AS lp
        FROM cab JOIN ca USING (a), v),
    doc AS (
        SELECT bg.doc_id AS id, COUNT(*)::BIGINT AS n_bigrams,
               ROUND(-AVG(p.lp), 6) AS nll
        FROM bg JOIN probs p ON bg.a = p.a AND bg.b = p.b
        GROUP BY bg.doc_id),
    per AS (
        SELECT d.source, doc.n_bigrams,
               CAST(ROUND(doc.nll * 1e6) AS BIGINT) AS q
        FROM doc JOIN documents d ON doc.id = d.doc_id),
    ps AS (
        SELECT source, COUNT(*)::BIGINT AS n_docs,
               SUM(n_bigrams)::BIGINT AS nb, SUM(q * n_bigrams) AS qs
        FROM per GROUP BY source),
    tot AS (SELECT SUM(nb) AS nbt, SUM(qs) AS qst FROM ps),
    m AS (
        SELECT source, n_docs, nb,
               qs::DOUBLE / (nb * 1e6) AS mean_nll,
               nb::DOUBLE / nbt AS share,
               qst::DOUBLE / (nbt * 1e6) AS corpus_nll
        FROM ps, tot),
    r AS (
        SELECT source, n_docs, nb, mean_nll, share,
               ROUND(share * exp(1.0 * (mean_nll - corpus_nll)), 12) AS raw
        FROM m),
    z AS (SELECT SUM(raw) AS z FROM r)
    SELECT source, n_docs, nb AS n_bigrams,
           ROUND(mean_nll, 6) AS mean_nll,
           ROUND(share, 6) AS base_share,
           ROUND(raw / z, 6) AS weight
    FROM r, z ORDER BY source
    """,
    doc="DoReMi-style domain reweighting (Xie et al. 2023, one "
    "multiplicative-weights step): per-source mixture weight tilted by "
    "EXCESS bigram-LM loss over the corpus mean — weight ∝ share · "
    "exp(η·(nll_src − nll_corpus)), hard domains upweighted; the "
    "data-mixing counterpart of the DSIR importance tilt. Per-doc nll "
    "(6dp) re-quantized to 1e-6 BIGINT so the per-source weighted sum is "
    "an exact integer (decimal accumulator, no float-order drift); one "
    "corpus shuffle beyond the NLL chain, totals + normalizer as two "
    "1-row broadcasts (training-data extension)",
)
def q_domain_reweight_nll(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.textops import domain_reweight_nll

    d = _t(spark, sf_dir, "documents")
    return domain_reweight_nll(d).orderBy("source")


@register(
    "source_js_divergence",
    """
    WITH words AS (
        SELECT source,
               unnest(regexp_extract_all(lower(COALESCE(text, '')),
                                         '([a-z0-9]+)', 1)) AS w
        FROM documents),
    counts AS (
        SELECT source, w, COUNT(*)::DOUBLE AS c
        FROM words GROUP BY source, w),
    totals AS (SELECT source, SUM(c) AS n FROM counts GROUP BY source),
    p AS (
        SELECT counts.source, counts.w, counts.c / totals.n AS p
        FROM counts JOIN totals USING (source)),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               CAST(ROUND((0.5 * (a.p * ln(2.0 * a.p / (a.p + b.p))
                         + b.p * ln(2.0 * b.p / (a.p + b.p)))) * 1e12)
                    AS BIGINT) AS tq,
               CAST(ROUND(a.p * 1e12) AS BIGINT) AS paq,
               CAST(ROUND(b.p * 1e12) AS BIGINT) AS pbq
        FROM p a JOIN p b ON a.w = b.w AND a.source < b.source)
    SELECT source_a, source_b, COUNT(*)::BIGINT AS n_shared,
           ROUND(SUM(tq) / 1e12
                 + 0.5 * 0.6931471805599453
                   * (2.0 - SUM(paq) / 1e12 - SUM(pbq) / 1e12), 6) AS jsd
    FROM shared GROUP BY source_a, source_b
    ORDER BY source_a, source_b
    """,
    doc="pairwise Jensen-Shannon divergence between source unigram "
    "distributions — the domain-similarity matrix behind mixture design, "
    "transfer heuristics and per-source-vs-global dedup sharding (the "
    "probabilistic sibling of `source_dup_matrix`). Shared-word terms + "
    "the ½ln2 one-sided correction; per-word terms quantized to 1e-12 "
    "BIGINT so every agg is an exact integer sum. One vocab-bounded "
    "(source,word) shuffle, broadcast totals, word-keyed self-join with "
    "fan ≤ |sources|² per word → |sources|²/2 output rows "
    "(training-data extension)",
)
def q_source_js_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.textops import source_js_divergence

    d = _t(spark, sf_dir, "documents")
    return source_js_divergence(d).orderBy("source_a", "source_b")


@register(
    "embedding_prototypicality",
    f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings),
    s AS (
        SELECT v, row_number() OVER (ORDER BY
                   ('0x' || substr(md5('29:' || vec_id::VARCHAR), 1, 15))::BIGINT,
                   vec_id) - 1 AS cid
        FROM v QUALIFY cid <= 3),
    a1 AS (
        SELECT vec_id, v, cid FROM (
            SELECT v.vec_id, v.v, s.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                       {_KM_DIST.format(a="v.v", b="s.v")}, s.cid) AS rn
            FROM v, s) t WHERE rn = 1),
    c1 AS (
        SELECT cid, list(rv ORDER BY pos) AS v FROM (
            SELECT cid, pos, round(avg(val), 6) AS rv FROM (
                SELECT cid, unnest(v) AS val,
                       generate_subscripts(v, 1) AS pos FROM a1) u
            GROUP BY cid, pos) g
        GROUP BY cid),
    a2 AS (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, c1.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                       {_KM_DIST.format(a="v.v", b="c1.v")}, c1.cid) AS rn
            FROM v, c1) t WHERE rn = 1),
    scored AS (
        SELECT a2.vec_id, a2.cid AS cluster,
               ROUND(list_dot_product(v.v, c1.v)
                     / GREATEST(sqrt(list_dot_product(v.v, v.v))
                                * sqrt(list_dot_product(c1.v, c1.v)),
                                1e-12), 6) AS cos_c
        FROM a2 JOIN v USING (vec_id) JOIN c1 ON a2.cid = c1.cid),
    ranked AS (
        SELECT vec_id, cluster, cos_c,
               row_number() OVER (PARTITION BY cluster
                                  ORDER BY cos_c DESC, vec_id) AS rank,
               COUNT(*) OVER (PARTITION BY cluster) AS n_c
        FROM scored)
    SELECT vec_id, cluster::INT AS cluster, cos_c, rank::BIGINT AS rank,
           rank > floor(0.25 * n_c) AS keep
    FROM ranked ORDER BY vec_id
    """,
    doc="SSL-prototypes data pruning (Sorscher et al. 2022): cosine of "
    "every embedding to its OWN kmeans centroid, per-cluster "
    "prototypicality rank, most-prototypical 25% of each cluster marked "
    "for removal — the abundant-data pruning policy that beats random "
    "while keeping every mode covered. One Arrow assign pass + broadcast "
    "k-row codebook join + ONE cluster-keyed window shuffle (no pairwise "
    "join — the cheap pass before SemDeDup). Oracle replays the seeded "
    "2-round Lloyd chain (training-data extension)",
)
def q_embedding_prototypicality(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.prototypicality(
        e, k=4, iters=2, prune_frac=0.25, seed=29
    ).orderBy("vec_id")


@register(
    "embedding_density",
    lambda: f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    bk AS (SELECT vec_id, v, {_lsh_bucket_sql()} AS bucket FROM v),
    neigh AS (
        SELECT a.vec_id AS id_a, COUNT(*)::BIGINT AS n_neighbors
        FROM bk a JOIN bk b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id
        WHERE ROUND(list_dot_product(a.v, b.v)
                    / GREATEST(sqrt(list_dot_product(a.v, a.v))
                               * sqrt(list_dot_product(b.v, b.v)),
                               1e-12), 6) >= 0.2
        GROUP BY a.vec_id)
    SELECT bk.vec_id,
           COALESCE(neigh.n_neighbors, 0)::BIGINT AS n_neighbors,
           COALESCE(neigh.n_neighbors, 0) >= 2 AS is_core
    FROM bk LEFT JOIN neigh ON bk.vec_id = neigh.id_a
    ORDER BY bk.vec_id
    """,
    doc="ε-neighbor density census over sign-LSH blocks (the DBSCAN "
    "core-point primitive; density-proportional pruning + outlier triage "
    "signal): per vector, same-bucket neighbors with cosine >= 0.2, "
    "is_core = count >= 2. Bucket-blocked self-join — pair work is "
    "Σ|bucket|², never corpus²; plane count sets E[|bucket|] = N/2^b "
    "(use 30-40 planes at 100 TB). Isolated vectors survive with 0 via "
    "the left join-back; bucketed base checkpointed once for its three "
    "consumers (similarity-search extension)",
)
def q_embedding_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.density_census(
        e, _LSH_PLANES, radius_cos=0.2, min_pts=2
    ).orderBy("vec_id")


@register(
    "decontaminate_spans_char",
    """
    WITH d AS (
        SELECT doc_id, COALESCE(text, '') AS text,
               ('0x' || substr(md5('17:' || doc_id::VARCHAR), 1, 15))::BIGINT
                   % 20 = 0 AS is_eval
        FROM documents),
    w AS (
        SELECT doc_id, is_eval, (u.i - 1)::INT AS s,
               ('0x' || substr(md5('13:' || substr(text, u.i, 20)),
                               1, 15))::BIGINT AS h
        FROM d, LATERAL (SELECT unnest(range(1, length(text) - 20 + 2)) AS i) u
        WHERE length(text) >= 20),
    ev AS (SELECT DISTINCT h FROM w WHERE is_eval),
    ds AS (SELECT w.doc_id, w.s FROM w JOIN ev USING (h) WHERE NOT is_eval),
    isl AS (
        SELECT doc_id, s,
               CASE WHEN s > COALESCE(MAX(s) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -999999) + 20 THEN 1 ELSE 0 END AS brk
        FROM ds),
    grp AS (SELECT doc_id, s,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS g
            FROM isl),
    iv AS (SELECT doc_id, g, MIN(s) AS lo, MAX(s) + 19 AS hi
           FROM grp GROUP BY doc_id, g),
    cov AS (SELECT doc_id, SUM(hi - lo + 1)::BIGINT AS n_covered
            FROM iv GROUP BY doc_id)
    SELECT d.doc_id AS id, length(d.text)::BIGINT AS n_chars,
           COALESCE(cov.n_covered, 0)::BIGINT AS n_covered,
           COALESCE(cov.n_covered, 0) > 0 AS contaminated
    FROM d LEFT JOIN cov USING (doc_id)
    WHERE NOT d.is_eval
    ORDER BY id
    """,
    doc="CHARACTER-level eval decontamination (Lee et al. 2022 §6.2 "
    "exact-substring criterion; GPT-3 overlap audit): per train doc, the "
    "characters covered by >= L-char windows shared with ANY eval doc "
    "(pmod-hash 1-in-20 eval split, the decontaminate_overlap "
    "convention). DISTINCT eval-window hash set is eval-suite-bounded -> "
    "BROADCAST; train windows semi-join it; covered chars via row-local "
    "interval-merge fold. L=20 here (~a 5-gram in the synthetic corpus: "
    "156 train docs flagged at sf0.01); the operator default is the "
    "paper's 50 (training-data extension)",
)
def q_decontaminate_spans_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.dedup import (
        _portable_hash,
        decontaminate_spans_char,
    )

    d = _t(spark, sf_dir, "documents")
    is_eval = (
        F.pmod(_portable_hash(F.col("doc_id").cast("string"), 17), F.lit(20))
        == 0
    )
    return decontaminate_spans_char(
        d.where(~is_eval), d.where(is_eval), min_len=20
    ).orderBy("id")


def _mmr_sql(k: int = 5, lam: float = 0.7, qid: int = 0) -> str:
    """Generated oracle for mmr_diverse_topk: unrolls the k greedy MMR
    rounds as CTEs (the BPE/kmeans replay idiom). Round r scores every
    unselected row as lam*rel - (1-lam)*max cos to the selected set and
    takes the (score DESC, vec_id) top row. Float literals are formatted
    from the SAME python doubles the Spark plan folds in, so both engines
    multiply by bit-identical constants."""
    cos = (
        lambda a, b: f"ROUND(list_dot_product({a}, {b}) / "
        f"GREATEST(sqrt(list_dot_product({a}, {a})) * "
        f"sqrt(list_dot_product({b}, {b})), 1e-12), 6)"
    )
    one_m = 1.0 - lam
    parts = [
        "v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v"
        " FROM embeddings)",
        f"q AS (SELECT v FROM v WHERE vec_id = {qid})",
        "scored AS (SELECT v.vec_id, v.v, "
        + cos("v.v", "q.v")
        + f" AS rel FROM v, q WHERE v.vec_id <> {qid})",
        f"r1 AS (SELECT vec_id, v, rel, ROUND({lam!r} * rel, 6) AS score"
        " FROM scored ORDER BY score DESC, vec_id LIMIT 1)",
    ]
    for r in range(2, k + 1):
        union = " UNION ALL ".join(
            f"SELECT vec_id, v FROM r{i}" for i in range(1, r)
        )
        parts.append(f"sel{r} AS ({union})")
        parts.append(
            f"s{r} AS (SELECT s.vec_id, any_value(s.v) AS v, s.rel, "
            f"ROUND({lam!r} * s.rel - {one_m!r} * "
            f"MAX({cos('s.v', 'sel.v')}), 6) AS score "
            f"FROM scored s, sel{r} sel "
            f"WHERE s.vec_id NOT IN (SELECT vec_id FROM sel{r}) "
            f"GROUP BY s.vec_id, s.rel)"
        )
        parts.append(
            f"r{r} AS (SELECT vec_id, v, rel, score FROM s{r}"
            " ORDER BY score DESC, vec_id LIMIT 1)"
        )
    finals = " UNION ALL ".join(
        f"SELECT {i} AS rank, vec_id, rel, score FROM r{i}"
        for i in range(1, k + 1)
    )
    return "WITH " + ",\n    ".join(parts) + f"\n    {finals} ORDER BY rank"


@register(
    "mmr_diverse_topk",
    _mmr_sql,
    doc="Maximal Marginal Relevance diverse top-k (Carbonell & Goldstein "
    "1998): greedy score = λ·cos(query,v) − (1−λ)·max cos to the selected "
    "set — diverse retrieval / RAG context packing / exemplar selection, "
    "the query-conditioned sibling of prototypicality pruning. Rel kernel "
    "checkpointed once; each of k rounds is a TakeOrdered(1) full-corpus "
    "max with selected vectors as ≤k literals (kmeans/BPE driver-round "
    "discipline — k rows ever reach the driver). Oracle unrolls the "
    "greedy rounds as CTEs (similarity-search extension)",
)
def q_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    qrow = e.where(F.col("vec_id") == 0).select("embedding").head()
    qvec = [float(x) for x in qrow["embedding"]]
    return sim.mmr_select(
        e.where(F.col("vec_id") != 0), qvec, k=5, lam=0.7
    ).orderBy("rank")


@register(
    "corpus_zipf_fit",
    """
    WITH words AS (
        SELECT lang,
               unnest(regexp_extract_all(lower(COALESCE(text, '')),
                                         '([a-z0-9]+)', 1)) AS w
        FROM documents),
    counts AS (
        SELECT lang, w, COUNT(*) AS c FROM words GROUP BY lang, w),
    top AS (
        SELECT lang, c,
               row_number() OVER (PARTITION BY lang
                                  ORDER BY c DESC, w) AS rank
        FROM counts QUALIFY rank <= 100),
    terms AS (
        SELECT lang,
               CAST(ROUND(ln(rank::DOUBLE) * 1e9) AS BIGINT) AS xq,
               CAST(ROUND(ln(c::DOUBLE) * 1e9) AS BIGINT) AS yq,
               CAST(ROUND(ln(rank::DOUBLE) * ln(c::DOUBLE) * 1e9)
                    AS BIGINT) AS xyq,
               CAST(ROUND(ln(rank::DOUBLE) * ln(rank::DOUBLE) * 1e9)
                    AS BIGINT) AS xxq
        FROM top)
    SELECT lang, COUNT(*)::BIGINT AS n_terms,
           ROUND((COUNT(*)::DOUBLE * (SUM(xyq) / 1e9)
                  - (SUM(xq) / 1e9) * (SUM(yq) / 1e9))
                 / (COUNT(*)::DOUBLE * (SUM(xxq) / 1e9)
                    - (SUM(xq) / 1e9) * (SUM(xq) / 1e9)), 6) AS slope,
           ROUND((SUM(yq) / 1e9
                  - ((COUNT(*)::DOUBLE * (SUM(xyq) / 1e9)
                      - (SUM(xq) / 1e9) * (SUM(yq) / 1e9))
                     / (COUNT(*)::DOUBLE * (SUM(xxq) / 1e9)
                        - (SUM(xq) / 1e9) * (SUM(xq) / 1e9)))
                    * (SUM(xq) / 1e9)) / COUNT(*)::DOUBLE, 6) AS intercept
    FROM terms GROUP BY lang ORDER BY lang
    """,
    doc="Zipf-law fit per language (OLS slope/intercept of ln freq vs ln "
    "rank over the top-100 words) — the dataset-card distribution-health "
    "metric: natural text sits near slope −1, template/synthetic corpora "
    "flatten it, cross-snapshot drift flags generation leakage. Per-row "
    "regression terms quantized to 1e-9 BIGINT so all sums are exact "
    "integers; one vocab-bounded (lang,word) shuffle + a per-lang rank "
    "window over vocabulary rows only (training-data extension)",
)
def q_corpus_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.textops import zipf_fit

    d = _t(spark, sf_dir, "documents")
    return zipf_fit(d, top_n=100).orderBy("lang")


_MULTIPROBE_LQ = (
    "SELECT vec_id AS query_id, v AS qv, "
    "unnest([bucket] || list_transform(range(0, 6), "
    "i -> xor(bucket::BIGINT, (1::BIGINT << i)))) AS bucket "
    "FROM bk WHERE vec_id < 8"
)


@register(
    "knn_lsh_multiprobe",
    lambda: f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    bk AS (SELECT vec_id, v, {_lsh_bucket_sql()} AS bucket FROM v),
    lq AS ({_MULTIPROBE_LQ}),
    c AS (SELECT vec_id AS neighbor_id, v AS cv, bucket FROM bk),
    scored AS (
        SELECT query_id, neighbor_id,
               ROUND(list_dot_product(qv, cv)
                     / GREATEST(sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(cv, cv)), 1e-12), 6)
                   AS cos
        FROM lq JOIN c ON lq.bucket = c.bucket
        WHERE query_id <> neighbor_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id)::INT AS rank
        FROM scored)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """,
    doc="multi-probe sign-LSH ANN (Lv et al. 2007): the query probes its "
    "own bucket plus every Hamming-1 bit-flip neighbor — recovers "
    "near-hyperplane misses for |planes| extra probes per query instead "
    "of a second hash table. Corpus index unchanged (one bucket/item, no "
    "growth); only the bounded query side fans out; each (query,item) "
    "pair matches at most one probe so no dedup stage. Candidate "
    "superset ⇒ recall@k ≥ single-probe knn_lsh, machine-asserted "
    "(similarity-search extension)",
)
def q_knn_lsh_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.knn_lsh_multiprobe(
        e, e.where(F.col("vec_id") < 8), _LSH_PLANES, k=5
    )


@register(
    "ann_recall_multiprobe",
    lambda: f"""
    WITH v AS (SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    bq AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 8),
    bscored AS (
        SELECT bq.query_id, v.vec_id AS neighbor_id,
               ROUND(list_dot_product(qv, v.v)
                     / GREATEST(sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(v.v, v.v)), 1e-12),
                     6) AS cos
        FROM bq JOIN v ON bq.query_id <> v.vec_id),
    bf AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM bscored) WHERE rank <= 5),
    bk AS (SELECT vec_id, v, {_lsh_bucket_sql()} AS bucket FROM v),
    lq AS ({_MULTIPROBE_LQ}),
    lscored AS (
        SELECT query_id, bk.vec_id AS neighbor_id,
               ROUND(list_dot_product(qv, bk.v)
                     / GREATEST(sqrt(list_dot_product(qv, qv))
                                * sqrt(list_dot_product(bk.v, bk.v)), 1e-12),
                     6) AS cos
        FROM lq JOIN bk ON lq.bucket = bk.bucket
        WHERE query_id <> bk.vec_id),
    lsh AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, neighbor_id) AS rank
            FROM lscored) WHERE rank <= 5),
    hits AS (
        SELECT bf.query_id, COUNT(*)::BIGINT AS hits
        FROM bf JOIN lsh USING (query_id, neighbor_id)
        GROUP BY bf.query_id)
    SELECT q.query_id,
           ROUND(COALESCE(h.hits, 0) / 5.0, 2) AS recall_at_5
    FROM (SELECT DISTINCT query_id FROM bf) q
    LEFT JOIN hits h USING (query_id)
    ORDER BY query_id
    """,
    doc="recall@5 of the MULTI-PROBE sign-LSH probe vs exact brute force "
    "— fifth row of the ANN compression/recall matrix (LSH / PQ / JL / "
    "truncation / multiprobe); per-query recall is provably >= the "
    "single-probe row since the candidate set is a superset "
    "(similarity-search extension)",
)
def q_ann_recall_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    q = e.where(F.col("vec_id") < 8)
    return _recall_at_k(
        sim.knn_bruteforce(e, q, k=5),
        sim.knn_lsh_multiprobe(e, q, _LSH_PLANES, k=5),
    )


@register(
    "knn_label_accuracy",
    lambda: f"""
    WITH v AS (SELECT vec_id, label,
                      list_transform(embedding, x -> x::DOUBLE) AS v
               FROM embeddings),
    bk AS (SELECT vec_id, label, v, {_lsh_bucket_sql()} AS bucket FROM v),
    scored AS (
        SELECT a.vec_id AS id_a, b.label AS label_b, b.vec_id AS id_b,
               ROUND(list_dot_product(a.v, b.v)
                     / GREATEST(sqrt(list_dot_product(a.v, a.v))
                                * sqrt(list_dot_product(b.v, b.v)),
                                1e-12), 6) AS cos
        FROM bk a JOIN bk b
          ON a.bucket = b.bucket AND a.vec_id <> b.vec_id),
    topk AS (
        SELECT id_a, label_b FROM (
            SELECT id_a, label_b,
                   ROW_NUMBER() OVER (PARTITION BY id_a
                                      ORDER BY cos DESC, id_b) AS rank
            FROM scored) WHERE rank <= 5),
    votes AS (
        SELECT id_a, label_b, COUNT(*) AS cnt
        FROM topk GROUP BY id_a, label_b),
    maj AS (
        SELECT id_a, label_b AS pred_label FROM (
            SELECT id_a, label_b,
                   ROW_NUMBER() OVER (PARTITION BY id_a
                                      ORDER BY cnt DESC, label_b) AS rn
            FROM votes) WHERE rn = 1)
    SELECT bk.vec_id, bk.label AS true_label, maj.pred_label,
           COALESCE(maj.pred_label = bk.label, FALSE) AS correct
    FROM bk LEFT JOIN maj ON bk.vec_id = maj.id_a
    ORDER BY bk.vec_id
    """,
    doc="leave-one-out kNN label-prediction accuracy over the sign-LSH "
    "probe — the standard 'do these embeddings encode the labels' eval, "
    "the retrain/reembed health metric next to embedding_drift. Both "
    "join sides are the corpus, so this is the SHUFFLED bucket self-join "
    "(Σ|bucket|² pair work), NOT knn_lsh's broadcast-probe shape; "
    "majority vote = one (query,label) partial agg + a deterministic "
    "row_number argmax (cnt DESC, label ASC); isolated vectors survive as "
    "pred null / correct "
    "false (similarity-search extension)",
)
def q_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.knn_label_accuracy(e, _LSH_PLANES, k=5).orderBy("vec_id")


@register(
    "embedding_dim_stats",
    """
    WITH e AS (
        SELECT unnest(embedding)::DOUBLE AS val,
               generate_subscripts(embedding, 1) - 1 AS dim
        FROM embeddings),
    q AS (SELECT dim, CAST(ROUND(val * 1e9) AS BIGINT) AS q FROM e)
    SELECT dim,
           COUNT(*)::BIGINT AS n,
           ROUND((SUM(q)::DOUBLE / 1e9) / COUNT(*), 6) AS mean,
           ROUND(SUM(q::HUGEINT * q)::DOUBLE / 1e18 / COUNT(*)
                 - ((SUM(q)::DOUBLE / 1e9) / COUNT(*))
                   * ((SUM(q)::DOUBLE / 1e9) / COUNT(*)), 6) AS variance,
           ROUND(MIN(q) / 1e9, 6) AS min_val,
           ROUND(MAX(q) / 1e9, 6) AS max_val,
           (SUM(q::HUGEINT * q)::DOUBLE / 1e18 / COUNT(*)
                 - ((SUM(q)::DOUBLE / 1e9) / COUNT(*))
                   * ((SUM(q)::DOUBLE / 1e9) / COUNT(*))) < 1e-6
               AS is_dead
    FROM q GROUP BY dim ORDER BY dim
    """,
    doc="per-dimension embedding health profile (mean / population "
    "variance / min / max / dead-dimension verdict) — wasted-index-bytes "
    "and encoder-regression detector, the per-dimension sibling of "
    "embedding_drift. Components quantized to 1e-9 BIGINT (x² in a "
    "decimal accumulator) so all sums are exact integers; one posexplode "
    "into a single dim-keyed partial agg → dim rows "
    "(similarity-search extension)",
)
def q_embedding_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.embedding_dim_stats(e).orderBy("dim")


@register(
    "collocations_pmi",
    """
    WITH tokens AS (
        SELECT regexp_extract_all(lower(COALESCE(text, '')),
                                  '([a-z0-9]+)', 1) AS w
        FROM documents),
    bg AS (
        SELECT w[u.i] AS a, w[u.i + 1] AS b
        FROM tokens, LATERAL (SELECT unnest(range(1, len(w))) AS i) u
        WHERE len(w) >= 2),
    cab AS (SELECT a, b, COUNT(*)::BIGINT AS c_ab FROM bg GROUP BY a, b),
    ca AS (SELECT a, SUM(c_ab)::BIGINT AS c_a FROM cab GROUP BY a),
    cb AS (SELECT b, SUM(c_ab)::BIGINT AS c_b FROM cab GROUP BY b),
    nb AS (SELECT SUM(c_ab)::BIGINT AS nb FROM cab),
    scored AS (
        SELECT cab.a, cab.b, cab.c_ab,
               ROUND(ln((cab.c_ab::DOUBLE * nb.nb)
                        / (ca.c_a::DOUBLE * cb.c_b::DOUBLE)), 6) AS pmi
        FROM cab JOIN ca USING (a) JOIN cb USING (b), nb
        WHERE cab.c_ab >= 5)
    SELECT a, b, c_ab, pmi FROM scored
    ORDER BY pmi DESC, a, b LIMIT 20
    """,
    doc="collocation mining: top-20 adjacent word pairs by PMI = "
    "ln(c_ab·N/(c_a·c_b)) over the bigram event space (marginals derive "
    "from the joint — no second corpus pass), min-count 5 against the "
    "hapax-PMI explosion — tokenizer merge candidates / boilerplate-"
    "phrase discovery. All probabilities are ratios of exact integer "
    "counts; PMI rounded 6dp BEFORE the (pmi, a, b) TakeOrdered "
    "(training-data extension)",
)
def q_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.textops import collocations_pmi

    d = _t(spark, sf_dir, "documents")
    return collocations_pmi(d, min_count=5, top_k=20)


@register(
    "knn_ivf_nprobe",
    f"""
    WITH v AS (
        SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v
        FROM embeddings),
    s AS (
        SELECT v, row_number() OVER (ORDER BY
                   ('0x' || substr(md5('29:' || vec_id::VARCHAR), 1, 15))::BIGINT,
                   vec_id) - 1 AS cid
        FROM v QUALIFY cid <= 3),
    a1 AS (
        SELECT vec_id, v, cid FROM (
            SELECT v.vec_id, v.v, s.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                       {_KM_DIST.format(a="v.v", b="s.v")}, s.cid) AS rn
            FROM v, s) t WHERE rn = 1),
    c1 AS (
        SELECT cid, list(rv ORDER BY pos) AS v FROM (
            SELECT cid, pos, round(avg(val), 6) AS rv FROM (
                SELECT cid, unnest(v) AS val,
                       generate_subscripts(v, 1) AS pos FROM a1) u
            GROUP BY cid, pos) g
        GROUP BY cid),
    a2 AS (
        SELECT vec_id, cid FROM (
            SELECT v.vec_id, c1.cid,
                   row_number() OVER (PARTITION BY v.vec_id ORDER BY
                       {_KM_DIST.format(a="v.v", b="c1.v")}, c1.cid) AS rn
            FROM v, c1) t WHERE rn = 1),
    qsel AS (SELECT vec_id AS query_id, v AS qv FROM v WHERE vec_id < 8),
    qprobe AS (
        SELECT query_id, qv, cid AS cluster FROM (
            SELECT q.query_id, q.qv, c1.cid,
                   row_number() OVER (PARTITION BY q.query_id ORDER BY
                       {_KM_DIST.format(a="q.qv", b="c1.v")}, c1.cid) AS rn
            FROM qsel q, c1) t WHERE rn <= 2),
    scored AS (
        SELECT qp.query_id, a2.vec_id AS neighbor_id,
               ROUND(list_dot_product(qp.qv, v.v)
                     / GREATEST(sqrt(list_dot_product(qp.qv, qp.qv))
                                * sqrt(list_dot_product(v.v, v.v)),
                                1e-12), 6) AS cos
        FROM qprobe qp
        JOIN a2 ON qp.cluster = a2.cid
        JOIN v ON a2.vec_id = v.vec_id
        WHERE qp.query_id <> a2.vec_id),
    ranked AS (
        SELECT query_id, neighbor_id,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, neighbor_id)::INT AS rank
        FROM scored)
    SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """,
    doc="IVF ANN with the real faiss nprobe knob: the query probes its 2 "
    "nearest trained coarse clusters instead of only the closest — the "
    "Voronoi-boundary fix, recall monotone in nprobe (knn_ivf is the "
    "nprobe=1 special case; knn_lsh_multiprobe is the hash-bucket "
    "analogue). Corpus = one assign-kernel pass into inverted lists, "
    "probe surface O(nprobe·N/coarse_k); query side ranks coarse_k "
    "literal centroid distances row-locally. Oracle replays the seeded "
    "Lloyd chain + the top-nprobe probe selection "
    "(similarity-search extension)",
)
def q_knn_ivf_nprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "embeddings")
    return sim.knn_ivf_nprobe(
        e, e.where(F.col("vec_id") < 8), k=5, nprobe=2, coarse_k=4,
        iters=2, seed=29,
    )


def _gopher_rep_sql() -> str:
    """Generated oracle for doc_gopher_repetition: per-doc Gopher table-A2
    repetition signals over the derived 2-word-lined text. Per-n CTEs are
    generated for the three top-gram fractions and six dup-gram coverage
    fractions; coverage is a DISTINCT position union exactly like the
    operator's positional cover."""
    parts = [
        "d AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents)",
        "tok AS (SELECT doc_id, regexp_extract_all(lower(text),"
        " '([a-z0-9]+)', 1) AS w FROM d)",
        "lined AS (SELECT doc_id, list_transform("
        "range(0, ((len(w) + 1) // 2)::BIGINT),"
        " i -> array_to_string(w[i*2+1 : i*2+2], ' ')) AS ls"
        " FROM tok WHERE len(w) > 0)",
        "lc AS (SELECT doc_id, line, COUNT(*) AS c FROM"
        " (SELECT doc_id, unnest(ls) AS line FROM lined) GROUP BY 1, 2)",
        "lstat AS (SELECT doc_id, SUM(c)::BIGINT AS n_lines,"
        " ROUND(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END)"
        "       / GREATEST(SUM(c), 1)::DOUBLE, 4) AS dlf,"
        " ROUND(SUM(CASE WHEN c >= 2 THEN c * length(line) ELSE 0 END)"
        "       / GREATEST(SUM(c * length(line)), 1)::DOUBLE, 4) AS dlcf"
        " FROM lc GROUP BY doc_id)",
        "wl AS (SELECT doc_id, w,"
        " list_transform(w, x -> length(x)) AS wlen,"
        " GREATEST(list_sum(list_transform(w, x -> length(x))), 1) AS tc"
        " FROM tok WHERE len(w) > 0)",
    ]
    for n in range(2, 11):
        parts.append(
            f"g{n} AS (SELECT doc_id, s.i AS s,"
            f" array_to_string(w[s.i : s.i + {n - 1}], ' ') AS gram"
            f" FROM wl, LATERAL (SELECT unnest(range(1, len(w) - {n} + 2))"
            f" AS i) s WHERE len(w) >= {n})"
        )
        parts.append(
            f"c{n} AS (SELECT doc_id, gram, COUNT(*) AS c FROM g{n}"
            f" GROUP BY 1, 2)"
        )
    for n in (2, 3, 4):
        parts.append(
            f"top{n} AS (SELECT doc_id,"
            f" c * length(replace(gram, ' ', '')) AS cov FROM"
            f" (SELECT doc_id, gram, c, row_number() OVER"
            f" (PARTITION BY doc_id ORDER BY c DESC, gram) AS rn"
            f" FROM c{n}) WHERE rn = 1)"
        )
    for n in range(5, 11):
        parts.append(
            f"ds{n} AS (SELECT g.doc_id, g.s FROM g{n} g JOIN c{n} c"
            f" ON g.doc_id = c.doc_id AND g.gram = c.gram WHERE c.c >= 2)"
        )
        parts.append(
            f"cov{n} AS (SELECT q.doc_id, SUM(ww.l)::BIGINT AS cov FROM"
            f" (SELECT DISTINCT d2.doc_id, pos.p FROM ds{n} d2,"
            f" LATERAL (SELECT unnest(range(d2.s, d2.s + {n})) AS p) pos) q"
            f" JOIN (SELECT doc_id, unnest(wlen) AS l,"
            f" generate_subscripts(wlen, 1) AS p FROM wl) ww"
            f" ON q.doc_id = ww.doc_id AND q.p = ww.p GROUP BY q.doc_id)"
        )
    top_thr = {2: 0.20, 3: 0.18, 4: 0.16}
    dup_thr = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}
    tops = ", ".join(
        f"ROUND(COALESCE(top{n}.cov, 0) / wl.tc::DOUBLE, 4)"
        f" AS top{n}gram_char_frac"
        for n in (2, 3, 4)
    )
    dups = ", ".join(
        f"ROUND(COALESCE(cov{n}.cov, 0) / wl.tc::DOUBLE, 4)"
        f" AS dup{n}gram_char_frac"
        for n in range(5, 11)
    )
    keep_terms = ["lstat.dlf <= 0.30", "lstat.dlcf <= 0.20"] + [
        f"ROUND(COALESCE(top{n}.cov, 0) / wl.tc::DOUBLE, 4)"
        f" <= {top_thr[n]}"
        for n in (2, 3, 4)
    ] + [
        f"ROUND(COALESCE(cov{n}.cov, 0) / wl.tc::DOUBLE, 4)"
        f" <= {dup_thr[n]}"
        for n in range(5, 11)
    ]
    joins = "".join(
        f" LEFT JOIN top{n} ON wl.doc_id = top{n}.doc_id" for n in (2, 3, 4)
    ) + "".join(
        f" LEFT JOIN cov{n} ON wl.doc_id = cov{n}.doc_id"
        for n in range(5, 11)
    )
    return (
        "WITH " + ",\n    ".join(parts)
        + f"\n    SELECT wl.doc_id, lstat.n_lines,"
        f" lstat.dlf AS dup_line_frac, lstat.dlcf AS dup_line_char_frac,"
        f" {tops}, {dups}, ({' AND '.join(keep_terms)}) AS keep"
        f" FROM wl JOIN lstat ON wl.doc_id = lstat.doc_id{joins}"
        f" ORDER BY wl.doc_id"
    )


@register(
    "doc_gopher_repetition",
    _gopher_rep_sql,
    doc="the Gopher REPETITION rule bundle (Rae et al. 2021 table A2 — "
    "completes the MassiveWeb filter set next to doc_gopher_rules' table "
    "A1): per doc, duplicate-line fraction + duplicate-line char "
    "fraction, top-{2,3,4}-gram char fraction (mode with lexicographic "
    "tie-break), dup-{5..10}-gram positional-cover char fraction, paper "
    "thresholds, overall keep. Runs on the same derived 2-word-lined "
    "text as doc_line_dedup so the line rules do real work. The operator "
    "is ONE zero-shuffle row-local struct (array HOFs with let-bindings "
    "— see PLANS.md on plan-compile cost); the oracle replays every "
    "signal relationally (training-data extension)",
)
def q_doc_gopher_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    lined = _two_word_lined(d)
    f = text_fns.gopher_repetition_flags("text")
    return (
        lined.select("doc_id", f.alias("f"))
        .select(
            "doc_id",
            "f.n_lines",
            "f.dup_line_frac",
            "f.dup_line_char_frac",
            *[f"f.top{n}gram_char_frac" for n in (2, 3, 4)],
            *[f"f.dup{n}gram_char_frac" for n in range(5, 11)],
            "f.keep",
        )
        .orderBy("doc_id")
    )


@register(
    "quality_source_norm",
    """
    WITH f AS (
        SELECT doc_id, source,
               length(COALESCE(text, '')) AS n_chars_c,
               len(regexp_split_to_array(trim(COALESCE(text, '')),
                   '\\s+')) AS n_tokens,
               length(regexp_replace(COALESCE(text, ''),
                   '[^A-Za-z]', '', 'g')) AS alpha,
               len(regexp_extract_all(lower(COALESCE(text, '')),
                   '\\b(the|and|of|to|in|a|is|for)\\b', 1)) AS stop_hits
        FROM documents),
    q AS (
        SELECT doc_id, source,
               ROUND(
                 (alpha / GREATEST(n_chars_c, 1)) * 0.5
                 + (CASE WHEN n_chars_c / GREATEST(n_tokens, 1)
                              BETWEEN 3 AND 12
                         THEN 1.0 ELSE 0.0 END) * 0.25
                 + LEAST((stop_hits / GREATEST(n_tokens, 1)) * 5.0, 1.0)
                   * 0.25,
               4) AS quality
        FROM f),
    gk AS (
        SELECT quantile_disc(quality,
                   [x / 256.0 FOR x IN generate_series(1, 256)])
               AS gk_breaks
        FROM q)
    SELECT doc_id, source, quality,
           ROUND(percent_rank() OVER (PARTITION BY source
                                      ORDER BY quality, doc_id), 6)
               AS pct_in_source,
           ROUND(percent_rank() OVER (ORDER BY quality, doc_id), 6)
               AS pct_global,
           ROUND(len(list_filter(gk.gk_breaks, b -> b <= quality))
                 / 256.0, 6) AS pct_global_gk,
           ROUND(percent_rank() OVER (PARTITION BY source
                                      ORDER BY quality, doc_id), 6) >= 0.5
               AS keep_src_q50
    FROM q, gk ORDER BY doc_id
    """,
    doc="per-source quality-score normalization: each doc's quality "
    "percentile WITHIN its source next to its global percentile — the "
    "comparability fix before a corpus-wide quality threshold (a raw "
    "cutoff biases the mix toward whichever source's scorer runs hot; "
    "FineWeb-style pipelines gate on within-source rank). Deterministic "
    "(quality, id) percent_rank with NO corpus-wide window: the exact "
    "global rank decomposes into a bounded quality-value histogram "
    "cumulative (the 4dp quantization makes the histogram a zero-error "
    "mergeable sketch) plus a tie-group row_number partitioned BY "
    "quality; pct_global_gk is the unconditionally-safe GK-sketch twin "
    "(percentile_approx grid lookup, rank error ≤ 1/grid; exact ≡ "
    "quantile_disc at degenerate accuracy, same contract as "
    "price_quantiles_sketch) (training-data extension)",
)
def q_quality_source_norm(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    return cur.quality_source_norm(d).orderBy("doc_id")


@register(
    "local_supplier_volume",
    """
    SELECT n.n_name,
           ROUND(SUM(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue,
           COUNT(*)::BIGINT AS n_items
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01'
    GROUP BY n.n_name
    ORDER BY revenue DESC, n_name
    """,
    doc="TPC-H Q5 shape (local supplier volume): the 6-table join with "
    "the customer-nation = supplier-nation LOCALITY constraint — the "
    "classic join-order/broadcast stress (§2.3 exercise of the full "
    "relational core in one plan). nation/region broadcast and the "
    "region filter prunes through them; orders carries the pushed date "
    "range; the big customer⋈orders⋈lineitem chain shuffles on its keys "
    "with AQE free to reorder — exactly the plan family a 100 TB "
    "warehouse run lives in",
)
def q_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    o = o.where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, o.o_orderkey == li.l_orderkey)
        .join(
            s,
            (li.l_suppkey == s.s_suppkey)
            & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(
            F.broadcast(r.where(F.col("r_name") == "ASIA")),
            n.n_regionkey == r.r_regionkey,
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
                2,
            ).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
        .orderBy(F.col("revenue").desc(), "n_name")
    )


@register(
    "event_dau_mau",
    f"""
    WITH {EVENTS_MICRO_CTE},
    d AS (
        SELECT date_trunc('week', ts)::DATE AS week,
               date_trunc('day', ts) AS day, user_id
        FROM ev),
    dau AS (
        SELECT week, day, COUNT(DISTINCT user_id) AS dau
        FROM d GROUP BY week, day),
    am AS (
        SELECT week, COUNT(*)::BIGINT AS n_days,
               SUM(dau)::BIGINT AS dau_sum
        FROM dau GROUP BY week),
    wau AS (
        SELECT week, COUNT(DISTINCT user_id)::BIGINT AS wau
        FROM d GROUP BY week)
    SELECT am.week, am.n_days, wau.wau,
           ROUND(am.dau_sum / am.n_days::DOUBLE, 4) AS avg_dau,
           ROUND((am.dau_sum / am.n_days::DOUBLE) / wau.wau, 4)
               AS stickiness
    FROM am JOIN wau USING (week) ORDER BY week
    """,
    doc="DAU/WAU engagement stickiness per ISO week (avg daily actives "
    "over weekly actives — the standard product-health ratio at the "
    "grain the one-month fixture supports): two distinct-count aggs on "
    "(week,day,user) / (week,user) keys + a week-keyed join of two tiny "
    "per-week frames; all inputs exact integers so the 4dp ratios are "
    "engine-identical (events-analytics extension)",
)
def q_event_dau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.date_trunc("week", F.col("ts")).cast("date").alias("week"),
        F.date_trunc("day", F.col("ts")).alias("day"),
        "user_id",
    )
    dau = d.groupBy("week", "day").agg(
        F.countDistinct("user_id").alias("dau")
    )
    am = dau.groupBy("week").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.sum("dau").cast("bigint").alias("dau_sum"),
    )
    wau = d.groupBy("week").agg(
        F.countDistinct("user_id").cast("bigint").alias("wau")
    )
    avg_dau = F.col("dau_sum") / F.col("n_days")
    return (
        am.join(wau, "week")
        .select(
            "week",
            "n_days",
            "wau",
            F.round(avg_dau, 4).alias("avg_dau"),
            F.round(avg_dau / F.col("wau"), 4).alias("stickiness"),
        )
        .orderBy("week")
    )


@register(
    "doc_longest_dup_span",
    """
    WITH d AS (SELECT doc_id, COALESCE(text, '') AS text FROM documents),
    w AS (
        SELECT doc_id, (u.i - 1)::INT AS s,
               ('0x' || substr(md5('13:' || substr(text, u.i, 20)),
                               1, 15))::BIGINT AS h
        FROM d, LATERAL (SELECT unnest(range(1, length(text) - 20 + 2)) AS i) u
        WHERE length(text) >= 20),
    c AS (SELECT h FROM w GROUP BY h HAVING COUNT(*) >= 2),
    ds AS (SELECT w.doc_id, w.s FROM w JOIN c USING (h)),
    isl AS (
        SELECT doc_id, s,
               CASE WHEN s > COALESCE(MAX(s) OVER (
                      PARTITION BY doc_id ORDER BY s
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                    -999999) + 20 THEN 1 ELSE 0 END AS brk
        FROM ds),
    grp AS (SELECT doc_id, s,
                   SUM(brk) OVER (PARTITION BY doc_id ORDER BY s) AS g
            FROM isl),
    iv AS (SELECT doc_id, g, MIN(s) AS lo, MAX(s) + 19 AS hi
           FROM grp GROUP BY doc_id, g),
    mx AS (SELECT doc_id, MAX(hi - lo + 1)::BIGINT AS longest,
                  COUNT(*)::BIGINT AS n_spans
           FROM iv GROUP BY doc_id)
    SELECT d.doc_id, length(d.text)::BIGINT AS n_chars,
           COALESCE(mx.longest, 0)::BIGINT AS longest_dup_span,
           COALESCE(mx.n_spans, 0)::BIGINT AS n_spans,
           ROUND(COALESCE(mx.longest, 0)
                 / GREATEST(length(d.text), 1)::DOUBLE, 4)
               AS longest_frac
    FROM d LEFT JOIN mx USING (doc_id)
    ORDER BY d.doc_id
    """,
    doc="longest verbatim duplicated span per doc (chars) + span count + "
    "fraction of the doc it covers — the memorization-risk distribution "
    "Lee et al. 2022 report (a doc dominated by one long duplicated "
    "span is a template/mirror; the tail of this distribution is what "
    "ExactSubstr excision actually removes). Reuses the char-window-hash "
    "machinery: row-local L=20 window hashes, ONE hash-keyed agg, "
    "semi-join of duplicated starts, row-local interval merge "
    "(`dedup._merge_window_starts`) then max/count — all zero-Python "
    "(training-data extension)",
)
def q_doc_longest_dup_span(spark: SparkSession, sf_dir: str) -> DataFrame:
    from osmesa_spark.operators.dedup import (
        _merge_window_starts,
        _portable_hash,
    )

    L = 20
    d = ensure_parallelism(
        _t(spark, sf_dir, "documents").select(
            "doc_id", F.coalesce("text", F.lit("")).alias("text")
        ),
        "doc_id",
    )
    txt = F.col("text")
    n = F.length(txt)
    hashes = F.transform(
        F.sequence(F.lit(0), n - L),
        lambda i: _portable_hash(txt.substr(i + 1, F.lit(L)), 13),
    )
    wins = d.where(n >= L).select(
        "doc_id", F.posexplode(hashes).alias("s", "h")
    )
    dup = (
        wins.groupBy("h")
        .agg(F.count(F.lit(1)).alias("occ"))
        .where(F.col("occ") >= 2)
        .select("h")
    )
    dup_starts = (
        wins.join(dup, "h", "left_semi")
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_list("s")).alias("ss"))
    )
    iv = _merge_window_starts(F.col("ss"), L)
    res = d.join(dup_starts, "doc_id", "left").withColumn("iv", iv)
    longest = F.aggregate(
        F.col("iv"),
        F.lit(0).cast("bigint"),
        lambda acc, i: F.greatest(
            acc, (i["hi"] - i["lo"] + 1).cast("bigint")
        ),
    )
    return res.select(
        "doc_id",
        n.cast("bigint").alias("n_chars"),
        longest.alias("longest_dup_span"),
        F.size("iv").cast("bigint").alias("n_spans"),
        F.round(
            longest / F.greatest(n, F.lit(1)).cast("double"), 4
        ).alias("longest_frac"),
    ).orderBy("doc_id")


# OSM-domain parity queries over deterministic generated fixtures
from osmesa_spark.queries_osm import (  # noqa: E402
    register_osm_extras_r8,
    register_osm_queries,
)

register_osm_queries(register)
register_osm_extras_r8(register)


def driver_order(
    names: list[str],
    evidence_dir: str = os.path.dirname(os.path.dirname(__file__)),
) -> list[str]:
    """`names` in driver-window order. The external checker that calls
    `__spark_entry__.py` records only the FIRST 50 registry entries per
    round (tests cover all of them every run), so the order rotates the
    stalest evidence to the front. Evidence is every
    `CORRECTNESS_r<N>.json` in `evidence_dir`, a JSON object keyed by
    query name; a query's latest round is the highest N naming it (0 if
    none). Order: osm_* queries whose latest round is older than the
    newest round come first, then the rest by ascending latest round;
    ties keep declaration order. With no evidence files this is
    declaration order."""
    import glob
    import json
    import re

    latest: dict[str, int] = {}
    newest = 0
    for path in glob.glob(os.path.join(evidence_dir, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        newest = max(newest, rnd)
        with open(path) as f:
            for name in json.load(f):
                latest[name] = max(latest.get(name, 0), rnd)

    def key(name: str) -> tuple[bool, int]:
        rnd = latest.get(name, 0)
        return (not (name.startswith("osm_") and rnd < newest), rnd)

    return sorted(names, key=key)


_DRIVER_ORDER = driver_order(list(REGISTRY))


def registry() -> dict[str, QuerySpec]:
    return {n: REGISTRY[n] for n in _DRIVER_ORDER}
