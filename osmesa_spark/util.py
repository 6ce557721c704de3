"""Small engine utilities, and the package's one memo, `ctx_memo`: an
entry lives as long as its SparkContext, and it is rebuilt whenever its
stamp differs from the one recorded when it was built."""

from __future__ import annotations

import functools
import os
import sys
import weakref

from pyspark import SparkContext
from pyspark.sql import DataFrame

# SparkContext -> {key: (stamp, value)}. Weakly keyed, so a new context
# starts empty even when CPython hands it a dead one's address (an id(sc)
# key could serve values wrapping a stopped JVM's py4j references).
_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()

# logical leaves whose stats().sizeInBytes is exact: file-scan relations
# (file bytes), driver-local rows and ranges
_SIZED_LEAVES = ("LogicalRelation", "LocalRelation", "Range")
_MIN_PARTITION_SIZE = "spark.sql.adaptive.coalescePartitions.minPartitionSize"


def ctx_memo(sc, key, build, stamp=None):
    """`build()`'s value for `key`, memoized per SparkContext `sc` under the
    module's rule. Pass a `path_stamp` as `stamp` for a value read from
    files; it is taken before `build` runs, so a change made during the
    build is seen on the next call. If `build` raises, nothing is stored.
    Two threads missing one key at once may both build (the later value is
    kept), so a build must be safe to repeat. A value that references `sc`
    (a DataFrame) keeps the context alive."""
    entries = _MEMO.setdefault(sc, {})
    hit = entries.get(key)
    if hit is not None and hit[0] == stamp:
        return hit[1]
    value = build()
    entries[key] = (stamp, value)
    return value


def path_stamp(*paths: str) -> tuple:
    """(st_mtime_ns, st_size) per path, None for one not on the local
    filesystem. A directory's mtime moves when a file is added, removed or
    renamed in it, which is how Spark rewrites a table."""

    def one(p):
        try:
            st = os.stat(p)
        except OSError:
            return None
        return st.st_mtime_ns, st.st_size

    return tuple(map(one, paths))


def column_memo(fn):
    """Memoize a Column-builder per live SparkContext, keyed by its
    primitive args (no stamp: the tree depends on nothing else).

    Why (r10 optimization): a Column expression built through the PySpark
    DSL costs one py4j round-trip per operator (~0.5 ms measured here), so
    the fixed-shape predicate/rollup builders (tag predicates, the
    counts/measurements maps, delta columns) cost 0.4-1.5 s of serial
    driver time per QUERY CONSTRUCTION — rebuilt identically on every
    bench rep and every registry query that shares them. Column objects
    are immutable expression trees resolved against whatever DataFrame
    they are later used with, so reusing one across plans is exactly as
    safe as reusing a parsed SQL string; only the construction cost
    changes. No data is cached — the tree is code, not results.

    Only calls whose args are all primitives (str/int/float/bool/None)
    are cached; anything holding a Column falls through to a fresh build,
    as does a call with no active SparkContext."""

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        sc = SparkContext._active_spark_context
        if sc is None or not all(
            isinstance(a, (str, int, float, bool, type(None)))
            for a in args + tuple(kwargs.values())
        ):
            return fn(*args, **kwargs)
        key = (fn, args, tuple(sorted(kwargs.items())))
        return ctx_memo(sc, key, lambda: fn(*args, **kwargs))

    return wrapper


def ensure_parallelism(df: DataFrame, *cols: str) -> DataFrame:
    """Spread a DataFrame to at least the cluster's default parallelism
    before a CPU-heavy narrow stage (per-row hashing, regex shingling,
    Python kernels). The guard itself never runs a Spark job.

    A small input (one parquet file / one row-group) scans as a single
    task, serializing all downstream per-row compute no matter how many
    cores exist. When the input is already wide enough — the normal case
    at real scale, where maxPartitionBytes bounds split size — this is a
    no-op, so the extra shuffle is only paid when it buys parallelism.
    Hash-partitioning on `cols` (e.g. the id) keeps placement deterministic.
    """
    if df.isStreaming:
        # df.rdd is illegal on a streaming DataFrame, and a micro-batch
        # already arrives with its source's split count — no-op so every
        # operator that guards its kernel stage stays stream-composable
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    w = _prespread_width(df)
    if w is not None and w >= target:
        return df
    # a promised width below target needs the spread: no probe of its exchange
    if w is None and _probed_partitions(df) >= target:
        return df
    return df.repartition(target, *cols) if cols else df.repartition(target)


def _probed_partitions(df: DataFrame) -> int:
    """df's partition count as far as the spread decision needs it, read
    from plan metadata: no Spark job runs.

    An exchange-free plan reports its split count — df.rdd.
    getNumPartitions() only plans the scan. A plan with an exchange is
    never converted to an RDD: with AQE on, that MATERIALIZES every
    non-result query stage as a real Spark job (r11): over the grid
    geocode's features that runs the whole stats lineage only to learn
    "1", and the caller's action runs it again. Its width is estimated as
    AQE's coalescing sets it for small inputs: the exact bytes of the
    optimized plan's leaves (file scans, local rows, ranges) over
    spark.sql.adaptive.coalescePartitions.minPartitionSize. A total below
    defaultParallelism × that size estimates fewer partitions than the
    target, so it gets the spread. A leaf with no exact size (a
    checkpoint's LogicalRDD, a cache, a JDBC table) counts as large, like
    every input above the line: spreading there would add a full shuffle
    of the input. The plan root's sizeInBytes is no use — it is a product
    estimate through the joins (over 10 GB for the geocode's few hundred
    KB of history). With AQE's coalescing off the estimate errs toward a
    spread of a small input. A wrong estimate costs a spread decision,
    never correctness."""
    qe = df._jdf.queryExecution()
    if "Exchange" not in qe.executedPlan().toString():
        return df.rdd.getNumPartitions()
    leaves = qe.optimizedPlan().collectLeaves()
    total = 0
    for i in range(leaves.size()):
        leaf = leaves.apply(i)
        if leaf.getClass().getSimpleName() not in _SIZED_LEAVES:
            return sys.maxsize
        total += int(str(leaf.stats().sizeInBytes()))
    spark = df.sparkSession
    utils = spark.sparkContext._jvm.org.apache.spark.network.util.JavaUtils
    min_size = utils.byteStringAsBytes(spark.conf.get(_MIN_PARTITION_SIZE, "1MB"))
    return total // max(min_size, 1)


def _prespread_width(df: DataFrame) -> int | None:
    """Partition width promised by an explicit repartition at the root of
    `df`'s logical plan (looking through Project/Filter/alias nodes), or
    None when the plan makes no such promise.

    Why not just df.rdd.getNumPartitions(): with AQE on, converting a
    DataFrame whose plan contains an exchange to an RDD MATERIALIZES every
    non-result query stage as a real Spark job — so a guard probing an
    already-repartitioned frame would execute its shuffle once for the
    probe and again in the caller's action (r11 stage profile: two extra
    jobs per buildings query). The logical-plan peek answers the common
    composed case (caller spread → operator guard) with zero jobs; any
    other shape falls back to `_probed_partitions`."""
    try:
        plan = df._jdf.queryExecution().analyzed()
        while True:
            name = plan.getClass().getSimpleName()
            if name in ("Project", "Filter", "SubqueryAlias"):
                plan = plan.children().apply(0)
                continue
            if name == "RepartitionByExpression":
                opt = plan.optNumPartitions()
                return int(opt.get()) if opt.isDefined() else None
            if name == "Repartition":
                # shuffle=false is coalesce(): numPartitions is only an
                # UPPER bound there — trust the round-robin shuffle form
                return int(plan.numPartitions()) if plan.shuffle() else None
            return None
    except Exception:  # pragma: no cover — py4j/shape drift: use the probe
        return None
