"""Small engine utilities, and the package's one memo, `ctx_memo`: an
entry lives as long as its SparkContext, and it is rebuilt whenever its
stamp differs from the one recorded when it was built."""

from __future__ import annotations

import functools
import os
import weakref

from pyspark import SparkContext
from pyspark.sql import DataFrame

# SparkContext -> {key: (stamp, value)}. Weakly keyed, so a new context
# starts empty even when CPython hands it a dead one's address (an id(sc)
# key could serve values wrapping a stopped JVM's py4j references).
_MEMO: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


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
    Python kernels).

    A small input (one parquet file / one row-group) scans as a single
    task, serializing all downstream per-row compute no matter how many
    cores exist. When the scan already produced enough splits — the normal
    case at real scale, where maxPartitionBytes bounds split size — this is
    a no-op, so the extra shuffle is only paid when it buys parallelism.
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
    """df's partition count. On a plan with an exchange the probe runs the
    subtree as real jobs (AQE materializes every non-result stage), so the
    count, plan metadata, is memoized per semantic plan: a query built 3×
    per bench pays it once. An exchange-free probe runs no job and is not
    kept — each foreachBatch micro-batch is a fresh plan, and keeping those
    would grow the memo per batch. A stale width after the files behind a
    plan change costs only a spread decision, never correctness."""
    qe = df._jdf.queryExecution()
    if "Exchange" not in qe.executedPlan().toString():
        return df.rdd.getNumPartitions()
    key = ("probe", int(qe.analyzed().semanticHash()))
    return ctx_memo(
        df.sparkSession.sparkContext, key, lambda: df.rdd.getNumPartitions()
    )


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
    other shape falls back to the RDD probe as before."""
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
