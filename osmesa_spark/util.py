"""Small engine utilities."""

from __future__ import annotations

import functools
import weakref

from pyspark.sql import DataFrame

# SparkContext -> opaque token. Keying the column_memo cache on the token
# (instead of id(sc), which CPython can recycle for a NEW SparkContext after
# a stop/restart) guarantees a restarted JVM never hits entries wrapping
# stale py4j references: a dead context's weak entry vanishes, so the new
# context mints a fresh token even if it reuses the old object's address.
_CTX_TOKENS: "weakref.WeakKeyDictionary" = weakref.WeakKeyDictionary()


def _ctx_token(sc) -> object:
    tok = _CTX_TOKENS.get(sc)
    if tok is None:
        tok = object()
        _CTX_TOKENS[sc] = tok
    return tok


def column_memo(fn):
    """Memoize a Column-builder keyed by its primitive args and the live
    SparkContext.

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
    are cached; anything holding a Column falls through to a fresh build.
    The cache key includes a per-SparkContext weakref token (see
    _ctx_token) — a non-reusable identity, unlike id(sc), which CPython
    can recycle for a new SparkContext after a stop/restart and thereby
    serve memoized Columns wrapping stale py4j references (r10 ADVICE);
    the token costs no py4j round-trip per call."""
    cache: dict = {}

    @functools.wraps(fn)
    def wrapper(*args, **kwargs):
        parts = args + tuple(v for _, v in sorted(kwargs.items()))
        if not all(
            isinstance(a, (str, int, float, bool, type(None)))
            for a in parts
        ):
            return fn(*args, **kwargs)
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        if sc is None:
            return fn(*args, **kwargs)
        key = (_ctx_token(sc), args, tuple(sorted(kwargs.items())))
        if key not in cache:
            cache[key] = fn(*args, **kwargs)
        return cache[key]

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


# (ctx token, analyzed-plan semantic hash) -> observed partition count.
# The rdd.getNumPartitions() probe on a frame whose plan contains an
# exchange runs the subtree as real jobs (AQE materializes all non-result
# stages), and the answer cannot be reused by the query's own execution —
# so a query constructed 3× per bench pays the probe 3×. The count is
# pure plan/metadata (split layout of the scanned files + AQE coalescing
# of a deterministic subtree), so memoize it per semantic plan. If the
# files BEHIND an identical plan change between constructions (a path
# re-read after an append), the memo can serve a stale width — perf-only
# (a spread decision), never a correctness issue, and the probe it
# replaces was itself a point-in-time answer. Streaming never reaches
# here. Only probes over an exchange are kept: an exchange-free one runs no
# job, and each foreachBatch micro-batch is a fresh plan (a LogicalRDD), so
# keeping those would grow the memo by one entry per batch, without bound.
_PROBE_MEMO: dict = {}


def _probed_partitions(df: DataFrame) -> int:
    try:
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        key = (
            _ctx_token(sc),
            int(df._jdf.queryExecution().analyzed().semanticHash()),
        )
    except Exception:  # pragma: no cover — py4j drift: probe uncached
        return df.rdd.getNumPartitions()
    n = _PROBE_MEMO.get(key)
    if n is None:
        n = df.rdd.getNumPartitions()
        if "Exchange" in df._jdf.queryExecution().executedPlan().toString():
            _PROBE_MEMO[key] = n
    return n


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
