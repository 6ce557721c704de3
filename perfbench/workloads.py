"""The benchmark workloads. Each drives `osmesa_spark` only through its
public functions, wraps every call into a layer in a span named after the
layer's module, and checks the outputs against values computed without
the program.

A workload object has:
  * `generate(ctx)` — write (or reuse) its seeded inputs and the expected
    values the checks compare with; not part of `setup_s`;
  * `prepare(ctx)` — the program-side set-up that must happen before the
    timed region; repeatable, the harness runs it several times and takes
    the median; returns layer specials measured on the way;
  * `measure(ctx)` — the timed region, one fixed cycle; returns its wall
    time, what the checks need and a `Failures` record. An exception
    inside the cycle is counted as a failure, not raised;
  * `check(ctx, measured)` — the output checks, run after the timed
    region;
  * `traced_pass(ctx)` — only for `--trace 1`: an untraced reference
    cycle, then the same cycle traced; returns both wall times, whether
    the checks passed, and layer specials.
"""

from __future__ import annotations

import gzip
import json
import os
import shutil
import statistics
import threading
import time
import traceback

import gen
from tracing import p50, parse_progress

# --- input sizes and schedule: fixed, so every commit is measured alike ---
HISTORY_ELEMENTS = 3000          # OSM elements in the generated history
CORPUS_DOCS, CORPUS_VECTORS = 800, 400
MIXTURE = {"en": 0.4, "de": 0.2, "fr": 0.15, "es": 0.15, "zh": 0.1}
RECALL_QUERY = "ann_recall_lsh"  # registry query: LSH kNN recall@5 vs brute force
ANN_RECALL_FLOOR = 0.5           # mean recall@5 it must reach (random: 0.01)
FEED_PER_SEQ = 400               # features per replication sequence
FEED_BACKLOG = 1                 # sequences waiting when the streams start
FEED_TAIL = 3                    # sequences delivered on the open-loop schedule
TAIL_INTERVAL_S = 15.0           # open-loop delivery interval
STREAM_TIMEOUT_S = 90.0
FACETS = ("building", "road", "waterway", "poi", "coastline",
          "created", "modified", "deleted")


class Failures:
    """Counts attempted and failed operations; an exception inside an
    operation or a failed output check counts as a failure."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.notes: list[str] = []

    def check(self, ok: bool, what: str) -> bool:
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.notes.append(what)
        return ok


def _patch(owner, name: str, wrapper_factory, patches: list) -> None:
    orig = getattr(owner, name)
    setattr(owner, name, wrapper_factory(orig))
    patches.append((owner, name, orig))


def _unpatch(patches: list) -> None:
    for owner, name, orig in reversed(patches):
        setattr(owner, name, orig)
    patches.clear()


def _dir_bytes(root: str) -> tuple[int, int]:
    n = size = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(dirpath, f))
    return n, size


def _sql_path(path: str) -> str:
    return path.replace("'", "''")


def _duckdb(sql: str):
    import duckdb

    con = duckdb.connect(config={"threads": 1})
    try:
        return con.execute(sql).fetchall()
    finally:
        con.close()


def tagged_features(data: str) -> int:
    """Σ total_edits the stats app must report, counted in DuckDB: located
    tagged node versions, plus tagged way versions with at least two member
    node versions that are located, visible and valid at the way's time,
    all in changesets the changesets table knows."""
    h = _sql_path(os.path.join(data, "history.parquet"))
    c = _sql_path(os.path.join(data, "changesets.parquet"))
    tagged = ("len(list_filter(map_keys(tags), "
              "k -> k NOT IN ('created_by', 'source'))) > 0")
    return int(_duckdb(f"""
    WITH h AS (SELECT * FROM read_parquet('{h}')),
    cs AS (SELECT id FROM read_parquet('{c}')),
    nodes AS (
        SELECT id, lat, lon, visible, timestamp AS ts,
               lead(timestamp) OVER (PARTITION BY id ORDER BY version, timestamp) AS until
        FROM h WHERE type = 'node'),
    ways AS (
        SELECT id, version, timestamp AS ts, changeset, tags, unnest(nds) AS ref
        FROM h WHERE type = 'way'),
    verts AS (
        SELECT w.id, w.version, w.ts, any_value(w.changeset) AS changeset,
               any_value(w.tags) AS tags,
               count(n.id) FILTER (WHERE n.lat IS NOT NULL AND n.lon IS NOT NULL
                                   AND n.visible) AS nv
        FROM ways w LEFT JOIN nodes n
          ON n.id = w.ref AND n.ts <= w.ts
         AND w.ts < coalesce(n.until, TIMESTAMPTZ '9999-01-01 00:00:00+00')
        GROUP BY w.id, w.version, w.ts)
    SELECT (SELECT count(*) FROM h
            WHERE type = 'node' AND lat IS NOT NULL AND lon IS NOT NULL AND {tagged}
              AND changeset IN (SELECT id FROM cs))
         + (SELECT count(*) FROM verts
            WHERE nv >= 2 AND {tagged} AND changeset IN (SELECT id FROM cs))
    """)[0][0])


def write_history_with_expected(out_dir: str, n_elements: int, seed: int) -> None:
    """The generated history plus `expected.json`, the Σ total_edits its
    stats must add up to, so the count is paid once per cached input."""
    gen.write_history(out_dir, n_elements, seed)
    with open(os.path.join(out_dir, "expected.json"), "w") as f:
        json.dump({"total_edits": tagged_features(out_dir)}, f)


# ===========================================================================
# batch workloads: closed loop, one client, one cold pass
# ===========================================================================

class _BatchWorkload:
    """A chain of batch apps run once per process, as a spark-submit job
    runs: the measured pass is the first in a fresh JVM, so it includes
    the code generation and JIT warm-up every batch job pays."""

    def measure(self, ctx) -> dict:
        fails = Failures()
        res = None
        t = time.perf_counter()
        try:
            res = self._pass(ctx)
        except Exception as e:  # noqa: BLE001 - a failed pass is counted, not fatal
            ctx.log(traceback.format_exc())
            fails.check(False, f"pass raised {e!r}")
        return {"wall_s": time.perf_counter() - t, "res": res, "fails": fails}

    def check(self, ctx, measured: dict) -> None:
        if measured["res"] is not None:
            self._checks(measured["res"], measured["fails"])

    def traced_pass(self, ctx) -> dict:
        """A warm pass traced with the workload's wrappers installed, then
        the same pass untraced; the difference is the tracing overhead
        (the untraced pass runs second, on a warmer JVM, so the figure errs
        high rather than low)."""
        patches: list = []
        counts: dict[str, float] = {}
        self._install_wrappers(ctx, patches, counts)
        ctx.tracer.enabled = True
        t = time.perf_counter()
        try:
            res = self._pass(ctx)
        finally:
            ctx.tracer.enabled = False
            _unpatch(patches)
        wall = time.perf_counter() - t
        fails = Failures()
        self._checks(res, fails)
        t = time.perf_counter()
        self._pass(ctx)
        reference = time.perf_counter() - t
        return {"wall_s": wall, "reference_wall_s": reference,
                "ok": fails.failed == 0, "specials": self._specials(ctx, counts)}


class BatchApps(_BatchWorkload):
    """Two batch app chains in one job. OSM history: the reference's
    flagship changeset-stats app with the 311-country geocode (grid
    path), then the per-user rollup over its output. LLM corpus:
    near-duplicate dedup, training-corpus curation, then the registry's
    LSH recall evaluation (brute-force and LSH kNN)."""

    name = "batch_apps"

    def generate(self, ctx) -> None:
        from osmesa_spark import datagen

        self.countries_dir, _ = gen.cached(
            ctx.inputs, "countries-311", datagen.write_realworld_countries,
            depends=(datagen.__file__,))
        self.history, _ = gen.cached(
            ctx.inputs, f"history-s{ctx.seed}-n{HISTORY_ELEMENTS}",
            lambda d: write_history_with_expected(d, HISTORY_ELEMENTS, ctx.seed))
        self.corpus, _ = gen.cached(
            ctx.inputs, f"corpus-s{ctx.seed}-d{CORPUS_DOCS}-v{CORPUS_VECTORS}",
            lambda d: gen.write_corpus(d, CORPUS_DOCS, CORPUS_VECTORS, ctx.seed))
        with open(os.path.join(self.history, "expected.json")) as f:
            self.expected_edits = json.load(f)["total_edits"]

    def prepare(self, ctx) -> dict:
        """Load the 311 country polygons, as the stats app's job does
        before its first query (the app builds its geocode grid index
        itself, inside the timed pass)."""
        from osmesa_spark.operators.geocode import load_countries_geojson

        self.countries = load_countries_geojson(
            os.path.join(self.countries_dir, "countries_realworld.geojson"))
        return {}

    def _pass(self, ctx) -> dict:
        """The chain; each app's output is materialized before the next
        runs. What the checks read from the outputs is read in `_checks`,
        after the timed region."""
        from osmesa_spark import apps
        from osmesa_spark import queries as Q
        from osmesa_spark.operators import rollups

        spark, span = ctx.spark, ctx.tracer.span
        h = spark.read.parquet(os.path.join(self.history, "history.parquet"))
        cs = spark.read.parquet(os.path.join(self.history, "changesets.parquet"))
        with span("operators.stats"):
            stats = apps.changeset_stats_app(
                spark, h, cs, countries=self.countries).localCheckpoint(eager=True)
        with span("operators.rollups"):
            users = rollups.user_statistics(stats).localCheckpoint(eager=True)
        docs = spark.read.parquet(os.path.join(self.corpus, "documents.parquet"))
        with span("operators.dedup"):
            verdicts = apps.neardup_dedup_corpus(docs).localCheckpoint(eager=True)
        with span("operators.curation"):
            curated = apps.curate_training_corpus(docs, MIXTURE).localCheckpoint(eager=True)
        with span("queries"):
            recall = Q.registry()[RECALL_QUERY].spark(spark, self.corpus)
        with span("operators.similarity"):
            recall = [r["recall_at_5"] for r in recall.collect()]
        return {"stats": stats, "users": users, "verdicts": verdicts,
                "curated": curated, "recall": recall}

    def _checks(self, res: dict, fails: Failures) -> None:
        total = res["stats"].agg({"total_edits": "sum"}).first()[0] or 0
        fails.check(total == self.expected_edits,
                    f"total_edits {total} != {self.expected_edits}")
        fails.check(res["users"].count() > 0, "user rollup is empty")
        v = res["verdicts"].select("component", "kept").toPandas()
        fails.check(bool((v.groupby("component")["kept"].sum() == 1).all()),
                    "a dedup component keeps other than one document")
        fails.check(bool((v.groupby("component").size() > 1).any()),
                    "no near-duplicate component found")
        fails.check(res["curated"].count() > 0, "curated corpus is empty")
        recall = res["recall"]
        fails.check(bool(recall) and statistics.mean(recall) >= ANN_RECALL_FLOOR,
                    f"ann recall {recall} below {ANN_RECALL_FLOOR}")

    def _install_wrappers(self, ctx, patches: list, counts: dict) -> None:
        """Split the stats app's feature build into its geometry and
        geocode steps, each materialized under its own span; materialize
        and count the LSH candidates and the verified pairs; count py4j
        round trips made while the registry query is built."""
        import py4j.clientserver
        import py4j.java_gateway
        from osmesa_spark.operators import dedup
        from osmesa_spark.operators import geocode as geocode_mod
        from osmesa_spark.operators import stats as stats_mod

        tracer = ctx.tracer
        span = tracer.span
        counts.update(candidates=0, verified=0, py4j=0)

        def build_features(orig):
            def wrapped(history, countries=None):
                with span("operators.geometry"):
                    feats = orig(history, None).drop("countries").localCheckpoint(eager=True)
                with span("operators.geocode"):
                    return geocode_mod.geocode_polygons_auto(
                        feats, countries).localCheckpoint(eager=True)
            return wrapped

        def counted(key):
            def factory(orig):
                def wrapped(*a, **kw):
                    out = orig(*a, **kw).localCheckpoint(eager=True)
                    counts[key] += out.count()
                    return out
                return wrapped
            return factory

        def send_command(orig):
            def wrapped(conn, *a, **kw):
                if tracer.current() == "queries":
                    counts["py4j"] += 1
                return orig(conn, *a, **kw)
            return wrapped

        _patch(stats_mod, "build_features", build_features, patches)
        _patch(dedup, "lsh_candidate_pairs", counted("candidates"), patches)
        _patch(dedup, "jaccard_verify", counted("verified"), patches)
        _patch(py4j.clientserver.ClientServerConnection, "send_command",
               send_command, patches)
        _patch(py4j.java_gateway.GatewayConnection, "send_command",
               send_command, patches)

    def _specials(self, ctx, counts: dict) -> dict:
        from osmesa_spark.operators.geocode import build_grid_index

        t = time.perf_counter()
        build_grid_index(self.countries)
        return {
            "operators.geocode.grid_build_s": time.perf_counter() - t,
            "operators.dedup.candidate_pairs": float(counts["candidates"]),
            "operators.dedup.candidate_precision":
                counts["verified"] / counts["candidates"] if counts["candidates"] else 0.0,
            "queries.construct_s": sum(
                s["end"] - s["start"] for s in ctx.tracer.spans if s["name"] == "queries"),
            "queries.py4j_calls": float(counts["py4j"]),
        }


# ===========================================================================
# minutely_replication: restart-and-catch-up, then an open-loop tail
# ===========================================================================

PROC = "augmented-diff-stats"


def read_checkpoint(table_path: str) -> int:
    """The stats stream's checkpoint row for PROC, read from disk as the
    reference's lag monitor reads its checkpoint table; -1 while absent or
    mid-write."""
    try:
        with open(os.path.join(table_path, "_checkpoints", f"{PROC}.json")) as f:
            return int(json.load(f)["sequence"])
    except (OSError, ValueError, KeyError):
        return -1


def deliver(staging: str, drop: str, seq: int) -> None:
    """Make one sequence file appear atomically in the drop-dir (hidden
    name while copying; the file source skips dot-files)."""
    name = f"{seq}.jsonl"
    tmp = os.path.join(drop, "." + name)
    shutil.copyfile(os.path.join(staging, name), tmp)
    os.replace(tmp, os.path.join(drop, name))


def schedule(t0: float, interval: float, seqs: list[int]) -> dict[int, float]:
    """Due time of each tail sequence, fixed before delivery starts."""
    return {seq: t0 + k * interval for k, seq in enumerate(seqs)}


def open_loop(due: dict[int, float], send, sent: dict, stop: threading.Event) -> None:
    """Call `send(seq)` for each sequence at its due time, whatever the
    consumer is doing, and record when each was actually sent."""
    for seq, at in sorted(due.items(), key=lambda kv: kv[1]):
        while (left := at - time.perf_counter()) > 0:
            if stop.wait(min(left, 0.05)):
                return
        send(seq)
        sent[seq] = time.perf_counter()


def raise_if_failed(streams: dict) -> None:
    """Raise when a stream query has died: any query with an exception,
    or a stats query that is no longer active (the tile updater drains
    what is present and stops by design)."""
    for name, q in streams.items():
        err = q.exception()
        if err is not None:
            raise RuntimeError(f"{name} stream failed: {err}")
    if not streams["stats"].isActive:
        raise RuntimeError("stats stream stopped")


class MinutelyReplication:
    """A stream restarted with a backlog of augmented-diff sequences
    waiting: the stats upsert, the dead-letter errors table and the
    faceted tile updater drain it. In the traced run the reference cycle
    then keeps delivering one new sequence on a fixed schedule while the
    stats and errors streams keep up."""

    name = "minutely_replication"
    n_sequences = FEED_BACKLOG + FEED_TAIL

    def generate(self, ctx) -> None:
        self.staging, _ = gen.cached(
            ctx.inputs, f"feed-s{ctx.seed}-p{FEED_PER_SEQ}-n{self.n_sequences}",
            lambda d: gen.write_feed(d, self.n_sequences, FEED_PER_SEQ, ctx.seed))
        with open(os.path.join(self.staging, "facts.json")) as f:
            self.facts = {int(k): v for k, v in json.load(f).items()}

    def prepare(self, ctx) -> dict:
        """Nothing to build: a restarted stream pays its JVM warm-up inside
        its catch-up, which is what the timed region measures."""
        from osmesa_spark.datagen import COUNTRIES

        self.countries = COUNTRIES
        return {}

    def _start(self, ctx, root: str, drop: str) -> dict:
        from osmesa_spark.sources import replication as R
        from osmesa_spark.streaming import stats_stream, tiles_stream

        spark = ctx.spark
        stats_q, errors_q = stats_stream.run_streaming_stats_with_deadletter(
            R.read_augmented_diffs(spark, drop, streaming=True),
            os.path.join(root, "stats"), os.path.join(root, "errors"),
            os.path.join(root, "ckpt"), proc_name=PROC, countries=self.countries)
        streams = {"stats": stats_q, "errors": errors_q}
        good, _ = R.split_errors(R.read_augmented_diffs(spark, drop, streaming=True))
        streams["tiles"] = tiles_stream.run_streaming_faceted_tile_updater(
            good, os.path.join(root, "tiles"), os.path.join(root, "ckpt_tiles"),
            zoom=10, cells=16)
        return streams

    def _wait_committed(self, streams: dict, root: str, seq: int, deadline: float) -> float:
        table = os.path.join(root, "stats")
        probe = 0.0
        while read_checkpoint(table) < seq:
            now = time.perf_counter()
            if now > deadline:
                raise TimeoutError(f"sequence {seq} not committed in time")
            if now >= probe:
                raise_if_failed(streams)
                probe = now + 0.25
            time.sleep(0.005)
        return time.perf_counter()

    def _pass(self, ctx, root: str, tail: bool) -> dict:
        """Catch-up: the backlog is in the drop-dir when the three queries
        start; timed until all three sinks have committed it. With `tail`,
        the tail sequences then arrive on the open-loop schedule and each
        one's latency is taken. The queries are stopped before returning."""
        drop = os.path.join(root, "drop")
        os.makedirs(drop)
        first = gen.FIRST_SEQUENCE
        backlog = list(range(first, first + FEED_BACKLOG))
        for seq in backlog:
            deliver(self.staging, drop, seq)
        t0 = time.perf_counter()
        streams = self._start(ctx, root, drop)
        stop = threading.Event()
        sender = None
        try:
            # with the 0 s watermark a sequence's groups are emitted by the
            # micro-batch after its own (a no-data batch when nothing new
            # has arrived), so every delivered sequence gets committed
            self._wait_committed(streams, root, backlog[-1], t0 + STREAM_TIMEOUT_S)
            if not streams["tiles"].awaitTermination(STREAM_TIMEOUT_S):
                raise TimeoutError("tile updater did not drain the backlog")
            streams["errors"].processAllAvailable()
            res = {"catchup_s": time.perf_counter() - t0, "delivered": list(backlog),
                   "latencies": [], "lateness": []}
            if tail:
                seqs = list(range(backlog[-1] + 1, first + self.n_sequences))
                due = schedule(time.perf_counter(), TAIL_INTERVAL_S, seqs)
                sent: dict[int, float] = {}
                sender = threading.Thread(target=open_loop, args=(
                    due, lambda s: deliver(self.staging, drop, s), sent, stop))
                sender.start()
                # a tail sequence's latency runs from its due time to the
                # checkpoint row reaching it
                res["latencies"] = [
                    self._wait_committed(streams, root, s, due[s] + STREAM_TIMEOUT_S) - due[s]
                    for s in seqs
                ]
                sender.join()
                streams["errors"].processAllAvailable()
                res["lateness"] = [sent[s] - due[s] for s in seqs]
                res["delivered"] += seqs
            res["progress"] = {k: q.recentProgress for k, q in streams.items()}
            return res
        finally:
            stop.set()
            if sender is not None:
                sender.join()
            for q in streams.values():
                q.stop()

    def _checks(self, root: str, res: dict, fails: Failures) -> None:
        import pyarrow.parquet as pq

        data = _sql_path(os.path.join(root, "stats", "data"))
        seqs = {r[0] for r in _duckdb(
            f"SELECT DISTINCT unnest(augmented_diffs) FROM read_parquet('{data}/*.parquet')")}
        missing = sorted(set(res["delivered"]) - seqs)
        fails.check(not missing, f"sequences missing from the stats table: {missing}")
        errors = pq.read_table(os.path.join(root, "errors", "data")).num_rows
        injected = sum(self.facts[s]["corrupt"] for s in res["delivered"])
        fails.check(errors == injected, f"errors table has {errors} rows, {injected} injected")
        # the zoom-0 tile aggregates every point; MVT stores tag keys as
        # plain strings, so each facet's key must appear in its payload
        apex = os.path.join(root, "tiles", "0", "0", "0.mvt.gz")
        payload = b""
        if os.path.exists(apex):
            with open(apex, "rb") as f:
                payload = gzip.decompress(f.read())
        absent = [f for f in FACETS if f"density:{f}".encode() not in payload]
        fails.check(not absent, f"facets without tiles: {absent}")
        if res["lateness"]:
            fails.check(max(res["lateness"]) < TAIL_INTERVAL_S,
                        f"open-loop generator ran late: {res['lateness']}")

    def measure(self, ctx) -> dict:
        """One cold catch-up; its wall time is the catch-up time."""
        fails = Failures()
        root = ctx.scratch("measured")
        res = None
        t = time.perf_counter()
        try:
            res = self._pass(ctx, root, tail=False)
        except Exception as e:  # noqa: BLE001 - a failed stream is counted, not fatal
            ctx.log(traceback.format_exc())
            fails.check(False, f"catch-up raised {e!r}")
        wall = res["catchup_s"] if res is not None else time.perf_counter() - t
        return {"wall_s": wall, "root": root, "res": res, "fails": fails}

    def check(self, ctx, measured: dict) -> None:
        if measured["res"] is not None:
            self._checks(measured["root"], measured["res"], measured["fails"])

    def traced_pass(self, ctx) -> dict:
        """A warm catch-up with the upsert sink, the tile vectorgrid chain
        and the tile sink wrapped in spans (the streams' own jobs are
        attributed by run id), then an untraced warm catch-up followed by
        the open-loop tail: the reference for the tracing overhead (run
        second, so the overhead errs high), the catch-up rate and the tail
        latencies."""
        import pyarrow.parquet as pq
        from osmesa_spark.sinks import mvt
        from osmesa_spark.sinks.upsert import ParquetUpsertTable
        from osmesa_spark.streaming import tiles_stream

        span = ctx.tracer.span
        writes: list[tuple[float, int]] = []
        patches: list = []

        def upsert_stats(orig):
            def wrapped(table, batch):
                with span("sinks.upsert") as rec:
                    orig(table, batch)
                rows = pq.read_table(table.data_dir, columns=["id"]).num_rows
                writes.append((rec["end"] - rec["start"], rows))
            return wrapped

        def tiles_for_batch(orig):
            def wrapped(batch, zoom, cells):
                with span("operators.vectorgrid"):
                    return orig(batch, zoom, cells).localCheckpoint(eager=True)
            return wrapped

        def spanned(name):
            def factory(orig):
                def wrapped(*a, **kw):
                    with span(name):
                        return orig(*a, **kw)
                return wrapped
            return factory

        _patch(ParquetUpsertTable, "upsert_stats", upsert_stats, patches)
        _patch(tiles_stream, "faceted_edit_tiles_for_batch", tiles_for_batch, patches)
        _patch(mvt, "write_tile_pyramid_grouped", spanned("sinks.mvt"), patches)
        root = ctx.scratch("traced")
        ctx.tracer.enabled = True
        try:
            res = self._pass(ctx, root, tail=False)
        finally:
            ctx.tracer.enabled = False
            _unpatch(patches)
        fails = Failures()
        self._checks(root, res, fails)
        ref_root = ctx.scratch("reference")
        ref = self._pass(ctx, ref_root, tail=True)
        self._checks(ref_root, ref, fails)
        ctx.log(f"traced catch-up {res['catchup_s']:.2f}s; untraced catch-up "
                f"{ref['catchup_s']:.2f}s, tail latencies "
                f"{[round(x, 2) for x in ref['latencies']]}, generator lateness "
                f"{[round(x, 4) for x in ref['lateness']]}")
        prog = res["progress"]
        layers = {"stats": "streaming.stats_stream", "errors": "sources.replication",
                  "tiles": "streaming.tiles_stream"}
        parsed = {layers[k]: parse_progress(p) for k, p in prog.items()}
        ctx.stream_layers = {p[0]["runId"]: layers[k] for k, p in prog.items() if p}
        ctx.stream_busy = {layer: p["busy_s"] for layer, p in parsed.items()}
        stats_p, tiles_p = parsed["streaming.stats_stream"], parsed["streaming.tiles_stream"]
        rows_read = parsed["sources.replication"]["rows"]
        in_batches = sum(len(self.facts[s]["changesets"]) for s in res["delivered"])
        tiles, size = _dir_bytes(os.path.join(root, "tiles"))
        return {"wall_s": res["catchup_s"], "reference_wall_s": ref["catchup_s"],
                "ok": fails.failed == 0, "specials": {
            "catchup_seqs_per_s": FEED_BACKLOG / ref["catchup_s"],
            "tail_latency_p50_s": p50(ref["latencies"]),
            "sources.replication.rows": rows_read,
            "sources.replication.dead_letter_ratio": sum(
                self.facts[s]["corrupt"] for s in res["delivered"]) / max(rows_read, 1.0),
            **{f"streaming.stats_stream.{k}": stats_p[k] for k in (
                "batch_ms_p50", "planning_ms_p50", "addbatch_ms_p50", "wal_ms_p50",
                "state_rows", "state_mb")},
            "streaming.tiles_stream.batch_ms_p50": tiles_p["batch_ms_p50"],
            "streaming.tiles_stream.addbatch_ms_p50": tiles_p["addbatch_ms_p50"],
            "sinks.upsert.write_s_p50": p50(w for w, _ in writes),
            "sinks.upsert.table_rows": float(writes[-1][1]) if writes else 0.0,
            # every upsert rewrites the whole table: rows written over the
            # rows the committed sequences actually brought
            "sinks.upsert.rewrite_ratio": sum(r for _, r in writes) / max(in_batches, 1),
            "sinks.mvt.tiles_written": float(tiles),
            "sinks.mvt.bytes_written": float(size),
        }}


WORKLOADS = {w.name: w for w in (BatchApps, MinutelyReplication)}
