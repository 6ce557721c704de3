"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec, ...}, "sf": ...}.

Each query runs 3 times after a warm-up (session + JVM init, parquet
footers, Python worker pool); "queries" records per-query MEDIANS so
round-over-round deltas can be read against each query's own noise floor.
The per-query spread (max−min across the 3 reps) plus full-precision
medians are written to bench_details.json next to this script — the
printed line is kept compact because the driver recovers it from a
bounded tail of captured output. Timing is wall-clock including the
collect-equivalent action (count on the result), which forces the full
plan.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from osmesa_spark import queries as Q
from osmesa_spark.session import get_spark

HEADLINE = [
    "changeset_stats",
    "pricing_summary",
    "price_quantiles_sketch",
    "top_revenue_orders",
    "range_temporal_join",
    "window_prev_value",
    "topk_per_group",
    "full_outer_stats_merge",
    "user_statistics",
    "day_key_histogram",
    "event_sessions",
    "event_funnel",
    "event_props_rollup",
    "event_type_pivot",
    "haversine_user_path",
    "tile_histogram",
    "exact_dedup_docs",
    "minhash_lsh_pairs",
    "neardup_jaccard",
    "dedup_components",
    "split_leakage_safe",
    "mixture_temperature",
    "corpus_shard_manifest",
    "split_contamination_report",
    "token_budget_plan",
    "simhash_pairs",
    "doc_winnow_fingerprints",
    "neardup_winnow_pairs",
    "neardup_cosine",
    "knn_bruteforce",
    "knn_ivf",
    "knn_lsh",
    "knn_quantized",
    "knn_binary_rerank",
    "knn_pq",
    "knn_ivfpq",
    "knn_rp",
    "ivf_append",
    "ann_recall_lsh",
    "ann_recall_pq",
    "ann_recall_rp",
    "neardup_sparse_cosine",
    "neardup_containment",
    "doc_token_entropy",
    "doc_bm25_topk",
    "doc_bpe_train",
    "doc_quality_bins",
    "doc_gopher_rules",
    "doc_lr_quality",
    "source_doc_cap",
    "source_doc_cap_topk",
    "multimodal_resize",
    "multimodal_phash_pairs",
    "curation_pipeline",
    "corpus_curation_app",
    "neardup_dedup_app",
    "quality_dup_correlation",
    "doc_dedup_spans",
    "doc_dedup_spans_char",
    "doc_paragraph_dedup",
    "dsir_weights",
    "lr_score_frozen",
    "intake_accepted_batch",
    "lr_calibration",
    "length_bucket_padding",
    # r9 second batch: line dedup / blocklist / DoReMi / JSD / prototypes /
    # density / char decontamination / MMR / Zipf
    "doc_line_dedup",
    "doc_blocklist_filter",
    "domain_reweight_nll",
    "source_js_divergence",
    "embedding_prototypicality",
    "embedding_density",
    "decontaminate_spans_char",
    "mmr_diverse_topk",
    "corpus_zipf_fit",
    "knn_lsh_multiprobe",
    "ann_recall_multiprobe",
    "knn_label_accuracy",
    "embedding_dim_stats",
    "collocations_pmi",
    "knn_ivf_nprobe",
    "doc_gopher_repetition",
    "quality_source_norm",
    "local_supplier_volume",
    "event_dau_mau",
    "doc_longest_dup_span",
    "incremental_new_docs",
    "doc_lm_nll",
    "doc_c4_line_filter",
    "decontaminate_overlap",
    "doc_dup_ngram_fraction",
    "kmeans_clusters",
    "semdedup_prune",
    "doc_quality",
    "doc_repetition_stats",
    "lang_id",
    "multimodal_features",
    "building_match_volume",
    "building_match_support",
    "building_match",
    "osm_geocode",
    "osm_geocode_grid",
    "osm_geocode_realworld",
    "osm_utm_area",
    "osm_changeset_stats",
    "osm_way_reconstruction",
    "osm_tile_pyramid",
    "osm_user_statistics",
    "osm_relation_assembly_deep",
    "osm_coedit_pagerank",
    "osm_snapshot_diff",
    "osm_way_tile_cover",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    sf = sf_dir.rstrip("/").split("sf")[-1]
    spark = get_spark("osmesa-bench")
    spark.sparkContext.setLogLevel("ERROR")

    registry = Q.registry()
    # Warm up to steady state so timings measure the operators, not one-time
    # process init: JVM/codegen via the cheapest query, parquet footers via a
    # per-table touch, and the Python worker pool + shipped package zip via a
    # trivial Arrow round-trip (first pandas-UDF stage otherwise pays it).
    registry["pricing_summary"].spark(spark, sf_dir).count()
    from osmesa_spark.session import ship_package

    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        # Q._t handles the events table's nanosecond timestamps
        df = Q._t(spark, sf_dir, t)
        df.select(df.columns[0]).limit(1).count()
    ship_package(spark)

    def _preload(it):
        # first pandas-UDF call in each worker pays numpy/pandas + kernel
        # module imports — do it here, not inside a timed query
        import osmesa_spark.operators.buildings  # noqa: F401
        import osmesa_spark.operators.multimodal  # noqa: F401

        return it

    spark.range(64).repartition(32).mapInPandas(
        _preload, schema="id long"
    ).count()

    # 3 reps per query, report the MEDIAN plus the spread (max − min):
    # sub-second entries on a shared local[32] machine swing ±30% run to
    # run, and a single-rep (or best-of) number can't distinguish a real
    # plan regression from scheduler/GC/page-cache jitter. The median is
    # robust to one bad rep in either direction; the recorded spread says
    # how much to trust a round-over-round delta for that query.
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        spec = registry[name]

        def run_once() -> float:
            t0 = time.perf_counter()
            spec.spark(spark, sf_dir).count()
            return time.perf_counter() - t0

        reps = sorted(run_once() for _ in range(3))
        timings[name] = round(reps[1], 3)
        spreads[name] = round(reps[-1] - reps[0], 3)
        # release py4j refs so ContextCleaner can drop the previous
        # query's localCheckpoint blocks / broadcasts — 54 queries × 3
        # reps of retained state otherwise turns late entries into GC
        # noise (observed 10 s+ spreads on ~1 s queries)
        import gc

        gc.collect()
    total = round(sum(timings.values()), 3)
    streaming_sec = measure_streaming_minutely_batch(spark)
    tile_sec = measure_streaming_tile_batch(spark)
    sf_val = float(sf) if sf.replace(".", "").isdigit() else sf
    # Full detail (incl. per-query spreads) goes to a side file; the
    # stdout line must stay short: the driver keeps only the LAST 2000
    # characters of captured stdout (BENCH_r08's `tail` is exactly 2000
    # and starts mid-line), so anything longer records parsed:null. The
    # printed line is therefore hard-capped at 1900 chars: the headline
    # value + streaming numbers ALWAYS fit, and the per-query map is
    # filled greedily with the most expensive queries until the budget
    # is reached ("queries_omitted" counts the cheap entries that spill
    # to the detail file — bench_details holds every query regardless).
    detail = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": timings,
        "spread": spreads,
        "streaming_minutely_batch": streaming_sec,
        "streaming_tile_batch": tile_sec,
        "sf": sf_val,
        # cross-run comparability markers: a loaded machine inflates every
        # median uniformly (r5→r6 driver runs differed ~1.29× on identical
        # code) — record ambient load + query count so that inflation is
        # diagnosable instead of read as a plan regression
        "n_queries": len(timings),
        "loadavg_1m_5m_15m": [round(x, 2) for x in os.getloadavg()],
        "cpus": os.cpu_count(),
    }
    # Detail defaults to a GITIGNORED path so a driver-triggered bench run
    # cannot dirty the committed tree (VERDICT r8 #6: the r8 driver run
    # overwrote the committed bench_details.json). The builder sets
    # SPARK_GRAFT_BENCH_DETAILS=bench_details.json when refreshing the
    # committed snapshot deliberately.
    detail_path = os.environ.get(
        "SPARK_GRAFT_BENCH_DETAILS",
        os.path.join(os.path.dirname(os.path.abspath(__file__)),
                     "bench_details_run.json"),
    )
    with open(detail_path, "w") as f:
        json.dump(detail, f, indent=1)
    print(compact_line(total, timings, streaming_sec, tile_sec, sf_val))


# Hard cap for the printed line: the driver's stdout capture keeps the
# last 2000 chars, and 100 chars of margin absorbs log-line bleed.
LINE_BUDGET = 1900


def compact_line(
    total: float,
    timings: dict[str, float],
    streaming_sec: float,
    tile_sec: float,
    sf_val,
    budget: int = LINE_BUDGET,
) -> str:
    """ONE JSON line, guaranteed <= `budget` chars: headline metric +
    streaming numbers always; per-query medians greedily by DESCENDING
    cost (the expensive queries are the round-over-round perf signal)
    until the budget is reached; "queries_omitted" records the spill."""
    base = {
        "metric": "headline_queries_total_wall",
        "value": total,
        "unit": "sec",
        "queries": {},
        "queries_omitted": len(timings),
        "streaming_minutely_batch": streaming_sec,
        "streaming_tile_batch": tile_sec,
        "sf": sf_val,
    }
    line = json.dumps(base, separators=(",", ":"))
    picked: dict[str, float] = {}
    for name, sec in sorted(timings.items(), key=lambda kv: (-kv[1], kv[0])):
        trial = dict(base)
        trial["queries"] = {**picked, name: round(sec, 2)}
        trial["queries_omitted"] = len(timings) - len(trial["queries"])
        trial_line = json.dumps(trial, separators=(",", ":"))
        if len(trial_line) > budget:
            break
        picked = trial["queries"]
        line = trial_line
    return line


def measure_streaming_minutely_batch(spark) -> float:
    """BASELINE.md target 3 (<60 s minutely batch), measured as an actual
    stream, not inferred from batch numbers: one augmented-diff sequence of
    4000 features lands in a drop-dir; wall-clock covers readStream pickup →
    dead-letter split → geocoded stats rollup → idempotent
    parquet upsert + checkpoint row, i.e. the full StreamingChangesetStats
    ingest chain. 4000 elements/minute is at the high end of real minutely
    replication traffic, so this is the conservative SLA proxy."""
    import shutil
    import tempfile

    from osmesa_spark.datagen import COUNTRIES, write_augdiff_dropdir
    from osmesa_spark.sinks.upsert import ParquetUpsertTable
    from osmesa_spark.sources import replication as R
    from osmesa_spark.streaming import stats_stream as S

    base = tempfile.mkdtemp(prefix="bench_stream_")
    try:
        drop = os.path.join(base, "augdiffs")
        write_augdiff_dropdir(drop, n_sequences=1, per_seq=4000, corrupt_every=97)
        # the stream is stateless: the upsert sink rolls up each bounded
        # micro-batch, so sequence 1000 commits in the batch that reads it
        # and needs no later sequence to finalize. The 1-row follow-on
        # sequence is kept so the measured cycle stays comparable across
        # rounds.
        with open(os.path.join(drop, "1001.jsonl"), "w") as f:
            f.write(
                json.dumps({
                    "sequence": 1001, "id": 1, "type": "node", "version": 1,
                    "minorVersion": 0, "updated": "2020-01-01T00:00:00",
                    "visible": True, "tags": {"building": "yes"},
                    "prevTags": None, "changeset": 999_999, "uid": 2,
                    "user": "flush", "geomType": "Point",
                    "geom": [{"lon": 0.0, "lat": 0.0}], "prevGeom": None,
                }) + "\n"
            )
        table_path = os.path.join(base, "stats_table")
        t0 = time.perf_counter()
        good, _ = R.split_errors(
            R.read_augmented_diffs(spark, drop, streaming=True)
        )
        q = S.run_streaming_stats_to_upsert(
            good,
            table_path,
            os.path.join(base, "ckpt"),
            countries=COUNTRIES,
        )
        q.processAllAvailable()
        q.stop()
        elapsed = time.perf_counter() - t0
        stored = ParquetUpsertTable(table_path).read(spark)
        if stored is None or stored.count() == 0:
            return -1.0  # sentinel: stream drained without committing
        return round(elapsed, 3)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def measure_streaming_tile_batch(spark) -> float:
    """The OTHER minutely consumer (StreamingFacetedEditHistogramTileUpdater
    chain): one 4000-feature augmented-diff sequence → facet-map points →
    per-(facet, sequence) pyramid → idempotent MVT tile upsert, measured as
    an actual availableNow stream. Together with
    `streaming_minutely_batch` this covers both reference streaming sinks
    (DB stats + tile trees) against the < 60 s keep-up bar."""
    import glob
    import shutil
    import tempfile

    from osmesa_spark.datagen import write_augdiff_dropdir
    from osmesa_spark.sources import replication as R
    from osmesa_spark.streaming.tiles_stream import (
        run_streaming_faceted_tile_updater,
    )

    base = tempfile.mkdtemp(prefix="bench_tiles_")
    try:
        drop = os.path.join(base, "augdiffs")
        write_augdiff_dropdir(drop, n_sequences=1, per_seq=4000, corrupt_every=97)
        root = os.path.join(base, "tiles")
        t0 = time.perf_counter()
        good, _ = R.split_errors(
            R.read_augmented_diffs(spark, drop, streaming=True)
        )
        q = run_streaming_faceted_tile_updater(
            good, root, os.path.join(base, "ckpt"), zoom=10, cells=16
        )
        q.processAllAvailable()
        q.stop()
        elapsed = time.perf_counter() - t0
        if not glob.glob(f"{root}/*/*/*.mvt.gz"):
            return -1.0  # sentinel: stream drained without writing tiles
        return round(elapsed, 3)
    finally:
        shutil.rmtree(base, ignore_errors=True)


if __name__ == "__main__":
    main()
