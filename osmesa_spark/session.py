"""SparkSession factory.

Reference model: ``src/analytics/src/main/scala/osmesa/analytics/Analytics.scala:10-28``
(Kryo, ORC native reader + filter pushdown, Hive support). Our rebuild keeps the
spirit — scan pushdown on, sane shuffle parallelism — but leans on Spark 3/4
features the reference (Spark 2.4) lacked: AQE (runtime coalesce, skew-join
splitting) and Arrow-backed pandas UDFs.

Scale notes (100 TB / 1000 executors):
  * ``spark.sql.shuffle.partitions`` here is a local-test default; at cluster
    scale AQE coalescing makes the initial number mostly a ceiling — set it
    high (the reference used 2000: ``emr-configurations/batch-process.json:14``)
    and let AQE shrink per-stage.
  * ``maxPartitionBytes`` 128m keeps scan tasks memory-bounded regardless of
    input size.
  * Arrow batch size bounded so pandas-UDF stages don't balloon executor RSS.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_LOCAL_CPUS = os.environ.get("SPARK_GRAFT_CPUS", "32")


def get_spark(
    app_name: str = "osmesa-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the session with the engine's standard config."""
    master = master or f"local[{_LOCAL_CPUS}]"
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # AQE: runtime partition coalescing + skew-join handling replaces the
        # reference's hand-tuned blank repartition() calls (Footprints.scala:35).
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or int(os.environ.get("SPARK_GRAFT_SHUFFLE", "32"))),
        )
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def ship_package(spark: SparkSession) -> None:
    """Make `osmesa_spark` importable on executor Python workers.

    Operators backed by mapInPandas/pandas UDFs close over objects in this
    package; cloudpickle serializes those by module reference, so every
    worker must be able to `import osmesa_spark`. On a real cluster that's
    `spark-submit --py-files osmesa_spark.zip`; for library use we self-ship:
    zip the installed package once and `addPyFile` it, once per
    SparkContext (`ctx_memo`). Cheap no-op when the worker could already
    import it (same-machine local mode with cwd on path), and required when
    the driver only patched its own sys.path."""
    from osmesa_spark.util import ctx_memo

    sc = spark.sparkContext
    ctx_memo(sc, "ship_package", lambda: sc.addPyFile(_package_zip()))


def _package_zip() -> str:
    """The package zip under TMPDIR, rebuilt when a source is newer."""
    import uuid
    import zipfile

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    zip_path = os.path.join(
        os.environ.get("TMPDIR", "/tmp"), "osmesa_spark_pkg.zip"
    )
    sources = [
        os.path.join(root, f)
        for root, _, files in os.walk(pkg_dir)
        for f in files
        if f.endswith(".py")
    ]
    if not os.path.exists(zip_path) or os.path.getmtime(zip_path) < max(
        map(os.path.getmtime, sources)
    ):
        # build beside the target, then rename: another process reading or
        # building the same path never sees a partial zip
        tmp = f"{zip_path}.{uuid.uuid4().hex}.tmp"
        try:
            with zipfile.ZipFile(tmp, "w") as zf:
                for full in sources:
                    rel = os.path.relpath(full, pkg_dir)
                    zf.write(full, os.path.join("osmesa_spark", rel))
            os.replace(tmp, zip_path)
        finally:
            if os.path.exists(tmp):
                os.unlink(tmp)
    return zip_path
