"""SparkSession factory with the engine's standard configuration.

Local-mode knobs follow the scale design in SURVEY.md §4: AQE on
(runtime re-plan + skew-join splitting), Arrow on (every Python
surface is vectorized), shuffle partitions sized to cores (the
cluster deployment would size them to ~2-3x total cores), UTC
session timezone so DuckDB-oracle comparisons are stable. Join
strategy is Spark's own per-join choice: broadcast under the 64MB
threshold, otherwise the spill-safe sort-merge default
(plans/shapes.json records the joins of every declared query).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# local[N] parallelism: $SPARK_GRAFT_CPUS, else the CPUs this process
# may run on (what `nproc` reports)
DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))

def _workers_import_package() -> bool:
    """Whether a local Python worker can import ``gelos_spark``: its
    root directory is the cwd (``python -m`` puts it on the daemon's
    path), a ``PYTHONPATH`` entry or a site-packages directory."""
    import site

    root = os.path.dirname(os.path.dirname(os.path.realpath(__file__)))
    dirs = [
        os.getcwd(),
        *os.environ.get("PYTHONPATH", "").split(os.pathsep),
        *site.getsitepackages(),
        site.getusersitepackages(),
    ]
    return any(d and os.path.realpath(d) == root for d in dirs)


def get_spark(
    app_name: str = "gelos_spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
    master: str | None = None,
) -> SparkSession:
    """Build (or reuse) the engine SparkSession.

    ``cpus`` controls ``local[N]``; the two-parallelism-level scaling
    benchmark (BASELINE.md) runs the same job at 8 and 32. Pass
    ``master`` to target a real cluster — cluster sessions keep
    Spark's default scan-split sizing (the 16MB override below is a
    local-bench knob only).
    """
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)
    master = master or f"local[{cpus}]"
    b = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # decoded 3-channel uint8 tiles are ~12KB-200KB each; cap Arrow
        # batches so payload stages stay bounded-memory (SURVEY.md §4)
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "1024")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    if master.startswith("local"):
        # local-scale scan granularity: default 128MB packs a whole
        # bench table into 1-2 input splits, serializing every narrow
        # stage downstream of a scan (broadcast joins, pandas-UDF
        # refine). 16MB yields >= cores splits at bench sizes; cluster
        # sessions keep the default (TB inputs -> thousands of splits).
        b = b.config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        b = b.config("spark.sql.files.openCostInBytes", str(1024 * 1024))
        # Python workers fork from gelos_spark.worker_daemon: every Python
        # task runs importlib.invalidate_caches(), which under CPython 3.11
        # re-parses pyspark.zip's ~27k-entry directory once per zip
        # importer, 150-400 ms a task (3.12 made it lazy, gh-103200); the
        # daemon re-reads an archive only when it changed. Local-only: a
        # cluster's executor hosts need not be able to import this
        # package, nor can local workers when the driver runs outside
        # the repo (_workers_import_package).
        if _workers_import_package():
            b = b.config("spark.python.daemon.module", "gelos_spark.worker_daemon")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
