"""SparkSession factory tuned for this engine.

Defaults target the test harness (``local[$SPARK_GRAFT_CPUS]``) but every
setting is the one you'd want on a real cluster too: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow for the
pandas-UDF kernels, UTC session timezone so timestamp semantics are
oracle-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds this package: Python workers must import it
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "polars_dataset_spark", shuffle_partitions: int | None = None) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # FAIR job scheduling (static conf — a local property cannot set
        # it): concurrent submitters each get a fair share of executor
        # slots, so an iterative query's many small jobs are not starved
        # behind another query's large FIFO-queued stages. Threads opt
        # into separate pools via the spark.scheduler.pool local property.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"))
        .config("spark.ui.enabled", "false")
        # connected_components pins every round: delete a reliable
        # checkpoint's files once its DataFrame is garbage-collected
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # keep stderr clean for harness-captured artifacts (bench tails):
        # the [Stage N:==>] console progress writer is stderr-only noise
        .config("spark.ui.showConsoleProgress", "false")
        # Python-worker stability (r3 bench showed a worker BrokenPipeError
        # absorbed by a task retry): pin the daemon/worker knobs explicitly
        # instead of inheriting defaults, and turn on the worker
        # faulthandler so a crashing worker logs WHY (segfault/OOM) rather
        # than dying silently into a retry.
        .config("spark.python.worker.reuse", "true")
        .config("spark.python.worker.memory", os.environ.get("SPARK_GRAFT_PY_WORKER_MEM", "1g"))
        .config("spark.python.worker.faulthandler.enabled", "true")
        # Arrow batch sizing for the media/archive operators (guide §4.2):
        # the row-count cap alone lets a 10k-row batch of ~MB binary cells
        # balloon to GBs inside one Python worker; the Spark-4 byte cap
        # bounds each batch regardless of row width. 64 MiB is inert for
        # the narrow numeric/text kernels (they never reach it) and caps
        # worker RSS on blob columns at any scale. Parameterised for
        # cluster tuning.
        .config(
            "spark.sql.execution.arrow.maxBytesPerBatch",
            os.environ.get("SPARK_GRAFT_ARROW_MAX_BYTES", str(64 * 1024 * 1024)),
        )
    )
    alloc = os.path.join(_PACKAGE_PARENT, "conf", "fairscheduler.xml")
    if os.path.exists(alloc):  # declared pools: no per-pool builder warnings
        builder = builder.config("spark.scheduler.allocation.file", alloc)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _share_package_path(spark)
    return spark


def _share_package_path(spark: SparkSession) -> None:
    """Put this package's parent directory on the Python workers'
    ``PYTHONPATH``. Workers start in the JVM's cwd with only Spark's own
    path, so a Spark driver that found the package anywhere but its cwd would
    fail every Python UDF with ``ModuleNotFoundError``. Each UDF carries
    ``SparkContext.environment`` to its workers, read when the UDF is
    created, so this also holds for a session built elsewhere."""
    env = spark.sparkContext.environment
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if _PACKAGE_PARENT not in paths:
        env["PYTHONPATH"] = os.pathsep.join([_PACKAGE_PARENT, *paths])


def pin(df, eager: bool = False):
    """Materialize an intermediate and truncate its lineage — the
    engine's single chokepoint for every iterative/fan-out checkpoint
    (redirects, connected components, pagerank, semantic_dedup, funnel,
    prefix sums, chunked rolling windows).

    Default: ``localCheckpoint`` — blocks live on executors, which is
    fast but NOT fault-tolerant: losing an executor after the pin fails
    downstream actions instead of recomputing (fine in local mode and
    for short-lived results). For cluster runs set
    ``SPARK_GRAFT_RELIABLE_CHECKPOINT=1`` to switch every site to
    reliable-storage ``checkpoint()`` (requires a checkpoint dir:
    ``spark.checkpoint.dir`` / ``SparkContext.setCheckpointDir``, or
    ``SPARK_GRAFT_CHECKPOINT_DIR`` which this helper applies on first
    use)."""
    if os.environ.get("SPARK_GRAFT_RELIABLE_CHECKPOINT") == "1":
        sc = df.sparkSession.sparkContext
        if sc.getCheckpointDir() is None:
            cdir = os.environ.get("SPARK_GRAFT_CHECKPOINT_DIR")
            if not cdir:
                raise RuntimeError(
                    "SPARK_GRAFT_RELIABLE_CHECKPOINT=1 needs a checkpoint "
                    "dir: set spark.checkpoint.dir / setCheckpointDir() or "
                    "SPARK_GRAFT_CHECKPOINT_DIR"
                )
            sc.setCheckpointDir(cdir)
        return df.checkpoint(eager=eager)
    return df.localCheckpoint(eager=eager)


def ensure_parallelism(df, min_parts: int | None = None):
    """Round-robin repartition a DataFrame whose plan currently yields
    fewer partitions than the session's core count — used by operators
    whose next stage does heavy per-row work OUTSIDE a shuffle (Arrow
    pandas-UDF batches, big explodes feeding partial aggregation).

    A narrow scan of one small file (or one parquet row group — file
    splitting cannot cut inside a row group) produces ONE partition, so
    every map stage built on it runs on one core no matter how many the
    executor has. On a real cluster with many input files this is a
    no-op; on skewed/few-file inputs it costs one small shuffle of the
    raw bytes and buys full map-side parallelism. Cheap-expression
    pipelines should NOT call this — for them the shuffle outweighs the
    map work."""
    sc = df.sparkSession.sparkContext
    target = min_parts or sc.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def apply_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine defaults to an externally provided
    session (e.g. one a host application built). Only touches dynamic
    confs, plus the Python workers' path to this package."""
    _share_package_path(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark
