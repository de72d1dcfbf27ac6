"""SparkSession factory tuned for this engine.

Defaults target the host it runs on (``local[<host CPUs>]``, half its
physical memory for the driver; ``SPARK_GRAFT_CPUS`` and
``SPARK_GRAFT_DRIVER_MEM`` override them) but every
setting is the one you'd want on a real cluster too: AQE on (runtime
re-planning, skew-join splitting, partition coalescing), Arrow for the
pandas-UDF kernels, UTC session timezone so timestamp semantics are
oracle-stable.

PySpark's call-site capture is off: on pyspark 4.1 it wraps every
``Column``/``functions`` call (``pyspark/errors/utils.py:_with_origin``)
in Py4J round trips that record the Python file:line, half of a query's
build round trips. Analysis errors lose that file:line, which nothing
here reads.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory that holds this package: Python workers must import it
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _host_cpus() -> int:
    """CPUs this process may run on (its affinity mask, not the machine's
    count: a container may get a share of the machine)."""
    if hasattr(os, "sched_getaffinity"):
        return len(os.sched_getaffinity(0))
    return os.cpu_count() or 1


def _host_driver_mem() -> str:
    """Half the host's physical memory, at least 1 GiB: in local mode the
    driver JVM's heap also holds every executor's."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1024, phys // 2 >> 20)}m"


def get_spark(app_name: str = "polars_dataset_spark") -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    spark = _builder(app_name).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _share_package_path(spark)
    return spark


def _builder(app_name: str) -> "SparkSession.Builder":
    """:func:`get_spark`'s builder, for a caller adding static confs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(_host_cpus())
    parts = int(cpus) if cpus.isdigit() else _host_cpus()
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(parts))
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
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _host_driver_mem())
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
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
    return builder


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
    """Materialize a frame and truncate its lineage — the engine's single
    owner of materialization (dedup results, redirects, connected
    components, pagerank, semantic_dedup, funnel, prefix sums, chunked
    rolling windows).

    The rule every operator follows:

    - A function's **result** is ``pin(result, eager=True)``. Once the
      caller drops the frame and the JVM collects it (at the latest at
      Spark's periodic GC, ``spark.cleaner.periodicGC.interval``), the
      ContextCleaner frees the pin; it never frees a ``persist``, which
      the CacheManager holds until ``unpersist``/``clearCache``.
    - An **intermediate** that a function reads twice in one call stays
      a ``persist``; its ``unpersist`` goes in a ``finally`` block.
    - **Index objects** (``NeardupIndex``, ``BandedIndex``) pin what
      they build and release it through :func:`unpin` in their
      ``unpersist``.

    Default: ``localCheckpoint`` — blocks live on executors (spilling
    to disk), which is fast but NOT fault-tolerant: losing an executor
    after the pin fails downstream actions instead of recomputing (fine
    in local mode and for short-lived results). For cluster runs set
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


def unpin(df) -> None:
    """Free the blocks of a frame returned by :func:`pin` now, instead of
    when the ContextCleaner collects it. ``DataFrame.unpersist`` cannot:
    it only asks the CacheManager, which never saw the pin. The frame
    must be the pin's own return value (its plan is the pinned RDD)."""
    plan = df._jdf.queryExecution().logical()
    if plan.nodeName() != "LogicalRDD":
        raise ValueError(f"unpin needs a frame returned by pin, got {plan.nodeName()}")
    plan.rdd().unpersist(False)


def ensure_parallelism(df):
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
    target = df.sparkSession.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < max(2, target // 2):
        return df.repartition(target)
    return df


def apply_session_defaults(spark: SparkSession) -> SparkSession:
    """Apply the runtime-settable engine defaults to an externally provided
    session (e.g. one a host application built). Only touches dynamic
    confs, plus the Python workers' path to this package.

    Call-site capture cannot be turned off reliably here: PySpark caches
    its flag at the process's first ``Column`` call (``is_debugging_enabled``)."""
    _share_package_path(spark)
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark
