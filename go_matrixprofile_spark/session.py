"""SparkSession factory with the engine's standard configuration.

Tuned for local[N] testing but written for multi-executor clusters:
AQE on (runtime re-plan + skew-join splitting), Arrow transport for the
pandas-UDF kernels, UTC session timezone so timestamp arithmetic is
oracle-stable.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "go_matrixprofile_spark",
    cores: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cores is None:
        cores = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = f"local[{cores}]"
    if shuffle_partitions is None:
        shuffle_partitions = 32 if cores == "*" else max(int(cores), 2) * 2
    # one BLAS thread per python worker: N workers × M BLAS threads
    # oversubscribes the node 32x and collapses kernel throughput
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
        os.environ.setdefault(var, "1")
    builder = (
        SparkSession.builder.master(master)
        .config("spark.executorEnv.OMP_NUM_THREADS", "1")
        .config("spark.executorEnv.OPENBLAS_NUM_THREADS", "1")
        .config("spark.executorEnv.MKL_NUM_THREADS", "1")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # let AQE coalesce INSIDE cached plans too (off by default to
        # preserve cached output partitioning): without it a persisted
        # tier keeps every raw shuffle partition and downstream
        # aggregations schedule hundreds of near-empty tasks — measured
        # 2× on tier-on-tier rollups over a cached tier. Stages that
        # genuinely need a pinned width (CPU-heavy kernels) use explicit
        # numbered repartitions, which AQE never coalesces.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "100000")
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_DRIVER_MEMORY", _default_driver_memory()),
        )
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    _warm_up(spark)
    return spark


def _default_driver_memory() -> str:
    """min(48g, ~40% of physical RAM): in local mode the driver JVM is
    the whole engine, and a heap sized past physical RAM gets the JVM
    OOM-killed mid-run instead of spilling."""
    phys_gib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    return f"{max(1, min(48, int(phys_gib * 0.4)))}g"


def _warm_up(spark: SparkSession) -> None:
    """Absorb one-time session start-up costs at CREATION time: JIT and
    whole-stage-codegen compiler warm-up, shuffle machinery init, and
    the fork of the Python/Arrow worker pool. Without this the first
    real query of every session pays ~3-6 s of infrastructure cost that
    has nothing to do with the query — misleading in benchmarks and
    wasted on the critical path of short jobs. Runs tiny synthetic jobs
    only (spark.range): no input data is read, nothing is cached, no
    result is retained.

    Runs once per live SparkContext: the marker lives on the context
    object, so a later get_spark() on the same warm session skips it,
    and a session created after stop() (a new context) warms up again."""
    sc = spark.sparkContext
    if getattr(sc, "_graft_warm", False):
        return
    sc._graft_warm = True
    try:
        import pandas as pd  # noqa: F401
        from pyspark.sql import functions as F
        from pyspark.sql.window import Window

        # one shuffle + aggregation job: initializes the shuffle system,
        # exchange codegen, and AQE machinery
        spark.range(0, 1000, 1, 8).groupBy((F.col("id") % 7).alias("k")).count().count()

        # window + sort + generate + broadcast-join job: first-touches
        # the other operator frameworks every engine chain uses
        # (SortExec/WindowExec frame machinery, Generate/explode,
        # BroadcastHashJoin build + exchange) so their shared JVM
        # classes JIT outside the first timed query
        r = spark.range(0, 2000, 1, 8)
        w = Window.partitionBy((F.col("id") % 16).alias("p")).orderBy("id")
        (
            r.select(
                "id",
                F.row_number().over(w).alias("rn"),
                F.lag("id").over(w).alias("lg"),
            )
            .select("id", F.explode(F.array("rn", "lg")).alias("v"))
            .where(F.col("v").isNotNull())
            .join(
                F.broadcast(spark.range(0, 16).select(F.col("id").alias("b"))),
                F.col("v") % 16 == F.col("b"),
            )
            .count()
        )

        # one Arrow/pandas job sized to the FULL worker pool: fork every
        # Python worker now and pay numpy/pandas import in each, instead
        # of staggering ~cores forks + imports into the first kernel
        # stage (an 8-partition warm-up left 3/4 of the pool cold on
        # local[32])
        def _touch_numpy(it):
            import numpy as np

            for pdf in it:
                np.asarray(pdf["id"].to_numpy(), dtype=np.float64).sum()
                yield pdf

        n_workers = max(8, spark.sparkContext.defaultParallelism)
        spark.range(0, 4 * n_workers, 1, 2 * n_workers).mapInPandas(
            _touch_numpy, "id long"
        ).count()
    except Exception:
        # warm-up is best-effort: a failure here must never break
        # session creation (e.g. minimal builds without pandas/Arrow)
        pass
