"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every default here is chosen to also
hold on a 1000-executor cluster: AQE on (runtime re-plan, skew-join split,
partition coalescing), shuffle partitions sized to the environment, Arrow on
for the few Pandas-UDF paths, UTC session timezone so epoch math matches any
ANSI-SQL oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F


def get_spark(app_name: str = "amundsendatabuilder_spark",
              master: str | None = None,
              shuffle_partitions: str | int | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with scale-appropriate defaults.

    On a real cluster, callers pass ``master=None`` and let spark-submit
    decide; ``spark.sql.shuffle.partitions`` should then be ~2-3x total
    cores (AQE coalesces the excess at runtime, so over-provisioning is
    cheap and under-provisioning is not).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master or f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions",
                str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce to the advisory partition size, not to max parallelism
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
                "false")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        # driver testdata writes TIMESTAMP(NANOS) which Spark has no native
        # type for; read as long and convert in load_tables
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        # UDFs pickle this package's functions by reference: put its parent
        # directory on the Python workers' path, whatever the working
        # directory (Spark merges it with any PYTHONPATH already set)
        .config("spark.executorEnv.PYTHONPATH", os.path.dirname(
            os.path.dirname(os.path.abspath(__file__))))
        .config("spark.ui.enabled", "false")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def shuffle_width(spark: SparkSession) -> int:
    """The live session's ``spark.sql.shuffle.partitions`` — the width
    every pinned repartition uses, so it follows the session a caller
    built (or re-configured), not the env var at import time."""
    return int(spark.conf.get("spark.sql.shuffle.partitions"))


def ensure_parallelism(df, min_partitions: int | None = None):
    """Repartition iff the plan's current partitioning is narrower than the
    cluster's parallelism. Small single-row-group parquet files scan as ONE
    partition, which serializes every downstream CPU-heavy pass (minhash,
    simhash, vector math) onto one core; one up-front round-robin shuffle
    of the raw input is far cheaper than that. On well-partitioned input
    (any real 100 TB table) the condition is false and this is a no-op —
    the check reads only plan metadata, it triggers no job."""
    target = min_partitions or shuffle_width(df.sparkSession)
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


TPCH_TABLES = ("region", "nation", "customer", "supplier", "part",
               "orders", "lineitem", "events", "documents", "embeddings")

# tables whose parquet files carry TIMESTAMP(NANOS) columns
NANO_TS_COLS = {"events": ("ts",)}


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TPCH_TABLES) -> dict:
    """Read the driver-provided parquet tables as DataFrames and register
    them as temp views (so plans can be written in either API)."""
    # defensive: queries assume UTC epoch math and nanos-tolerant parquet
    # reads even when the caller (e.g. the verification driver) built the
    # session without session.py's defaults
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # static conf in some builds; events read then needs our session
    out = {}
    for name in names:
        df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
        # nanosAsLong surfaces TIMESTAMP(NANOS) columns as bigint; restore
        # them to timestamps at microsecond precision (floor division —
        # matches DuckDB's TIMESTAMP_NS -> TIMESTAMP truncation).
        if name in NANO_TS_COLS:
            for c in NANO_TS_COLS[name]:
                if dict(df.dtypes).get(c) == "bigint":
                    # integer division — nanos exceed double's 2^53 mantissa
                    df = df.withColumn(
                        c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
        # Parquet TIMESTAMP(isAdjustedToUTC=false) infers as TIMESTAMP_NTZ in
        # Spark 4, which unix_micros()/epoch math reject. The session tz is
        # pinned to UTC above, so casting NTZ -> TIMESTAMP preserves every
        # value while restoring the full temporal function surface (and
        # DuckDB oracles, which read the same parquet as naive timestamps,
        # stay in agreement).
        for c, dtype in df.dtypes:
            if dtype == "timestamp_ntz":
                df = df.withColumn(c, F.col(c).cast("timestamp"))
        df.createOrReplaceTempView(name)
        out[name] = df
    return out
