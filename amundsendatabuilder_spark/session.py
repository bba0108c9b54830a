"""SparkSession factory tuned for this engine.

Local testing runs on ``local[N]`` but every default here is chosen to also
hold on a 1000-executor cluster: AQE on (runtime re-plan, skew-join split,
partition coalescing), shuffle partitions sized to the environment, Arrow on
for the few Pandas-UDF paths, UTC session timezone so epoch math matches any
ANSI-SQL oracle.
"""

from __future__ import annotations

import os
import stat
import time
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType


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


def jobs_started_by(spark: SparkSession, fn):
    """Run ``fn()`` under a job group of its own and return its result
    with the sorted ids of the Spark jobs it started.

    The status tracker learns of jobs asynchronously, so a count read
    right after an action can miss its last job. It learns of them in
    order, though: a fence job in a second group runs after ``fn``, and
    the ids are read once the tracker lists the fence. Jobs that run on
    other threads under their own group (a streaming query's
    micro-batches) are not counted. The thread's job group is cleared on
    return."""
    sc = spark.sparkContext
    group, fence = f"jobs-{uuid.uuid4()}", f"fence-{uuid.uuid4()}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        sc.setJobGroup(fence, fence)
        sc.parallelize([0], 1).count()
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker, deadline = sc.statusTracker(), time.monotonic() + 60
    while not tracker.getJobIdsForGroup(fence):
        if time.monotonic() > deadline:
            raise RuntimeError("the status tracker never listed the fence "
                               "job; job counts would be incomplete")
        time.sleep(0.05)
    return result, sorted(tracker.getJobIdsForGroup(group))


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


# a parquet file's identity -> the schema Spark inferred for it. A schema
# belongs to no session, so an entry stays right across stop and rebuild;
# a rewritten file or a changed inference conf makes a new key.
_SCHEMAS: dict[tuple, StructType] = {}

# the confs that change what parquet schema inference returns
_INFERENCE_CONFS = ("spark.sql.legacy.parquet.nanosAsLong",
                    "spark.sql.parquet.inferTimestampNTZ.enabled",
                    "spark.sql.parquet.binaryAsString",
                    "spark.sql.parquet.int96AsTimestamp")


def _file_identity(path: str) -> tuple | None:
    """(size, mtime_ns) of a local file, the sorted (relpath, size,
    mtime_ns) of a local directory's files, or None when ``os.stat``
    cannot see the path (a non-local URI)."""
    try:
        st = os.stat(path)
        if not stat.S_ISDIR(st.st_mode):
            return (st.st_size, st.st_mtime_ns)
        files = []
        for d, _, names in os.walk(path):
            for n in names:
                f = os.path.join(d, n)
                fst = os.stat(f)
                files.append((os.path.relpath(f, path), fst.st_size,
                              fst.st_mtime_ns))
        return tuple(sorted(files))
    except OSError:
        return None


def _read_parquet(spark: SparkSession, path: str):
    """``spark.read.parquet(path)``, inferring the schema (one Spark job)
    only on the first read of this file under these confs in the process;
    later reads pass the remembered schema and start no job."""
    ident = _file_identity(path)
    if ident is None:
        return spark.read.parquet(path)
    key = (os.path.abspath(path), ident,
           tuple(spark.conf.get(c) for c in _INFERENCE_CONFS))
    if key in _SCHEMAS:
        return spark.read.schema(_SCHEMAS[key]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = df.schema
    return df


def _pin_read_confs(spark: SparkSession) -> None:
    """Pin what both table readers assume even when the caller built the
    session without ``get_spark``'s defaults: UTC epoch math and
    nanos-tolerant parquet reads."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    try:
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    except Exception:
        pass  # static conf in some builds; events read then needs our session


def _normalize_times(df, name: str):
    """Give every time column of table ``name`` the type ``timestamp``."""
    # nanosAsLong surfaces TIMESTAMP(NANOS) columns as bigint; restore
    # them to timestamps at microsecond precision (floor division —
    # matches DuckDB's TIMESTAMP_NS -> TIMESTAMP truncation).
    for c in NANO_TS_COLS.get(name, ()):
        if dict(df.dtypes).get(c) == "bigint":
            # integer division — nanos exceed double's 2^53 mantissa
            df = df.withColumn(
                c, F.timestamp_micros(F.expr(f"`{c}` DIV 1000")))
    # Parquet TIMESTAMP(isAdjustedToUTC=false) infers as TIMESTAMP_NTZ in
    # Spark 4, which unix_micros()/epoch math reject. The session tz is
    # pinned to UTC, so casting NTZ -> TIMESTAMP preserves every value
    # while restoring the full temporal function surface (and DuckDB
    # oracles, which read the same parquet as naive timestamps, stay in
    # agreement).
    for c, dtype in df.dtypes:
        if dtype == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str,
                names: tuple[str, ...] = TPCH_TABLES) -> dict:
    """Read the parquet tables under ``sf_dir`` as DataFrames and register
    them as temp views (so plans can be written in either API)."""
    _pin_read_confs(spark)
    out = {}
    for name in names:
        df = _normalize_times(
            _read_parquet(spark, f"{sf_dir}/{name}.parquet"), name)
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def read_table_stream(spark: SparkSession, sf_dir: str, name: str):
    """The file-source stream twin of ``load_tables``: table ``name`` as a
    ``readStream`` whose new files become micro-batches, typed as
    ``load_tables`` types it.

    The declared schema is the one Spark inferred for the file (the
    ``_read_parquet`` memo), so each column reads with its on-disk
    encoding — a hand-written schema could reinterpret an int64 column
    (micros read as nanos skew every event time 1000x)."""
    _pin_read_confs(spark)
    path = f"{sf_dir}/{name}.parquet"
    reader = spark.readStream.schema(_read_parquet(spark, path).schema)
    if not os.path.isdir(path):
        # the file source watches a directory (as a Spark-written copy of
        # a table is): watch sf_dir, glob-filtered down to the one file
        reader = reader.option("pathGlobFilter", f"{name}.parquet")
        path = sf_dir
    return _normalize_times(reader.parquet(path), name)
