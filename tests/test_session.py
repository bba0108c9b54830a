"""Session factory behaviour, some of which only shows in a fresh process,
and the parquet schema memo behind ``load_tables``."""

import ast
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

_UDF_QUERY = f"""
import sys
sys.path.insert(0, {ROOT!r})
from amundsendatabuilder_spark.operators.multimodal import (
    resize_images, synthetic_media)
from amundsendatabuilder_spark.session import get_spark
spark = get_spark("workers_path", shuffle_partitions=2)
print("ROWS", len(resize_images(synthetic_media(spark, n=6)).collect()))
"""


def test_python_workers_import_package_from_any_cwd(tmp_path):
    """A UDF pickles package functions by reference, so Spark's Python
    workers must import the package although neither the working
    directory nor PYTHONPATH holds it: ``get_spark`` puts the package's
    parent directory on the workers' path."""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_CPUS"] = "2"
    res = subprocess.run([sys.executable, "-c", _UDF_QUERY], cwd=tmp_path,
                         env=env, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    assert "ROWS 2" in res.stdout, res.stdout


SF_DIR = "/root/testdata/sf0.001"
needs_testdata = pytest.mark.skipif(not os.path.isdir(SF_DIR),
                                    reason="driver testdata not present")


@needs_testdata
def test_second_load_of_a_file_runs_no_job(spark, tmp_path):
    """Only the first ``load_tables`` of a file in a process infers its
    schema (one job); the second passes the remembered schema."""
    from amundsendatabuilder_spark.session import jobs_started_by, load_tables
    shutil.copy(f"{SF_DIR}/nation.parquet", tmp_path / "nation.parquet")

    def load():
        return load_tables(spark, str(tmp_path), ("nation",))
    assert [len(jobs_started_by(spark, load)[1]) for _ in range(2)] == [1, 0]
    assert len(load()["nation"].collect()) == 25


def _write_file(spark, path, rows, ddl):
    import pyarrow.parquet as pq
    pq.write_table(spark.createDataFrame(rows, ddl).toArrow(), path)


def _write_dir(spark, path, rows, ddl):
    spark.createDataFrame(rows, ddl).write.mode("overwrite").parquet(path)


@pytest.mark.parametrize("write", [_write_file, _write_dir])
def test_rewritten_parquet_gets_new_schema_and_rows(spark, tmp_path, write):
    """A file (or a directory of part files) rewritten at the same path
    with another schema is a new identity: the memo serves no stale
    schema."""
    from amundsendatabuilder_spark.session import load_tables
    path = str(tmp_path / "t.parquet")
    write(spark, path, [(1,), (2,)], "a long")
    old = load_tables(spark, str(tmp_path), ("t",))["t"]
    assert old.dtypes == [("a", "bigint")]
    assert sorted(r.a for r in old.collect()) == [1, 2]
    write(spark, path, [("x", 1.5)], "b string, c double")
    new = load_tables(spark, str(tmp_path), ("t",))["t"]
    assert new.dtypes == [("b", "string"), ("c", "double")]
    assert [tuple(r) for r in new.collect()] == [("x", 1.5)]


def test_inference_conf_is_part_of_the_key(spark, tmp_path):
    """With ``nanosAsLong`` off, the remembered ``bigint`` schema of a
    TIMESTAMP(NANOS) column is not served: the file is inferred again,
    which this build rejects."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.errors import AnalysisException

    from amundsendatabuilder_spark.session import _read_parquet
    conf = "spark.sql.legacy.parquet.nanosAsLong"
    if not spark.conf.isModifiable(conf):
        pytest.skip(f"{conf} is static in this build")
    path = str(tmp_path / "nanos.parquet")
    pq.write_table(pa.table({"ts": pa.array([1_700_000_000_123_456_789],
                                            pa.timestamp("ns", tz="UTC"))}),
                   path, version="2.6")
    assert spark.conf.get(conf) == "true"
    assert _read_parquet(spark, path).dtypes == [("ts", "bigint")]
    assert _read_parquet(spark, path).dtypes == [("ts", "bigint")]
    try:
        spark.conf.set(conf, "false")
        with pytest.raises(AnalysisException, match="PARQUET_TYPE_ILLEGAL"):
            _read_parquet(spark, path)
    finally:
        spark.conf.set(conf, "true")


_REBUILT_SESSION = f"""
import hashlib, sys
sys.path.insert(0, {ROOT!r})
from amundsendatabuilder_spark.session import (
    get_spark, jobs_started_by, load_tables)

def digest(spark):
    t, jobs = jobs_started_by(
        spark, lambda: load_tables(spark, {SF_DIR!r}, ("nation", "events")))
    rows = sorted(map(repr, t["nation"].collect() + t["events"].collect()))
    return (len(jobs), hashlib.md5("\\n".join(rows).encode()).hexdigest(),
            t["events"].dtypes)

spark = get_spark("memo_first", shuffle_partitions=2)
print("FIRST", digest(spark))
spark.stop()
print("REBUILT", digest(get_spark("memo_rebuilt", shuffle_partitions=2)))
"""


@needs_testdata
def test_rebuilt_session_reads_correct_rows_through_memo():
    """The memo outlives ``spark.stop()``: a session rebuilt with
    ``get_spark`` infers nothing and reads the same rows and types."""
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    res = subprocess.run([sys.executable, "-c", _REBUILT_SESSION], env=env,
                         capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    out = dict(line.split(" ", 1) for line in res.stdout.splitlines()
               if line.startswith(("FIRST ", "REBUILT ")))
    first, rebuilt = (ast.literal_eval(out[k]) for k in ("FIRST", "REBUILT"))
    assert first[0] == 2 and rebuilt[0] == 0
    assert rebuilt[1:] == first[1:]
    assert dict(rebuilt[2])["ts"] == "timestamp"
