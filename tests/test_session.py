"""Session factory behaviour that only shows in a fresh process."""

import os
import subprocess
import sys

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
