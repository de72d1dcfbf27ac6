"""Session set-up: the Python workers import the package whatever the
Spark driver's cwd, for sessions made by ``get_spark`` and for sessions made
elsewhere and passed through ``apply_session_defaults``; reliable
checkpoints are cleaned once unreachable."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# A session this package did not build, a Spark driver whose cwd is not the
# checkout, and a pandas UDF whose worker must import the package.
_WORKER_IMPORT = f"""
import sys
sys.path.insert(0, {REPO!r})
from pyspark.sql import SparkSession
from polars_dataset_spark.session import apply_session_defaults

spark = apply_session_defaults(
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .getOrCreate()
)

def where(batches):
    import pandas as pd
    import polars_dataset_spark
    for b in batches:
        yield pd.DataFrame({{"f": [polars_dataset_spark.__file__] * len(b)}})

print(spark.range(1, numPartitions=1).mapInPandas(where, "f string").first().f)
spark.stop()
"""


def test_get_spark_puts_package_on_worker_path(spark):
    paths = spark.sparkContext.environment["PYTHONPATH"].split(os.pathsep)
    assert REPO in paths


def test_get_spark_cleans_reliable_checkpoints(spark):
    # every iterative loop pins once per round; in reliable mode the
    # files of unreachable checkpoints must not pile up
    conf = spark.sparkContext.getConf()
    assert conf.get("spark.cleaner.referenceTracking.cleanCheckpoints") == "true"


def test_workers_import_package_from_any_cwd(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    proc = subprocess.run(
        [sys.executable, "-c", _WORKER_IMPORT],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    worker_file = proc.stdout.strip().splitlines()[-1]
    assert worker_file.startswith(os.path.join(REPO, "polars_dataset_spark"))
