"""Session set-up: the Python workers import the package whatever the
Spark driver's cwd, for sessions made by ``get_spark`` and for sessions made
elsewhere and passed through ``apply_session_defaults``; reliable
checkpoints are cleaned once unreachable."""

import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

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


def test_get_spark_turns_call_site_capture_off(spark):
    # PySpark's per-Column-call capture of the Python call site costs
    # several Py4J round trips per expression node
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled", "true") == "false"
    assert not is_debugging_enabled()


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


def _write_zip(path, names):
    with zipfile.ZipFile(path, "w") as zf:
        for name in names:
            zf.writestr(name, "X = 1\n")


def test_zipimporter_rereads_only_a_changed_archive(tmp_path):
    """An importer re-reads its archive's directory on the first
    invalidation and whenever the archive changes on disk, never when it
    is unchanged."""
    from polars_dataset_spark.worker_zipimport import invalidate_caches

    archive = str(tmp_path / "mods.zip")
    _write_zip(archive, ["a.py"])
    imp = zipimport.zipimporter(archive)
    invalidate_caches(imp)
    files = imp._files
    invalidate_caches(imp)
    invalidate_caches(imp)
    assert imp._files is files  # unchanged archive: not re-read

    _write_zip(archive, ["a.py", "b.py"])
    invalidate_caches(imp)
    assert imp._files is not files
    assert "b.py" in imp._files and imp.find_spec("b") is not None


def test_worker_zipimporter_patched_by_package_import(spark):
    """Importing the package in a Python worker installs the stat-checked
    invalidation; the driver's zipimporter is left as it is."""
    if sys.version_info >= (3, 13):
        pytest.skip("zipimporter invalidation is lazy from CPython 3.13")

    def probe(batches):
        import zipimport

        import pandas as pd

        import polars_dataset_spark  # noqa: F401

        for _ in batches:
            pass
        method = zipimport.zipimporter.invalidate_caches
        yield pd.DataFrame({"module": [method.__module__]})

    got = spark.range(1, numPartitions=1).mapInPandas(probe, "module string").first()
    assert got.module == "polars_dataset_spark.worker_zipimport"
    assert zipimport.zipimporter.invalidate_caches.__module__ == "zipimport"


def test_get_spark_defaults_sized_to_host(monkeypatch):
    """Without overrides, ``local[n]``, the shuffle partitions and the
    driver heap follow the host (6 CPUs, 16 GiB: 8 GiB heap); the
    ``SPARK_GRAFT_*`` variables still win."""
    from types import SimpleNamespace

    from polars_dataset_spark import session

    class Built(Exception):
        pass

    class Builder:
        def __init__(self):
            self.conf = {}

        def master(self, m):
            self.conf["master"] = m
            return self

        def appName(self, name):
            return self

        def config(self, key, value):
            self.conf[key] = value
            return self

        def getOrCreate(self):
            raise Built(self.conf)

    def built_conf():
        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=Builder()))
        with pytest.raises(Built) as got:
            session.get_spark()
        return got.value.args[0]

    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    monkeypatch.setattr(os, "sched_getaffinity", lambda pid: set(range(6)), raising=False)
    monkeypatch.setattr(os, "cpu_count", lambda: 6)
    pages = {"SC_PAGE_SIZE": 4096, "SC_PHYS_PAGES": (16 << 30) // 4096}
    monkeypatch.setattr(os, "sysconf", pages.__getitem__)
    conf = built_conf()
    assert conf["master"] == "local[6]"
    assert conf["spark.sql.shuffle.partitions"] == "6"
    assert conf["spark.driver.memory"] == "8192m"

    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    conf = built_conf()
    assert conf["master"] == "local[3]"
    assert conf["spark.sql.shuffle.partitions"] == "3"
    assert conf["spark.driver.memory"] == "2g"
