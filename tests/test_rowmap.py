"""``rowmap.map_rows``: the one per-row Python map, and
``operators.structs.map_traces``: the one per-trace grouped map.

The guardrails read the package's source: every ``mapInPandas`` call is
``map_rows``' own or an allowlisted batch loop that is not a per-row map,
and every runner is a module function bound with ``functools.partial``;
every ``applyInPandas`` call is ``map_traces``' own or an allowlisted
grouped map that is not per trace, and ``map_traces``' runner is bound the
same way. The other tests pin the helper's output frame and that its
workers import the package.
"""

import ast
import os
import subprocess
import sys
from pathlib import Path

import pandas as pd
from pyspark.sql import types as T

from polars_dataset_spark.rowmap import map_rows

REPO = Path(__file__).resolve().parents[1]
PKG = REPO / "polars_dataset_spark"

# (module, function) -> why its batch loop does not go through map_rows
HAND_ROLLED = {
    ("rowmap", "map_rows"): "the helper itself",
    ("core", "Dataset.rolling_quantiles"): "reads TaskContext, carries rows across batches",
    ("functions.frequency", "mg_candidates"): "one summary per partition",
    ("functions.ml", "_gram_partials"): "one reduction per partition",
    ("functions.projection", "_partial_moments"): "one reduction per partition",
    ("functions.similarity", "_train_quantizer"): "one argmin per batch matrix",
    ("functions.similarity", "cosine_pairs_block"): "one matmul per batch",
    ("operators.asof", "_join_asof_broadcast"): "searchsorted per key group of a batch",
}

# (module, function) -> why its applyInPandas does not go through map_traces
GROUPED_NOT_TRACES = {
    ("operators.structs", "map_traces"): "the helper itself",
    ("sources.warc", "write_warc"): "one archive write per file",
    ("functions.bloom", "bloom_build"): "one bitmap per bucket",
    ("functions.similarity", "_train_quantizer"): "training per cell",
    ("functions.similarity", "cosine_pairs_block"): "scoring per cell",
}


def _sites(attr="mapInPandas"):
    sites = set()
    for path in sorted(PKG.rglob("*.py")):
        module = ".".join(path.relative_to(PKG).with_suffix("").parts)

        def walk(node, qual):
            for child in ast.iter_child_nodes(node):
                q = qual
                if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    q = f"{qual}.{child.name}" if qual else child.name
                if (
                    isinstance(child, ast.Call)
                    and isinstance(child.func, ast.Attribute)
                    and child.func.attr == attr
                ):
                    sites.add((module, qual))
                walk(child, q)

        walk(ast.parse(path.read_text(), str(path)), "")
    return sites


def test_map_in_pandas_only_through_map_rows():
    sites = _sites()
    stray = sites - set(HAND_ROLLED)
    assert not stray, f"hand-rolled mapInPandas (use rowmap.map_rows): {sorted(stray)}"
    stale = set(HAND_ROLLED) - sites
    assert not stale, f"allowlisted sites that no longer call mapInPandas: {sorted(stale)}"


def _runners_by_value(attr, only=None):
    """``path:line`` of each ``attr`` call (in the functions named ``only``,
    if given) whose runner is not a ``functools.partial`` of a module-level
    function."""
    bad = []
    for path in sorted(PKG.rglob("*.py")):
        tree = ast.parse(path.read_text(), str(path))
        top = {n.name for n in tree.body if isinstance(n, ast.FunctionDef)}
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef) or (only and fn.name not in only):
                continue
            bound = {
                t.id: a.value
                for a in ast.walk(fn)
                if isinstance(a, ast.Assign)
                for t in a.targets
                if isinstance(t, ast.Name)
            }
            for call in ast.walk(fn):
                if not (
                    isinstance(call, ast.Call)
                    and isinstance(call.func, ast.Attribute)
                    and call.func.attr == attr
                ):
                    continue
                run = call.args[0]
                run = bound.get(run.id, run) if isinstance(run, ast.Name) else run
                if not (
                    isinstance(run, ast.Call)
                    and ast.unparse(run.func) == "functools.partial"
                    and isinstance(run.args[0], ast.Name)
                    and run.args[0].id in top
                ):
                    bad.append(f"{path.relative_to(PKG)}:{call.lineno}")
    return sorted(set(bad))


def test_map_in_pandas_runners_go_by_reference():
    """Every ``mapInPandas`` runner is a ``functools.partial`` of a
    module-level function: cloudpickle sends that by reference, so the
    workers import the package (and ``worker_zipimport``); a nested
    closure goes by value and they never do."""
    bad = _runners_by_value("mapInPandas")
    assert not bad, f"mapInPandas runners pickled by value: {bad}"


def test_apply_in_pandas_only_through_map_traces():
    """Per-trace grouped maps in ``core`` and ``operators`` (and anywhere
    else) go through ``map_traces``; the allowlist names the grouped maps
    whose group is not a trace."""
    sites = _sites("applyInPandas")
    stray = sites - set(GROUPED_NOT_TRACES)
    assert not stray, f"hand-rolled applyInPandas (use structs.map_traces): {sorted(stray)}"
    stale = set(GROUPED_NOT_TRACES) - sites
    assert not stale, f"allowlisted sites that no longer call applyInPandas: {sorted(stale)}"


def test_map_traces_runner_goes_by_reference():
    """``map_traces``' runner is a ``functools.partial`` of a module
    function, as ``map_rows``' is, so its workers import the package."""
    assert _sites("applyInPandas") >= {("operators.structs", "map_traces")}
    bad = _runners_by_value("applyInPandas", only={"map_traces"})
    assert not bad, f"map_traces runner pickled by value: {bad}"


def test_map_rows_output_frame(spark):
    """Tuple, dict and ``None`` rows, typed columns, an absent optional
    input column, and explode with dropped inputs (zero, one or several
    rows per input)."""
    df = spark.createDataFrame(
        pd.DataFrame({"id": [1, 2, 3], "s": ["a", None, "bcd"]})
    ).repartition(2)
    fields = [
        T.StructField("n", T.IntegerType()),
        T.StructField("ok", T.BooleanType()),
        T.StructField("tag", T.StringType()),
    ]

    def measure(s, missing):
        assert missing is None
        if s is None:
            return None
        return (len(s), True, "t") if len(s) > 1 else {"n": len(s)}

    got = map_rows(df, ["s", None], measure, fields).orderBy("id").collect()
    assert [tuple(r) for r in got] == [
        (1, "a", 1, None, None),
        (2, None, None, None, None),
        (3, "bcd", 3, True, "t"),
    ]

    chars = map_rows(
        df,
        ["s"],
        lambda s: list(enumerate(s or "")),
        [T.StructField("i", T.LongType()), T.StructField("c", T.StringType())],
        explode=True,
        drop=["s"],
    )
    assert chars.columns == ["id", "i", "c"]
    assert sorted(tuple(r) for r in chars.collect()) == [
        (1, 0, "a"), (3, 0, "b"), (3, 1, "c"), (3, 2, "d"),
    ]


# A fresh Spark session whose row function is pickled by value and imports
# nothing: only map_rows' runner can bring the package into the worker.
_FRESH_WORKER = f"""
import sys
sys.path.insert(0, {str(REPO)!r})
from pyspark.sql import SparkSession
from pyspark.sql import types as T
from polars_dataset_spark.rowmap import map_rows
from polars_dataset_spark.session import apply_session_defaults

spark = apply_session_defaults(
    SparkSession.builder.master("local[1]")
    .config("spark.ui.enabled", "false")
    .config("spark.driver.memory", "512m")
    .getOrCreate()
)

def loaded(_id):
    return ("polars_dataset_spark" in sys.modules,)

df = spark.range(1, numPartitions=1)
print(map_rows(df, ["id"], loaded, [T.StructField("pkg", T.BooleanType())]).first().pkg)
spark.stop()
"""


def test_map_rows_workers_import_package(tmp_path):
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_LOCAL_DIRS"] = str(tmp_path / "local")
    proc = subprocess.run(
        [sys.executable, "-c", _FRESH_WORKER],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert proc.stdout.strip().splitlines()[-1] == "True"
