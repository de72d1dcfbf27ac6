"""Dump .explain("formatted") for named queries to plans/<tag>/<name>_<suffix>.txt.

Usage:
    python tools/dump_plans.py --tag r12 --suffix before q231_warc_roundtrip ...
    python tools/dump_plans.py --tag r12 --suffix before --all   # every query

Plans are captured at $SPARK_GRAFT_SF_DIR (default sf0.1) without executing
the query (explain only), so this is cheap. The judge checks plan claims in
OPTIMIZATION notes against these files.

A query whose operators pin or persist while it is built ends in a scan of
the materialized frame, which hides the plan behind it. For this dump
session only, ``DataFrame.localCheckpoint``, ``checkpoint`` and ``persist``
are wrapped to record the plan of every frame they materialize; those
plans follow the final plan in the file, in call order.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _explain(spark, jdf) -> str:
    return jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def _record_materializations(spark, log: list) -> None:
    """Wrap the DataFrame methods that materialize so each call appends
    ``(method, formatted plan of the frame)`` to ``log`` first."""
    cls = type(spark.range(1))
    for meth in ("localCheckpoint", "checkpoint", "persist"):
        orig = getattr(cls, meth)

        def wrapped(self, *a, _orig=orig, _meth=meth, **kw):
            log.append((_meth, _explain(spark, self._jdf)))
            return _orig(self, *a, **kw)

        setattr(cls, meth, wrapped)


def main() -> int:
    args = sys.argv[1:]
    tag, suffix = "r12", "before"
    if "--tag" in args:
        i = args.index("--tag")
        tag = args[i + 1]
        args = args[:i] + args[i + 2 :]
    if "--suffix" in args:
        i = args.index("--suffix")
        suffix = args[i + 1]
        args = args[:i] + args[i + 2 :]
    run_all = "--all" in args
    if run_all:
        args.remove("--all")

    from polars_dataset_spark import suite
    from polars_dataset_spark.session import get_spark

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    names = list(suite.QUERIES) if run_all else args
    unknown = [n for n in names if n not in suite.QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    outdir = os.path.join(repo, "plans", tag)
    os.makedirs(outdir, exist_ok=True)
    spark = get_spark("dump-plans")
    inner: list = []
    _record_materializations(spark, inner)
    for name in names:
        inner.clear()
        df = suite.QUERIES[name](spark, sf_dir)
        plan = _explain(spark, df._jdf)
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w") as fh:
            fh.write(plan)
            for i, (meth, sub) in enumerate(inner, 1):
                fh.write(f"\n===== materialized {i}: {meth} =====\n{sub}")
        print(f"wrote {path} ({plan.count('Exchange')} Exchange refs, {len(inner)} materialized)")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
