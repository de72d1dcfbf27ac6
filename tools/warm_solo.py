"""Warm-solo adjudication probe — THE protocol for claiming a per-query
perf regression on this host (bench-noise discipline, r5+; made a tool
in r9 per VERDICT r8 #3).

Runs each named query in ONE fresh session, ``--reps`` times
back-to-back (default 3), and reports every rep plus the warm min (min
over reps 2+). The first rep carries JIT/codegen and is reported but
never compared. Before every rep the tool clears Spark's cache
(``catalog.clearCache``) and unpersists every persistent RDD, so a rep
measures the query's uncached cost and never re-hits what an earlier rep
or query persisted or pinned. JIT and codegen stay warm.

Usage:
    python tools/warm_solo.py q63_connected_components [q176_...] \
        [--reps 3] [--sf /root/testdata/sf0.1]

Compare the warm min against BENCH_SERIAL.json's row; only a warm-min
move reproducible across two sessions is a regression.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def clear_caches(spark) -> None:
    """Drop cached tables/plans and every persistent RDD (persisted or
    ``localCheckpoint``-pinned), as ``perfbench/run.py`` does between
    passes."""
    spark.catalog.clearCache()
    for rdd in list(spark.sparkContext._jsc.getPersistentRDDs().values()):
        rdd.unpersist(True)


def main() -> int:
    args = sys.argv[1:]
    reps, sf_dir = 3, "/root/testdata/sf0.1"
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        args = args[:i] + args[i + 2 :]
    if "--sf" in args:
        i = args.index("--sf")
        sf_dir = args[i + 1]
        args = args[:i] + args[i + 2 :]
    if not args:
        print(__doc__)
        return 2

    from polars_dataset_spark import suite
    from polars_dataset_spark.session import get_spark

    unknown = [n for n in args if n not in suite.QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2
    spark = get_spark("warm-solo")
    out = {}
    for name in args:
        times = []
        for _ in range(reps):
            clear_caches(spark)
            t0 = time.perf_counter()
            suite.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            times.append(round(time.perf_counter() - t0, 3))
        out[name] = {"reps": times, "warm_min": min(times[1:]) if len(times) > 1 else times[0]}
        print(json.dumps({name: out[name]}), flush=True)
    spark.stop()
    print(json.dumps({"sf_dir": sf_dir, "queries": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
