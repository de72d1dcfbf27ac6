"""Smoke test of the benchmark on the repo's tiny test tables (sf0.001).

One session runs every workload's warm/oracle pass, one untraced and one
traced pass, plus ``q155_stream_heavy_hitters`` (whose micro-batch jobs run
on the stream's own thread), and checks:

1. tracing adds no Spark job: each query issues as many jobs traced as
   untraced, and forcing its physical plan issues none;
2. every metric named in BENCHMARK.json is emitted, with its unit, by the
   untraced (end-to-end) and the traced (per-layer) result;
3. every ``relational`` member issues no job during construction
   (``build_jobs == 0``);

and that every member matches its DuckDB oracle.

    python3 perfbench/smoke.py      # exit code 0 when all checks hold
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run  # noqa: E402

SMOKE_SCALE = "sf0.001"
STREAM_PROBE = "q155_stream_heavy_hitters"


def _jobs(q: dict) -> int:
    return q["build_jobs"] + q["plan_jobs"] + q["exec_jobs"]


def main() -> int:
    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    want_e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    want_layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    run_dir = os.path.join(run.WORK, f"smoke-{os.getpid()}")
    run.pin_environment(run_dir)
    sf_dir = run.fixture_dir(SMOKE_SCALE)
    suite, get_spark, compare = run.load_engine()
    spark = get_spark("perfbench-smoke")
    problems: "list[str]" = []
    groups = dict(run.WORKLOADS, stream_probe=[STREAM_PROBE])
    try:
        for workload, members in groups.items():
            bench = run.Bench(spark, suite, compare, sf_dir, run_dir, members, seed=0)
            try:
                bench.warm_and_check()
                plain, traced = bench.run_pass(False), bench.run_pass(True)
            finally:
                bench.close()
            problems += [f"{workload}: {e}" for e in bench.errors]
            for name in members:
                u, t = plain["queries"].get(name), traced["queries"].get(name)
                if u is None or t is None:
                    continue  # already reported as an error
                if _jobs(u) != _jobs(t) or t["plan_jobs"]:
                    problems.append(f"{name}: jobs untraced {u} vs traced {t}")
                if workload == "relational" and (u["build_jobs"] or t["build_jobs"]):
                    problems.append(f"{name}: relational member ran jobs in construction")
            if workload == "stream_probe":
                print(f"{STREAM_PROBE}: {_jobs(plain['queries'][STREAM_PROBE])} jobs per run")
                continue
            for trace, want in ((False, want_e2e), (True, want_layer)):
                got = {k: v["unit"] for k, v in bench.result(trace, 1.0)["metrics"].items()}
                if got != want:
                    diff = sorted(set(got.items()) ^ set(want.items()))
                    problems.append(f"{workload} trace={int(trace)}: emitted vs spec differ in {diff}")
            print(f"{workload}: ok" if not problems else f"{workload}: {len(problems)} problem(s)")
    finally:
        run.stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("SMOKE OK" if not problems else f"SMOKE FAILED ({len(problems)})")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
