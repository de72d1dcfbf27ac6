"""Runtime profiler: run named queries with the Spark event log enabled,
then aggregate per-query truth from the log — jobs, stages, tasks, executor
run/CPU time, input bytes, shuffle bytes, Python eval counts — so time can
be attributed to driver/planning vs executor compute vs shuffle, without
the (disabled) UI.

Each query is labelled with setJobDescription(name), warmed `--reps` times
(all reps are profiled; compare the LAST rep of each query — JIT-warm).

Usage:
    python tools/runtime_profile.py q60_clean_corpus q37_minhash_pairs \
        [--reps 2] [--sf /root/testdata/sf0.1]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    args = sys.argv[1:]
    reps, sf_dir = 2, "/root/testdata/sf0.1"
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

    evdir = "/tmp/spark_graft_evlog"
    shutil.rmtree(evdir, ignore_errors=True)
    os.makedirs(evdir, exist_ok=True)

    # the engine session (host-sized master, shuffle partitions and driver
    # heap) plus an event log, a static conf set before it starts
    from polars_dataset_spark import suite
    from polars_dataset_spark.session import _builder, apply_session_defaults

    spark = apply_session_defaults(
        _builder("runtime-profile")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", evdir)
        .config("spark.eventLog.compress", "false")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("WARN")

    unknown = [n for n in args if n not in suite.QUERIES]
    if unknown:
        print(f"unknown queries: {unknown}")
        return 2

    walls: "dict[str, list[float]]" = defaultdict(list)
    for rep in range(reps):
        for name in args:
            spark.sparkContext.setJobDescription(f"{name}#rep{rep}")
            t0 = time.perf_counter()
            suite.QUERIES[name](spark, sf_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            walls[name].append(round(time.perf_counter() - t0, 3))
    spark.sparkContext.setJobDescription(None)
    app_id = spark.sparkContext.applicationId
    spark.stop()

    # ---- parse the event log ----
    paths = []
    for p in os.listdir(evdir):
        full = os.path.join(evdir, p)
        if app_id not in p:
            continue
        if os.path.isdir(full):  # Spark 4 rolling layout: events_N_<appid>
            paths.extend(
                os.path.join(full, q)
                for q in sorted(os.listdir(full))
                if q.startswith("events")
            )
        else:
            paths.append(full)
    if not paths:
        print(f"no event log under {evdir}")
        return 1

    job_desc: "dict[int, str]" = {}
    stage_to_label: "dict[int, str]" = {}
    agg: "dict[str, dict]" = defaultdict(
        lambda: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "executor_run_ms": 0,
            "executor_cpu_ms": 0,
            "jvm_gc_ms": 0,
            "input_bytes": 0,
            "input_records": 0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "result_ser_ms": 0,
            "deser_ms": 0,
            "sched_delay_proxy_ms": 0,
            "job_span_ms": 0,
            "python_eval_stages": 0,
        }
    )
    job_start: "dict[int, int]" = {}
    import itertools

    def _lines():
        for p in paths:
            with open(p) as fh:
                yield from fh

    if True:
        for line in _lines():
            try:
                ev = json.loads(line)
            except ValueError:
                continue
            et = ev.get("Event")
            if et == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                label = props.get("spark.job.description", "<unlabelled>")
                label = label.split("#rep")[0]
                job_desc[jid] = label
                job_start[jid] = ev.get("Submission Time", 0)
                agg[label]["jobs"] += 1
                for sid in ev.get("Stage IDs", []):
                    stage_to_label[sid] = label
            elif et == "SparkListenerJobEnd":
                jid = ev["Job ID"]
                label = job_desc.get(jid)
                if label and jid in job_start:
                    agg[label]["job_span_ms"] += (
                        ev.get("Completion Time", 0) - job_start[jid]
                    )
            elif et == "SparkListenerStageCompleted":
                si = ev["Stage Info"]
                label = stage_to_label.get(si["Stage ID"])
                if label:
                    agg[label]["stages"] += 1
                    nm = si.get("Stage Name", "")
                    if "EvalPython" in nm or "InPandas" in nm or "InArrow" in nm:
                        agg[label]["python_eval_stages"] += 1
            elif et == "SparkListenerTaskEnd":
                label = stage_to_label.get(ev.get("Stage ID"))
                if not label:
                    continue
                a = agg[label]
                a["tasks"] += 1
                tm = ev.get("Task Metrics") or {}
                a["executor_run_ms"] += tm.get("Executor Run Time", 0)
                a["executor_cpu_ms"] += (
                    tm.get("Executor CPU Time", 0) // 1_000_000
                )
                a["jvm_gc_ms"] += tm.get("JVM GC Time", 0)
                a["result_ser_ms"] += tm.get("Result Serialization Time", 0)
                a["deser_ms"] += tm.get("Executor Deserialize Time", 0)
                im = tm.get("Input Metrics") or {}
                a["input_bytes"] += im.get("Bytes Read", 0)
                a["input_records"] += im.get("Records Read", 0)
                srm = tm.get("Shuffle Read Metrics") or {}
                a["shuffle_read_bytes"] += srm.get(
                    "Remote Bytes Read", 0
                ) + srm.get("Local Bytes Read", 0)
                swm = tm.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += swm.get("Shuffle Bytes Written", 0)

    out = {}
    for name in args:
        a = dict(agg[name])
        a["wall_reps_sec"] = walls[name]
        out[name] = a
        print(
            f"{name}: walls={walls[name]} jobs={a['jobs']} stages={a['stages']}"
            f" tasks={a['tasks']} run={a['executor_run_ms']}ms"
            f" cpu={a['executor_cpu_ms']}ms gc={a['jvm_gc_ms']}ms"
            f" pyStages={a['python_eval_stages']}"
            f" input={a['input_bytes']>>20}MiB"
            f" shufW={a['shuffle_write_bytes']>>10}KiB"
            f" jobSpan={a['job_span_ms']}ms"
        )
    with open("/tmp/runtime_profile.json", "w") as fh:
        json.dump(out, fh, indent=1)
    print("full -> /tmp/runtime_profile.json")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
