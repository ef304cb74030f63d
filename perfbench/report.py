"""Summarise one traced run: where each phase's time went, per entity
and per layer.

    python3 perfbench/report.py perfbench/_traces/<run>.json

Per phase (init / incr / noop, build / rebuild) it prints, for every entity, the self
time of its builds (plan construction, minus nested builds of views it
pulled in) and the time of its store reads and writes, with the Spark
jobs, tasks and executor CPU its job groups ran. All are per-pass
means: a phase's totals are divided by its passes (for the stream, its
triggers).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tracer import self_times  # noqa: E402


def summarise(trace: dict) -> dict:
    spans = trace["spans"]
    st = self_times(spans)
    passes: dict = {}
    for s in spans:
        if s["kind"] in ("pass", "trigger"):
            passes.setdefault((s["phase"], s["kind"]), []).append(
                s["end"] - s["start"])
    rows: dict = {}
    for s in spans:
        if s["kind"] not in ("build", "append", "overwrite", "read"):
            continue
        key = (s["phase"], s.get("entity"), s.get("module"))
        r = rows.setdefault(key, {"build_s": 0.0, "write_s": 0.0,
                                  "read_s": 0.0})
        if s["kind"] == "build":
            r["build_s"] += st[s["id"]]
        elif s["kind"] == "read":
            r["read_s"] += s["end"] - s["start"]
        else:
            r["write_s"] += s["end"] - s["start"]
    # per-pass means: a phase's triggers if it has any, else its passes
    n = {ph: len(passes.get((ph, "trigger")) or passes.get((ph, "pass"))
                 or [0]) for ph in {k[0] for k in rows}}
    for (phase, _e, _m), r in rows.items():
        for k in r:
            r[k] /= n[phase]
    for group, c in trace.get("spark_by_job_group", {}).items():
        if not group or group.count("|") != 2:
            continue
        phase, entity, _op = group.split("|")
        for key in rows:
            if key[0] == phase and key[1] == entity:
                r = rows[key]
                for k in ("spark.jobs", "spark.tasks",
                          "spark.executor_cpu_ms"):
                    r[k] = r.get(k, 0) + c[k] / n[phase]
    return {"passes": passes, "rows": rows}


def main(path: str) -> None:
    with open(path) as f:
        trace = json.load(f)
    s = summarise(trace)
    print(f"run {trace['run']}  workload {trace['workload']}  "
          f"seed {trace['seed']}")
    for what, o in trace["tracing_overhead"].items():
        print(f"tracing overhead {o['overhead_s']:+.2f}s on the "
              f"{o['untraced_s']:.2f}s untraced {what} pass")
    h = trace.get("host")
    if h:
        print(f"host: nproc {h['cores']}, driver heap {h['driver_heap_mb']} "
              f"MiB, load average {h['start']['loadavg'][0]:.2f} at start, "
              f"{h['end']['loadavg'][0]:.2f} at end")
    for (phase, kind), d in sorted(s["passes"].items()):
        print(f"{phase:5s} {kind:7s} n={len(d):3d} "
              f"total={sum(d):7.2f}s mean={sum(d) / len(d):6.2f}s")
    print(f"\n{'phase':5s} {'entity':26s} {'module':22s} "
          f"{'build_s':>8s} {'write_s':>8s} {'read_s':>7s} {'jobs':>5s} "
          f"{'tasks':>6s} {'cpu_ms':>8s}")
    order = {"init": 0, "incr": 1, "noop": 2, "build": 3, "rebuild": 4}
    for (phase, entity, mod), r in sorted(
            s["rows"].items(),
            key=lambda kv: (order.get(kv[0][0], 9),
                            -(kv[1]["build_s"] + kv[1]["write_s"]))):
        print(f"{phase:5s} {str(entity):26s} {str(mod):22s} "
              f"{r['build_s']:8.2f} {r['write_s']:8.2f} {r['read_s']:7.2f} "
              f"{r.get('spark.jobs', 0):5.1f} {r.get('spark.tasks', 0):6.1f} "
              f"{r.get('spark.executor_cpu_ms', 0):8.0f}")


if __name__ == "__main__":
    main(sys.argv[1])
