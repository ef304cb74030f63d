"""Benchmark of record: incremental vault load, stream ingest and a
curation build/rebuild.

Run from the repository root:

    python3 perfbench/run.py --workload vault_incremental --seed 1 \
        --seconds 30 --trace 0

The last line of stdout is one JSON object ``{correct, attempted,
failed, metrics}``; ``--trace 0`` reports the end-to-end metrics,
``--trace 1`` the per-layer ones (and writes spans plus per-entity
Spark counters to ``perfbench/_traces/``). Everything the run writes
stays under ``perfbench/_work`` and ``perfbench/_traces``. See
``perfbench/README.md`` for what each workload and metric means.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

SETUP_REPS = 5
T0 = time.time()
PHASES = ("init", "incr", "noop")          # vault passes, stream triggers
REBUILD_PHASES = ("build", "rebuild")      # curation passes
# defining modules (EntityDecl.build.__module__ without the package
# prefix) of the builders that write in the vault's increments and
# no-op reruns, and of the curation builders
VAULT_MODULES = ("operators.hub", "operators.link", "operators.sat",
                 "operators.pit", "operators.bridge", "operators.checks")
LLM_MODULES = ("llm.textstats", "llm.dedup", "llm.curation",
               "llm.multimodal")
# (name, unit) of the per-layer metrics reported for every phase of the
# vault and the stream; the trace file keeps the rest (stages skipped,
# deserialize time, shuffle read and spill bytes, files in the store)
PHASE_LAYER = (
    ("project.load_s", "s"), ("py4j.calls", "count"),
    ("catalyst.analysis_ms", "ms"), ("catalyst.optimization_ms", "ms"),
    ("catalyst.planning_ms", "ms"),
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"),
    ("spark.executor_run_ms", "ms"), ("spark.executor_cpu_ms", "ms"),
    ("spark.gc_ms", "ms"), ("spark.input_bytes", "bytes"),
    ("spark.shuffle_write_bytes", "bytes"),
    ("store.append_s", "s"), ("store.overwrite_s", "s"),
    ("store.read_s", "s"), ("store.exists_calls", "count"),
    ("store.files_written", "count"), ("store.bytes_written", "bytes"),
    ("store.appended_rows_per_scanned_mb", "rows/MB"),
)
# the same for the curation build (its tables are appended into an
# empty store) and rebuild (overwritten)
REBUILD_LAYER = (
    ("project.load_s", "s"), ("py4j.calls", "count"),
    ("catalyst.analysis_ms", "ms"), ("spark.jobs", "count"),
    ("spark.tasks", "count"), ("spark.executor_cpu_ms", "ms"),
    ("spark.shuffle_write_bytes", "bytes"), ("store.append_s", "s"),
    ("store.overwrite_s", "s"), ("store.read_s", "s"),
)
STREAMING = (("streaming.triggers", "count"),
             ("streaming.addBatch_ms", "ms"),
             ("streaming.getBatch_ms", "ms"),
             ("streaming.queryPlanning_ms", "ms"),
             ("streaming.walCommit_ms", "ms"),
             ("streaming.commitOffsets_ms", "ms"),
             ("streaming.latestOffset_ms", "ms"))


def module_metrics() -> list:
    """(phase, module, key) of the per-module build and write times."""
    return ([(ph, mod, k) for ph in ("incr", "noop") for mod in VAULT_MODULES
             for k in ("build_s", "write_s")]
            + [(ph, mod, k) for ph in REBUILD_PHASES for mod in LLM_MODULES
               for k in ("build_s", "write_s")])


def per_layer_names() -> list:
    """(name, unit) of every per-layer metric, in report order."""
    out = [(f"{ph}.{n}", u) for ph in PHASES for n, u in PHASE_LAYER]
    out += [(f"{ph}.{n}", u) for ph in REBUILD_PHASES
            for n, u in REBUILD_LAYER]
    out += list(STREAMING)
    out += [(f"{ph}.{mod}.{k}", "s") for ph, mod, k in module_metrics()]
    return out


END_TO_END = (("setup_s", "s"), ("wall_s", "s"), ("cpu_s", "s"),
              ("peak_rss_mb", "MB"), ("initial_load_s", "s"),
              ("incr_load_s", "s"), ("noop_rerun_s", "s"),
              ("store_bytes_per_source_byte", "ratio"),
              ("events_per_s", "1/s"), ("trigger_p50_s", "s"),
              ("build_s", "s"), ("rebuild_s", "s"))


def log(msg: str) -> None:
    print(f"[perfbench {time.time() - T0:7.1f}s] {msg}", file=sys.stderr,
          flush=True)


# ------------------------------------------------------------- host --

def host_cores() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def driver_heap_mb() -> int:
    """An eighth of the host's RAM, between 1 and 4 GiB: the JVM, the
    Python driver and the Python workers share one host."""
    return max(1024, min(4096, mem_total_mb() // 8))


def proc_cpu_s(pid) -> float:
    """utime+stime (+ reaped children) of a process, in seconds."""
    with open(f"/proc/{pid}/stat") as f:
        fields = f.read().rsplit(")", 1)[1].split()
    ticks = sum(int(x) for x in fields[11:15])
    return ticks / os.sysconf("SC_CLK_TCK")


def proc_peak_rss_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# ---------------------------------------------------------- session --

class Session:
    """One JVM for the whole run; SparkContexts may be restarted on it."""

    def __init__(self, work: str, event_log: str | None):
        self.work = work
        self.event_log = event_log
        self.cores = host_cores()
        self.heap_mb = driver_heap_mb()
        self.spark = None
        self.jvm_pid = None

    def start(self):
        from pyspark.sql import SparkSession
        from datavault4dbt_spark.context import configure_session_builder

        b = (SparkSession.builder.master(f"local[{self.cores}]")
             .appName("dv4dbt-perfbench")
             .config("spark.sql.shuffle.partitions", str(self.cores))
             .config("spark.driver.memory", f"{self.heap_mb}m")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.warehouse.dir",
                     os.path.join(self.work, "warehouse"))
             # -Xms = -Xmx: no heap resizing, so peak RSS does not
             # depend on when the JVM decided to grow the heap
             .config("spark.driver.extraJavaOptions",
                     f"-Xms{self.heap_mb}m"))
        if self.event_log:
            os.makedirs(self.event_log, exist_ok=True)
            b = (b.config("spark.eventLog.enabled", "true")
                 .config("spark.eventLog.dir", self.event_log)
                 .config("spark.eventLog.compress", "false"))
        self.spark = configure_session_builder(b, local_bench=True) \
            .getOrCreate()
        self.spark.sparkContext.setLogLevel("ERROR")
        if self.jvm_pid is None:
            self.jvm_pid = int(self.spark._jvm.java.lang.ProcessHandle
                               .current().pid())
        return self.spark

    def stop(self):
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self):
        """Stop Spark and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None

    def cpu_s(self) -> float:
        return proc_cpu_s("self") + (proc_cpu_s(self.jvm_pid)
                                     if self.jvm_pid else 0.0)

    def peak_rss_mb(self) -> float:
        return proc_peak_rss_mb("self") + (proc_peak_rss_mb(self.jvm_pid)
                                           if self.jvm_pid else 0.0)


# ---------------------------------------------------------- metrics --

def end_to_end(parts, ms, results, setup: list, session: Session) -> dict:
    """End-to-end metrics of one schedule of every part of a workload;
    each part reports the metrics it defines."""
    passes = [p for res in results for p in res["passes"]]
    out = {"setup_s": statistics.median(setup),
           "wall_s": sum(p["end"] - p["start"] for p in passes),
           "cpu_s": sum(p["cpu"] for p in passes),
           "peak_rss_mb": session.peak_rss_mb()}
    for part, m, res in zip(parts, ms, results):
        out.update(part.metrics(m, res))
    return {k: {"value": out[k], "unit": u} for k, u in END_TO_END}


def windows(tracer) -> list:
    """(start, end, phase) of every trigger span, then every pass span:
    a job is attributed to the first window containing its submission."""
    spans = sorted(tracer.spans, key=lambda s: s["kind"] != "trigger")
    return [(s["start"], s["end"], s["phase"]) for s in spans
            if s.get("kind") in ("trigger", "pass")]


def per_layer(tracer, jobs, results: list) -> dict:
    import eventlog
    import tracer as tracer_mod

    per_phase = {}        # passes (for the stream, triggers) per phase
    prog = []
    for res in results:
        passes = res["passes"]
        if "progress" in passes[0]:
            prog = passes[0]["progress"]
            per_phase.update(init=1, incr=max(1, len(prog) - 1),
                             noop=len(passes) - 1)
        else:
            for ph in {p["phase"] for p in passes}:
                per_phase[ph] = sum(p["phase"] == ph for p in passes)
    wins = windows(tracer)

    def phase_of(job):
        for a, b, ph in wins:
            if a <= job["submit"] <= b:
                return ph
        return None

    spark_by_phase = eventlog.fold(jobs, phase_of)
    vals: dict = {}
    for phases, layer in ((PHASES, PHASE_LAYER),
                          (REBUILD_PHASES, REBUILD_LAYER)):
        for ph in phases:
            n = per_phase.get(ph, 1)
            spark = spark_by_phase.get(ph, {})
            for name, _u in layer:
                if name.startswith("spark."):
                    v = spark.get(name, 0)
                elif name == "store.appended_rows_per_scanned_mb":
                    mb = spark.get("spark.input_bytes", 0) / 1e6
                    rows = tracer.counts.get((ph, "store.appended_rows"), 0)
                    vals[f"{ph}.{name}"] = rows / mb if mb else 0.0
                    continue
                else:
                    v = tracer.counts.get((ph, name), 0)
                vals[f"{ph}.{name}"] = v / n
    # streaming: per-trigger means over the drain
    vals["streaming.triggers"] = len(prog)
    for name, _u in STREAMING[1:]:
        key = name.split(".", 1)[1][:-3]
        vals[name] = (statistics.fmean(p["durationMs"].get(key, 0)
                                       for p in prog) if prog else 0.0)
    st = tracer_mod.self_times(tracer.spans)
    for s in tracer.spans:
        ph, mod = s["phase"], s.get("module")
        if s["kind"] == "build":
            k, v = f"{ph}.{mod}.build_s", st[s["id"]]
        elif s["kind"] in ("append", "overwrite"):
            k, v = f"{ph}.{mod}.write_s", s["end"] - s["start"]
        else:
            continue
        vals[k] = vals.get(k, 0) + v / per_phase.get(ph, 1)
    return {n: {"value": vals.get(n, 0), "unit": u}
            for n, u in per_layer_names()}


def repeat_report(path: str, seed: int, counts: dict) -> dict:
    """Which count-valued metrics equal those of the previous traced run
    of the same workload and seed in this checkout (appends this run)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    prev = None
    if os.path.exists(path):
        with open(path) as f:
            for line in f:
                rec = json.loads(line)
                if rec["seed"] == seed:
                    prev = rec["counts"]
    with open(path, "a") as f:
        f.write(json.dumps({"seed": seed, "counts": counts}) + "\n")
    if prev is None:
        return {"compared_with": None}
    same = sorted(k for k in counts if prev.get(k) == counts[k])
    return {"compared_with": "previous traced run, same seed",
            "repeat_exactly": same,
            "differ": {k: [prev.get(k), counts[k]] for k in counts
                       if prev.get(k) != counts[k]}}


# ------------------------------------------------------------- main --

def cpu_ticks() -> list:
    """The host's aggregate CPU tick counters (/proc/stat ``cpu`` line:
    user, nice, system, idle, iowait, irq, softirq, steal, ...)."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def host_witness(start: dict | None = None) -> dict:
    w = {"nproc": host_cores(), "mem_total_mb": mem_total_mb(),
         "driver_heap_mb": driver_heap_mb(),
         "loadavg": list(os.getloadavg()), "cpu_ticks": cpu_ticks()}
    if start is not None:
        # share of CPU time the hypervisor gave to other guests during
        # the run: the main source of run-to-run spread on a shared VM
        d = [b - a for a, b in zip(start["cpu_ticks"], w["cpu_ticks"])]
        w["steal_share"] = d[7] / max(1, sum(d))
    return w


def run(args, work: str) -> dict:
    from tracer import Tracer
    from workloads import WORKLOADS, Check

    parts = WORKLOADS[args.workload]
    trace = bool(args.trace)
    witness = {"start": host_witness()}
    event_dir = os.path.join(work, "eventlog") if trace else None
    session = Session(work, event_dir)
    try:
        spark = session.start()                    # launches the JVM
        ms = [p.generate(os.path.join(work, "in", p.name), args.seed,
                         session.cores) for p in parts]
        # set-up: a fresh SparkContext on the running JVM, then every
        # part's project or stream config parsed
        setup = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            session.stop()
            spark = session.start()
            for p, m in zip(parts, ms):
                p.prepare(m)
            setup.append(time.perf_counter() - t0)
        log(f"setup {[round(x, 3) for x in setup]}")
        check = Check()
        tracer = Tracer(spark, f"{args.workload}-s{args.seed}-"
                        f"{int(time.time())}") if trace else None
        if tracer is not None:
            tracer.install_py4j_counter()
        results = []
        try:
            for p, m in zip(parts, ms):
                results.append(p.measure(spark, m, os.path.join(
                    work, "run", p.name), session.cpu_s, tracer))
                log(("traced " if trace else "measured ") + ", ".join(
                    f"{r['phase']} {r['end'] - r['start']:.2f}s"
                    for r in results[-1]["passes"]))
        finally:
            if tracer is not None:
                tracer.uninstall()
        for p, m, res in zip(parts, ms, results):
            p.check(m, res, check)
        if not trace:
            # an incomplete schedule has no metrics; the failed checks
            # say why
            out = {"metrics": {} if check.failed else
                   end_to_end(parts, ms, results, setup, session)}
        else:
            out, trace_doc = traced_report(args, spark, session, parts, ms,
                                           results, tracer, check, event_dir)
        out.update(attempted=len(check.results), failed=check.failed,
                   checks=check.results)
        witness["end"] = host_witness(witness["start"])
        out["host"] = {"cores": session.cores,
                       "driver_heap_mb": session.heap_mb, **witness}
        if trace:
            tracer.dump(os.path.join(HERE, "_traces", f"{tracer.run_id}.json"),
                        {**trace_doc, "host": out["host"]})
            log(f"trace written to perfbench/_traces/{tracer.run_id}.json")
        return out
    finally:
        session.shutdown()


def traced_report(args, spark, session, parts, ms, results, tracer, check,
                  event_dir) -> tuple:
    """Tracing overhead, per-layer metrics and the trace document of a
    traced run whose schedules have finished (tracer removed)."""
    import eventlog

    # tracing overhead: each part's last pass (a no-op rerun or the
    # rebuild) once more on the same store, untraced, against its
    # traced run
    overhead = {}
    first_plain = None
    for p, m, res in zip(parts, ms, results):
        plain = p.rerun(spark, m, res, session.cpu_s)
        first_plain = first_plain or plain["start"]
        check(f"{p.name}: untraced rerun ran", plain["ok"],
              plain.get("error"))
        check(f"{p.name}: untraced rerun stores what the traced one did",
              plain.get("appended_ok"), plain.get("appended"))
        traced = res["passes"][-1]
        o = {"traced_s": traced["end"] - traced["start"],
             "untraced_s": plain["end"] - plain["start"]}
        o["overhead_s"] = o["traced_s"] - o["untraced_s"]
        overhead[f"{p.name} {traced['phase']}"] = o
        log(f"tracing overhead on the {p.name} {traced['phase']} pass: "
            f"{o['overhead_s']:+.2f}s of {o['untraced_s']:.2f}s untraced")
    app = spark.sparkContext.applicationId
    session.stop()
    jobs = eventlog.read_jobs(os.path.join(event_dir, f"eventlog_v2_{app}"))
    jobs = [j for j in jobs if j["submit"] < first_plain]
    out = {"metrics": per_layer(tracer, jobs, results)}
    counts = {k: v["value"] for k, v in out["metrics"].items()
              if v["unit"] == "count"}
    repeat = repeat_report(os.path.join(
        HERE, "_traces", f"{args.workload}-counts.jsonl"), args.seed, counts)
    trace_doc = {
        "workload": args.workload, "seed": args.seed,
        "tracing_overhead": overhead,
        "traced_passes": [x for res in results for x in _passes(res)],
        "spark_by_job_group": eventlog.fold(jobs, lambda j: j["group"]),
        "counter_repeat": repeat,
        "counts": {f"{ph}|{n}": v for (ph, n), v in tracer.counts.items()},
        "per_layer": {k: v["value"] for k, v in out["metrics"].items()},
    }
    return out, trace_doc


def _passes(res) -> list:
    return [{k: v for k, v in p.items() if k not in ("progress", "tables")}
            | {"triggers": len(p.get("progress", []))}
            for p in res["passes"]]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    # a run measures exactly one schedule of its workload, so every
    # metric always means the same pass; --seconds is accepted for the
    # benchmark's command-line contract and does not size the run
    ap.add_argument("--seconds", type=int, default=30)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "datavault4dbt_spark")):
        print("perfbench: run from the repository root "
              "(datavault4dbt_spark/ not found)", file=sys.stderr)
        return 2
    from workloads import WORKLOADS
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r} "
              f"(have {sorted(WORKLOADS)})", file=sys.stderr)
        return 2
    work = os.path.join(HERE, "_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # keep every file the run (and the JVMs it starts) writes inside
    # the work directory
    tmp = os.path.join(work, "tmp")
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark")
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    os.environ["SPARK_LOCAL_IP"] = "127.0.0.1"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, root)
    try:
        out = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for c in out.pop("checks"):
        if not c["ok"]:
            print(f"CHECK FAILED: {c['check']}: {c['detail']}",
                  file=sys.stderr)
    print(json.dumps({"host": out.pop("host")}), file=sys.stderr)
    correct = out["failed"] == 0
    print(json.dumps({"correct": correct, "attempted": out["attempted"],
                      "failed": out["failed"], "metrics": out["metrics"]}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
