"""The benchmark's workloads: seeded inputs, one measured schedule each,
and the correctness checks on what the schedule stored.

Each workload is closed-loop with one client: a pass starts only after
the previous one returned. Every pass goes through the engine's public
front doors (``plans.project.run_project`` or, traced,
``load_project`` + ``run_pipeline``; ``streaming.ingest.start_ingest``)
and is timed as one region. Row counts are read from parquet footers
between passes, outside the timed regions.

A workload is a sequence of parts run one after another on one Spark
session. Each part generates its inputs (``generate``, untimed), parses
its project or stream config (``prepare``, timed as set-up), runs one
schedule (``measure``) and checks what the schedule stored (``check``).
A schedule returns pass records ``{phase, start, end, cpu, ...}`` with
``phase`` one of ``init`` (first load into an empty store), ``incr``
(new input into a populated store), ``noop`` (a rerun that must append
nothing), ``build`` (full-rebuild tables into an empty store) and
``rebuild`` (the same tables rebuilt over the first build).

There is no separate warm-up: like a scheduled load submitted as its
own application, the initial load runs in a fresh JVM and pays
first-use JIT and code generation; later passes run on what it warmed.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import statistics
import time

import gen
from tracer import module_of, parquet_files

HERE = os.path.dirname(os.path.abspath(__file__))
PROJECT = os.path.join(HERE, "project")
CURATION = os.path.join(HERE, "curation")


def store_rows(root: str) -> dict:
    """table -> row count, from parquet footers (no Spark job)."""
    import pyarrow.parquet as pq

    out = {}
    if not os.path.isdir(root):
        return out
    for name in sorted(os.listdir(root)):
        files = parquet_files(os.path.join(root, name))
        out[name] = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
    return out


def read_table(root: str, name: str):
    import pyarrow.parquet as pq
    return pq.read_table(os.path.join(root, name))


class Check:
    """Named correctness checks; each one counts as an attempted
    operation and, when false, as a failed one."""

    def __init__(self):
        self.results: list = []

    def __call__(self, name: str, ok: bool, detail=None) -> None:
        self.results.append({"check": name, "ok": bool(ok),
                             "detail": detail})

    @property
    def failed(self) -> int:
        return sum(not r["ok"] for r in self.results)


def timed_pass(phase: str, fn, cpu, tracer=None, count_py4j=True,
               **attrs) -> dict:
    """Run one pass; record wall/CPU, fn's result and whether it
    raised."""
    rec = {"phase": phase, "result": None, **attrs}
    # a scheduled load is its own application: nothing a previous pass
    # persisted (e.g. the MinHash bucket table) may serve this one
    from pyspark.sql import SparkSession
    SparkSession.getActiveSession().catalog.clearCache()
    if tracer is not None:
        tracer.phase = phase
        calls0 = tracer.py4j_calls
    c0, t0 = cpu(), time.time()
    try:
        if tracer is None:
            rec["result"] = fn()
        else:
            with tracer.span(f"pass {phase}", kind="pass", **attrs):
                rec["result"] = fn()
        rec["ok"] = True
    except Exception as e:                       # counted, then reported
        rec["ok"] = False
        rec["error"] = f"{type(e).__name__}: {str(e)[:500]}"
    rec["start"], rec["end"] = t0, time.time()
    rec["cpu"] = cpu() - c0
    if tracer is not None:
        if count_py4j:
            tracer.add("py4j.calls", tracer.py4j_calls - calls0)
        tracer.catalyst_phases()
    return rec


def project_pass(spark, project: str, store, reg, tracer=None) -> None:
    """Load a YAML project once: ``run_project`` untraced; traced, its
    two steps, with the tracer's builders swapped into the parsed
    declarations in between."""
    from datavault4dbt_spark.plans.pipeline import run_pipeline
    from datavault4dbt_spark.plans.project import load_project, run_project

    if tracer is None:
        run_project(spark, project, store, reg, count_rows=False)
        return
    with tracer.span("load_project", kind="project") as sp:
        decls = load_project(project)
    tracer.add("project.load_s", sp["end"] - sp["start"])
    run_pipeline(spark, tracer.wrap_decls(decls), store, reg,
                 count_rows=False)


# ---------------------------------------------------------------- vault --

class VaultIncremental:
    """examples/project (copy in ``perfbench/project``) against one
    ParquetStore: initial load, incremental batches, and a no-op rerun
    of the last batch."""

    name = "vault_incremental"
    # one no-op rerun: it costs about an increment, and a run has no
    # budget for more (see README "Measured steadiness")
    NOOP_REPS = 1
    # ghost records the stage adds (unknown + error key) per entity
    GHOSTS = {"hub_customer": 2, "link_customer_nation": 2,
              "sat_customer_n0_s": 2}

    def generate(self, out: str, seed: int, threads: int) -> dict:
        m = gen.vault_incremental(seed, out, threads)
        m["out"] = out
        return m

    def prepare(self, m: dict) -> None:
        from datavault4dbt_spark.plans.project import load_project

        decls = load_project(PROJECT)
        m["modules"] = {n: module_of(d.build) for n, d in decls.items()}
        m["incremental"] = sorted(n for n, d in decls.items()
                                  if d.materialize == "incremental")

    def registry(self, m: dict, b: int):
        from datavault4dbt_spark.context import Registry

        reg = Registry()
        bdir = os.path.join(m["out"], m["batches"][b]["dir"])
        for t in ("customer", "nation"):
            reg.register_parquet(t, os.path.join(bdir, f"{t}.parquet"))
        return reg

    def schedule(self, m: dict):
        last = len(m["batches"]) - 1
        return ([("init", 0)] + [("incr", b) for b in range(1, last + 1)]
                + [("noop", last)] * self.NOOP_REPS)

    def measure(self, spark, m: dict, root: str, cpu, tracer=None) -> dict:
        from datavault4dbt_spark.plans.incremental import ParquetStore

        store = ParquetStore(spark, root)
        if tracer is not None:
            tracer.wrap_store(store, m["modules"])
        passes = []
        for phase, b in self.schedule(m):
            passes.append(self._pass(spark, m, store, phase, b, cpu, tracer))
            if not passes[-1]["ok"]:
                break
        return {"passes": passes, "root": root, "store": store,
                "store_bytes": sum(parquet_files(root).values())}

    def rerun(self, spark, m: dict, res: dict, cpu) -> dict:
        """One more no-op rerun on the measured store instance (after
        the tracer is removed, so it runs untraced)."""
        rec = self._pass(spark, m, res["store"], "noop",
                         len(m["batches"]) - 1, cpu)
        rec["appended_ok"] = all(rec["appended"].get(n, 0) == 0
                                 for n in m["incremental"])
        return rec

    def metrics(self, m: dict, res: dict) -> dict:
        med = statistics.median
        passes = res["passes"]

        def times(phase):
            return [p["end"] - p["start"] for p in passes
                    if p["phase"] == phase]

        loads = [p for p in passes if p["phase"] != "noop"]
        out = {"initial_load_s": med(times("init")),
               "incr_load_s": med(times("incr")),
               "noop_rerun_s": med(times("noop")),
               "store_bytes_per_source_byte":
                   res["store_bytes"] / m["source_bytes"],
               "events_per_s": sum(p["source_rows"] for p in loads)
                   / sum(p["end"] - p["start"] for p in loads),
               "trigger_p50_s": med(p["end"] - p["start"] for p in passes)}
        # no full-rebuild schedule here: the first load builds the vault
        # from nothing and the no-op rerun rebuilds it over itself
        out["build_s"] = out["initial_load_s"]
        out["rebuild_s"] = out["noop_rerun_s"]
        return out

    def _pass(self, spark, m, store, phase, b, cpu, tracer=None) -> dict:
        reg = self.registry(m, b)
        before = store_rows(store.root)
        rec = timed_pass(phase, lambda: project_pass(
            spark, PROJECT, store, reg, tracer), cpu, tracer, batch=b)
        del rec["result"]
        after = store_rows(store.root)
        rec["appended"] = {t: after[t] - before.get(t, 0) for t in after}
        rec["source_rows"] = m["batches"][b]["rows"]
        if tracer is not None:
            tracer.add("store.files_total", len(parquet_files(store.root)))
        return rec

    def check(self, m: dict, res: dict, check: Check) -> None:
        passes = res["passes"]
        for p in passes:
            check(f"pass {p['phase']} batch {p['batch']} ran", p["ok"],
                  p.get("error"))
        if len(passes) < len(self.schedule(m)) or not (
                passes[-1]["ok"]):
            check("schedule complete", False)
            return
        noops = [p["appended"] for p in passes if p["phase"] == "noop"]
        check("no-op rerun appends 0 rows to every incremental entity",
              all(a.get(n, 0) == 0 for a in noops for n in m["incremental"]),
              noops)
        rows = store_rows(res["root"])
        e = m["expected"]
        for table, want in (("hub_customer", e["distinct_keys"]),
                            ("link_customer_nation", e["distinct_links"]),
                            ("sat_customer_n0_s", e["sat_rows"])):
            want += self.GHOSTS[table]
            check(f"{table} rows == expected + ghosts",
                  rows.get(table) == want,
                  {"got": rows.get(table), "want": want})
        vc = read_table(res["root"], "vault_checks").to_pylist()
        bad = [r for r in vc if r["n_violations"] != 0]
        check("every vault_checks violation count is 0",
              vc and not bad, bad or len(vc))


# --------------------------------------------------------------- stream --

class StreamIngest:
    """``start_ingest(available_now=True, max_files_per_trigger=1)`` of
    ``stage_events`` -> ``hub_user`` + ``nh_sat_user_event``: one drain
    of the arrival files (one trigger per file), then restarts that each
    find one more re-delivered copy of the last file (no-op reruns)."""

    name = "stream_ingest"
    NOOP_REPS = 3          # a no-op restart is cheap; take the median
    GHOSTS = {"hub_user": 2, "nh_sat_user_event": 2}
    TIMEOUT_S = 150

    def generate(self, out: str, seed: int, threads: int) -> dict:
        m = gen.stream_ingest(seed, out, threads)
        m["out"] = out
        return m

    def prepare(self, m: dict) -> None:
        from pyspark.sql import types as T

        # the arrival files' schema, as gen.stream_ingest writes it
        m["schema"] = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType())])
        m["modules"] = {"hub_user": "operators.hub",
                        "nh_sat_user_event": "operators.nh"}
        m["incremental"] = ["hub_user", "nh_sat_user_event"]

    def config(self, src: str):
        from datavault4dbt_spark import fixtures
        from datavault4dbt_spark.streaming.ingest import StreamIngestConfig

        return StreamIngestConfig(
            source_dir=src, source_name="events",
            stage=fixtures.STAGES["stage_events"],
            hubs=(fixtures.HUBS["hub_user"],),
            nh_sats=(fixtures.NH_SATS["nh_sat_user_event"],),
            max_files_per_trigger=1)

    def _arrivals(self, m: dict, dst: str, files) -> None:
        os.makedirs(dst, exist_ok=True)
        for f in files:
            shutil.copy2(os.path.join(m["out"], f["path"]), dst)

    def _drain(self, spark, m, res, store, phase, cpu, tracer=None) -> dict:
        """One timed availableNow run over the arrival directory; the
        pass record carries the query's progress reports."""
        from datavault4dbt_spark.streaming.ingest import start_ingest

        def drain():
            q = start_ingest(spark, self.config(res["src"]), store,
                             m["schema"], res["ckpt"], available_now=True)
            try:
                if not q.awaitTermination(self.TIMEOUT_S):
                    raise TimeoutError(f"stream did not drain in "
                                       f"{self.TIMEOUT_S}s")
            finally:
                q.stop()
            if q.exception() is not None:
                raise RuntimeError(str(q.exception()))
            return [json.loads(p.json) for p in q.recentProgress]

        rec = timed_pass(phase, drain, cpu, tracer, count_py4j=False)
        rec["progress"] = rec.pop("result") or []
        return rec

    def measure(self, spark, m: dict, root: str, cpu, tracer=None) -> dict:
        from datavault4dbt_spark.plans.incremental import ParquetStore
        from datavault4dbt_spark.streaming import ingest

        src = os.path.join(root, "arrivals")
        ckpt = os.path.join(root, "ckpt")
        store_root = os.path.join(root, "store")
        store = ParquetStore(spark, store_root)
        self._arrivals(m, src, m["files"])
        if tracer is not None:
            tracer.wrap_store(store, m["modules"])
            tracer.patch_module(ingest, ("build_stage", "build_hub",
                                         "build_nh_sat"))
            orig_loader = ingest.micro_batch_loader

            def micro_batch_loader(cfg, store, g=ingest.DEFAULT):
                load = orig_loader(cfg, store, g)

                def traced(batch_df, batch_id):
                    if tracer.phase != "noop":
                        tracer.phase = "init" if batch_id == 0 else "incr"
                    calls0 = tracer.py4j_calls
                    with tracer.span(f"trigger {batch_id}", kind="trigger"):
                        load(batch_df, batch_id)
                    tracer.add("py4j.calls", tracer.py4j_calls - calls0)
                    tracer.add("store.files_total",
                               len(parquet_files(store_root)))
                return traced

            ingest.micro_batch_loader = micro_batch_loader
            tracer._undo.append(lambda: setattr(
                ingest, "micro_batch_loader", orig_loader))
        res = {"passes": [], "root": store_root, "src": src, "ckpt": ckpt,
               "store": store}
        # the drain's own phase is "incr"; its triggers relabel
        # themselves (the first is "init")
        res["passes"].append(self._drain(spark, m, res, store, "incr", cpu,
                                         tracer))
        for _ in range(self.NOOP_REPS):
            res["passes"].append(self._noop(spark, m, res, store, cpu, tracer))
        res["store_bytes"] = sum(parquet_files(store_root).values())
        return res

    def rerun(self, spark, m: dict, res: dict, cpu) -> dict:
        """One more no-op restart on the measured store instance (after
        the tracer is removed, so it runs untraced)."""
        rec = self._noop(spark, m, res, res["store"], cpu)
        rec["appended_ok"] = all(rec["appended"].get(n, 0) == 0
                                 for n in m["incremental"])
        return rec

    def metrics(self, m: dict, res: dict) -> dict:
        med = statistics.median
        drain, *noops = res["passes"]
        triggers = [p["durationMs"]["triggerExecution"] / 1000
                    for p in drain["progress"]]
        return {"initial_load_s": triggers[0],
                "incr_load_s": med(triggers[1:]),
                "noop_rerun_s": med(p["end"] - p["start"] for p in noops),
                "store_bytes_per_source_byte":
                    res["store_bytes"] / m["source_bytes"],
                "events_per_s": sum(p["numInputRows"]
                                    for p in drain["progress"])
                    / (drain["end"] - drain["start"]),
                "trigger_p50_s": med(triggers)}

    def _noop(self, spark, m, res, store, cpu, tracer=None) -> dict:
        """Restart the stream after the last file arrived once more
        under a new name (at-least-once delivery)."""
        i = len(res["passes"])
        last = m["files"][-1]["path"]
        before = store_rows(res["root"])
        again = os.path.join(res["src"], f"redelivered{i}-"
                             + os.path.basename(last))
        shutil.copy(os.path.join(m["out"], last), again)
        gen.set_arrival_order([again], start=2e9 + i)
        rec = self._drain(spark, m, res, store, "noop", cpu, tracer)
        after = store_rows(res["root"])
        rec["appended"] = {t: after[t] - before.get(t, 0) for t in after}
        return rec

    def check(self, m: dict, res: dict, check: Check) -> None:
        drain, *noops = res["passes"]
        check("drain ran", drain["ok"], drain.get("error"))
        check("one trigger per arrival file",
              len(drain["progress"]) == len(m["files"]),
              len(drain["progress"]))
        for i, noop in enumerate(noops):
            check(f"no-op restart {i} ran", noop["ok"], noop.get("error"))
            check(f"no-op restart {i} appends 0 rows to every incremental "
                  f"entity", noop["ok"] and all(
                      noop["appended"].get(n, 0) == 0
                      for n in m["incremental"]), noop.get("appended"))
        rows = store_rows(res["root"])
        e = m["expected"]
        for table, want in (("hub_user", e["distinct_users"]),
                            ("nh_sat_user_event", e["distinct_events"])):
            want += self.GHOSTS[table]
            check(f"{table} rows == expected + ghosts",
                  rows.get(table) == want,
                  {"got": rows.get(table), "want": want})


# ------------------------------------------------------------- curation --

def table_digest(root: str, name: str) -> str:
    """Order-insensitive digest of a stored table: the sum, modulo
    2**64, of a hash of each row."""
    total = 0
    for row in read_table(root, name).to_pylist():
        h = hashlib.blake2b(repr(sorted(row.items())).encode(),
                            digest_size=8)
        total = (total + int.from_bytes(h.digest(), "big")) % 2**64
    return f"{total:016x}"


class CurationRebuild:
    """A subset of examples/curation_project (copy in
    ``perfbench/curation``: quality, langid, MinHash LSH, duplicate
    groups, curation, multimodal decode through Arrow-batched Python
    workers) built into an empty store, then rebuilt over it. Every
    entity is a full-rebuild table: the build appends into the empty
    store, the rebuild replaces (``ParquetStore.overwrite``)."""

    name = "curation_rebuild"

    def generate(self, out: str, seed: int, threads: int) -> dict:
        m = gen.curation_rebuild(seed, out, threads)
        m["out"] = out
        return m

    def prepare(self, m: dict) -> None:
        from datavault4dbt_spark.plans.project import load_project

        decls = load_project(CURATION)
        m["modules"] = {n: module_of(d.build) for n, d in decls.items()}
        m["tables"] = sorted(decls)

    def measure(self, spark, m: dict, root: str, cpu, tracer=None) -> dict:
        from datavault4dbt_spark.context import Registry
        from datavault4dbt_spark.plans.incremental import ParquetStore

        store = ParquetStore(spark, root)
        if tracer is not None:
            tracer.wrap_store(store, m["modules"])
        reg = Registry()
        reg.register_parquet("documents",
                             os.path.join(m["out"], m["documents"]))
        res = {"passes": [], "root": root, "store": store, "reg": reg}
        for phase in ("build", "rebuild"):
            res["passes"].append(self._pass(spark, m, res, phase, cpu,
                                            tracer))
            if not res["passes"][-1]["ok"]:
                break
        return res

    def _pass(self, spark, m, res, phase, cpu, tracer=None) -> dict:
        rec = timed_pass(phase, lambda: project_pass(
            spark, CURATION, res["store"], res["reg"], tracer), cpu, tracer)
        del rec["result"]
        if rec["ok"]:
            rows = store_rows(res["root"])
            rec["tables"] = {t: (rows.get(t), table_digest(res["root"], t))
                             for t in m["tables"]}
        return rec

    def rerun(self, spark, m: dict, res: dict, cpu) -> dict:
        """One more rebuild on the measured store instance (after the
        tracer is removed, so it runs untraced)."""
        rec = self._pass(spark, m, res, "rebuild", cpu)
        rec["appended_ok"] = rec["ok"] and (
            rec["tables"] == res["passes"][0]["tables"])
        return rec

    def metrics(self, m: dict, res: dict) -> dict:
        build, rebuild = res["passes"]
        return {"build_s": build["end"] - build["start"],
                "rebuild_s": rebuild["end"] - rebuild["start"]}

    def check(self, m: dict, res: dict, check: Check) -> None:
        passes = res["passes"]
        for p in passes:
            check(f"curation {p['phase']} ran", p["ok"], p.get("error"))
        if len(passes) < 2 or not passes[-1]["ok"]:
            check("curation schedule complete", False)
            return
        build, rebuild = (p["tables"] for p in passes)
        for t in m["tables"]:
            check(f"{t}: rebuild rows and digest equal the build's",
                  build[t] == rebuild[t] and build[t][0],
                  {"build": build[t], "rebuild": rebuild[t]})
        e = m["expected"]
        check("multimodal_decode has one row per document",
              build["multimodal_decode"][0] == e["documents"],
              build["multimodal_decode"][0])
        group = {r["doc_id"]: r["group_id"] for r in read_table(
            res["root"], "dedup_groups").to_pylist()}
        split = [p for p in e["exact_duplicate_pairs"]
                 if group.get(p[0]) is None or group.get(p[0]) != group.get(
                     p[1])]
        check("every planted exact-duplicate pair is in one dedup group",
              not split, split[:5])


# A workload is the parts it runs, in order, on one Spark session. The
# curation build/rebuild rides in the stream workload's session: as a
# workload of its own it would pay a JVM start and a cold first build
# in every run, which the run budget does not hold.
WORKLOADS = {"vault_incremental": (VaultIncremental(),),
             "stream_ingest": (StreamIngest(), CurationRebuild())}
