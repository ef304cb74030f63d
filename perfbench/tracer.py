"""Outside-in tracer, installed only for ``--trace 1`` runs.

Everything here wraps the engine's public surface from the outside;
no file of the engine changes:

- each ``EntityDecl.build`` (via ``dataclasses.replace``) and, for the
  streaming loader, the module-level builders it calls;
- each ``ParquetStore.{append,overwrite,read,exists}`` of one store
  instance;
- py4j's ``ClientServerConnection.send_command`` (a call counter).

Every build and write runs under a Spark job group ``phase|entity|op``
so the event log maps jobs back to entities. Spans (name, start, end,
parent, run id) stay in memory until ``dump``.
"""

from __future__ import annotations

import dataclasses
import itertools
import json
import os
import threading
import time
from contextlib import contextmanager

PKG = "datavault4dbt_spark."


def module_of(fn) -> str:
    """Defining module of a builder, without the package prefix."""
    mod = getattr(fn, "__module__", "") or ""
    return mod[len(PKG):] if mod.startswith(PKG) else mod


def parquet_files(root: str) -> dict:
    """path -> size of every parquet data file under ``root``."""
    out = {}
    for base, _dirs, files in os.walk(root):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(base, f)
                out[p] = os.path.getsize(p)
    return out


def footer_rows(paths) -> int:
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(p).metadata.num_rows for p in paths)


def self_times(spans) -> dict:
    """span id -> duration minus the time its child spans cover (a
    layer's self time)."""
    child: dict = {}
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] = child.get(s["parent"], 0) + (
                s["end"] - s["start"])
    return {s["id"]: s["end"] - s["start"] - child.get(s["id"], 0)
            for s in spans}


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.phase = "setup"
        self.spans: list = []
        self.counts: dict = {}           # (phase, name) -> number
        self.py4j_calls = 0
        self.built: list = []            # (phase, module, entity, df)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._undo: list = []

    # ---- spans and counters ---------------------------------------
    @contextmanager
    def span(self, name: str, **attrs):
        stack = self._stack()
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "run": self.run_id,
               "phase": self.phase,
               "parent": stack[-1] if stack else None, **attrs}
        stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(rec)

    def add(self, name: str, value) -> None:
        with self._lock:
            key = (self.phase, name)
            self.counts[key] = self.counts.get(key, 0) + value

    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    @contextmanager
    def muted(self):
        """py4j calls the tracer makes itself are not counted."""
        self._local.muted = getattr(self._local, "muted", 0) + 1
        try:
            yield
        finally:
            self._local.muted -= 1

    @contextmanager
    def job_group(self, group: str):
        sc = self.spark.sparkContext
        with self.muted():
            old = sc.getLocalProperty("spark.jobGroup.id")
            sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            yield
        finally:
            with self.muted():
                sc.setLocalProperty("spark.jobGroup.id", old)

    # ---- installation ---------------------------------------------
    def install_py4j_counter(self) -> None:
        from py4j.clientserver import ClientServerConnection

        orig = ClientServerConnection.send_command
        tracer = self

        def send_command(conn, command):
            if not getattr(tracer._local, "muted", 0):
                with tracer._lock:
                    tracer.py4j_calls += 1
            return orig(conn, command)

        ClientServerConnection.send_command = send_command
        self._undo.append(
            lambda: setattr(ClientServerConnection, "send_command", orig))

    def wrap_decls(self, decls: dict) -> dict:
        return {n: dataclasses.replace(d, build=self.wrap_builder(
            d.build, entity=n)) for n, d in decls.items()}

    def wrap_builder(self, fn, entity: str | None = None):
        mod = module_of(fn)
        tracer = self

        def build(spark, reg, cfg, *a, **kw):
            name = entity or getattr(cfg, "name", "?")
            with tracer.span(f"build {name}", kind="build", module=mod,
                             entity=name):
                with tracer.job_group(f"{tracer.phase}|{name}|build"):
                    df = fn(spark, reg, cfg, *a, **kw)
            tracer.add(f"{mod}.build_calls", 1)
            with tracer._lock:
                tracer.built.append((tracer.phase, mod, name, df))
            return df

        build.__module__ = fn.__module__
        return build

    def patch_module(self, module, names) -> None:
        """Wrap module-level builders (the streaming loader calls them
        directly rather than through EntityDecls)."""
        for n in names:
            orig = getattr(module, n)
            setattr(module, n, self.wrap_builder(orig))
            self._undo.append(lambda m=module, n=n, o=orig: setattr(m, n, o))

    def wrap_store(self, store, module_by_entity: dict) -> None:
        tracer = self

        def timed(op, fn, counted_files=False):
            def call(name, *a, **kw):
                mod = module_by_entity.get(name, "?")
                before = (parquet_files(store.path(name))
                          if counted_files else None)
                with tracer.span(f"{op} {name}", kind=op, module=mod,
                                 entity=name) as sp:
                    if op in ("append", "overwrite"):
                        with tracer.job_group(f"{tracer.phase}|{name}|{op}"):
                            out = fn(name, *a, **kw)
                    else:
                        out = fn(name, *a, **kw)
                tracer.add(f"store.{op}_s", sp["end"] - sp["start"])
                if op == "exists":
                    tracer.add("store.exists_calls", 1)
                if counted_files:
                    after = parquet_files(store.path(name))
                    new = [p for p in after
                           if p not in before or op == "overwrite"]
                    sp["files"] = len(new)
                    sp["bytes"] = sum(after[p] for p in new)
                    sp["rows"] = footer_rows(new)
                    tracer.add("store.files_written", sp["files"])
                    tracer.add("store.bytes_written", sp["bytes"])
                    if op == "append":
                        tracer.add("store.appended_rows", sp["rows"])
                return out
            return call

        for op in ("append", "overwrite"):
            setattr(store, op, timed(op, getattr(store, op), True))
        for op in ("read", "exists"):
            setattr(store, op, timed(op, getattr(store, op)))
        # the wrappers shadow the class's methods on this instance only;
        # removing them gives the instance back, memo and all, untraced
        self._undo.append(lambda: [vars(store).pop(op) for op in (
            "append", "overwrite", "read", "exists")])

    def uninstall(self) -> None:
        while self._undo:
            self._undo.pop()()

    # ---- catalyst -------------------------------------------------
    def catalyst_phases(self) -> None:
        """Read analysis/optimization/planning times from each built
        DataFrame's QueryExecution tracker. A store write plans its own
        copy of the plan, so optimization and planning are forced here,
        after the timed pass, on the built plan itself."""
        with self.muted():
            for phase, mod, name, df in self.built:
                try:
                    qe = df._jdf.queryExecution()
                    qe.executedPlan()
                    phases = qe.tracker().phases()
                    for p in ("analysis", "optimization", "planning"):
                        opt = phases.get(p)
                        if opt.isDefined():
                            ms = opt.get().durationMs()
                            key = (phase, f"catalyst.{p}_ms")
                            self.counts[key] = self.counts.get(key, 0) + ms
                except Exception:       # plan over a finished micro-batch
                    self.add("catalyst.unreadable_plans", 1)
        self.built.clear()

    def dump(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run": self.run_id, "spans": self.spans, **extra},
                      f, indent=None, default=str)
