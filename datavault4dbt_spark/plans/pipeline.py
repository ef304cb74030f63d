"""Pipeline runner: materialize a whole declared Data Vault in
dependency order — the engine's equivalent of ``dbt run``.

The reference relies on dbt's DAG scheduler to order models and on
incremental materializations to append (SURVEY §3). Here the DAG comes
from each entity's declared dependencies; each run() pass:

1. topologically sorts the declared entities,
2. builds each entity's plan against the *stored* versions of its
   dependencies (stages are recomputed views by default, like the
   reference's view materialization),
3. incremental entities anti-join against their stored target and
   append records_to_insert (insert-only),
4. views (sat_v1 & co.) are re-registered, never materialized.

Scale notes: entities are scheduled by readiness, like dbt's
``threads``: an entity starts as soon as every entity it reads has been
written and re-registered as a store read (a view: re-registered), so
independent branches (the hubs, links and satellites of one stage, the
PITs and bridges of one spine) build and write concurrently. The pool
is sized from the session — at most ``defaultParallelism`` threads,
started only as entities become ready — with no knob of its own. Each entity's body is the same serial sequence of plans and jobs
either way; only their overlap changes, which pays when a load waits
on per-job latency rather than on executors. All incremental pruning
(HWM + anti-join) happens inside each entity's plan.
"""

from __future__ import annotations

from dataclasses import dataclass

from ..context import GlobalConfig, DEFAULT, Registry
from .incremental import ParquetStore


@dataclass(frozen=True)
class EntityDecl:
    """One declared entity: how to build it and what it depends on."""

    name: str
    build: callable          # (spark, reg, cfg, g, target=...) -> DataFrame
    cfg: object
    deps: tuple = ()
    materialize: str = "incremental"  # 'incremental' | 'table' | 'view'
    keys: tuple = ()         # anti-join keys for incremental appends


def topo_sort(decls: dict) -> list:
    seen, order = set(), []

    def visit(n, path=()):
        if n in seen or n not in decls:
            return
        if n in path:
            raise ValueError(f"dependency cycle at {n}")
        for d in decls[n].deps:
            visit(d, path + (n,))
        seen.add(n)
        order.append(n)
    for n in decls:
        visit(n)
    return order


def select_nodes(decls: dict, select=(), exclude=()) -> set:
    """dbt-style node selection (reference:
    macros/supporting/source_models.sql:40-62,
    source_model_should_be_selected.sql:1-16 lean on dbt ``--select``;
    this is the engine-side equivalent for run_pipeline). Selector
    grammar per item (string or iterable of strings):

    - ``name``    — the node itself (fnmatch globs allowed: ``stage_*``)
    - ``+name``   — the node plus ALL ancestors
    - ``name+``   — the node plus ALL descendants
    - ``+name+``  — both closures

    Multiple selectors union; ``exclude`` (same grammar) subtracts
    after the union. Empty ``select`` means every node. A selector
    that matches nothing raises — a silently-empty selection runs
    nothing, which in a scheduled load reads as success."""
    import fnmatch

    if isinstance(select, str):
        select = (select,)
    if isinstance(exclude, str):
        exclude = (exclude,)
    children: dict = {n: [] for n in decls}
    for n, d in decls.items():
        for dep in d.deps:
            if dep in children:
                children[dep].append(n)

    def closure(roots, edges):
        out, stack = set(roots), list(roots)
        while stack:
            for nxt in edges(stack.pop()):
                if nxt not in out:
                    out.add(nxt)
                    stack.append(nxt)
        return out

    def resolve(selector: str) -> set:
        up = selector.startswith("+")
        down = selector.endswith("+")
        pat = selector.strip("+")
        base = set(fnmatch.filter(decls.keys(), pat))
        if not base:
            raise ValueError(
                f"selector {selector!r} matches no declared entity "
                f"(have: {sorted(decls)[:8]}...)")
        got = set(base)
        if up:
            got |= closure(base, lambda n: [d for d in decls[n].deps
                                            if d in decls])
        if down:
            got |= closure(base, lambda n: children[n])
        return got

    chosen = (set(decls) if not select
              else set().union(*(resolve(s) for s in select)))
    for s in exclude:
        chosen -= resolve(s)
    return chosen


def run_pipeline(spark, decls: dict, store: ParquetStore,
                 base_registry: Registry, g: GlobalConfig = DEFAULT,
                 count_rows: bool = True, select=(), exclude=()) -> dict:
    """One load run over every declared entity; returns rows appended
    per entity. Safe to re-run: incremental entities insert nothing new
    on replay (idempotent anti-join append).

    ``count_rows=False`` skips the per-entity row counts (returns None
    per entity): the count is a second action, and even with the
    persist below it costs a cache pass — a 100 TB scheduled load that
    doesn't surface counts shouldn't pay it.

    ``select``/``exclude`` (see select_nodes) rebuild only the chosen
    subtree — the dbt ``--select`` workflow: a user reloading one
    branch of a large vault must not pay the whole DAG. Skipped
    MATERIALIZED dependencies resolve to their STORED tables (what a
    selective dbt run does: upstream models are referenced, not
    rebuilt); skipped views re-register their plans (views are never
    materialized, so consuming one always recomputes it). A chosen
    node whose skipped dependency has never been materialized raises
    up front — dbt would fail the same way at reference time, but a
    plain error beats a missing-table stack trace mid-run.

    Scheduling: chosen entities run on a thread pool as soon as every
    chosen entity they read (directly or through a skipped view) is
    finished — written and re-registered as a store read, or, for a
    view, re-registered. Skipped entities are registered up front. The
    pool starts a thread when an entity is ready and none is idle, up
    to ``defaultParallelism``, and each load carries the caller's
    Spark thread-local properties, so a job group set around the call
    still tags (and ``cancelJobGroup`` still cancels) every job of the
    load. The
    returned dict is in topological order whatever the finishing
    order. After the first failure no new entity starts; loads already
    running finish (insert-only, so a rerun stays idempotent and picks
    up where this one stopped), then the failure earliest in
    topological order is raised.

    Concurrency contract for builders: they share one SparkSession, so
    a builder must not change a session-global conf (``spark.conf.set``)
    while it runs — a concurrent sibling would plan under it. None of
    ``plans.project.KINDS`` does; the one scoped conf in the engine,
    ``streaming.staging.scoped_stream_shuffle``
    (``spark.sql.shuffle.partitions``), is reached only from the
    streaming gates, which do not run through here. A kind that needs a
    scoped conf must pass it per plan (hints, options) instead."""
    reg = base_registry
    chosen = select_nodes(decls, select, exclude)
    # Entities a chosen plan will actually READ, walked transitively
    # THROUGH skipped views (a view re-registers its plan, which pulls
    # the view's own deps at load time) and stopping at skipped
    # materialized entities (those resolve to stored tables). Anything
    # needed that is neither stored, a view, nor chosen fails up front.
    needed: set = set()
    stack = [dep for c in chosen for dep in decls[c].deps]
    while stack:
        n = stack.pop()
        if n in needed or n in chosen or n not in decls:
            continue
        needed.add(n)
        if decls[n].materialize == "view" or not store.exists(n):
            stack.extend(decls[n].deps)
    missing = sorted(n for n in needed
                     if decls[n].materialize != "view"
                     and not store.exists(n))
    if missing:
        raise ValueError(
            f"selection needs {missing}, excluded from this run and "
            f"never materialized — widen the selection (e.g. "
            f"'+<node>') or load them first")
    order = topo_sort(decls)
    for name in order:
        if name in chosen:
            continue
        d = decls[name]
        if d.materialize == "view":
            reg._invalidate(name)
            reg.spark_loaders[name] = (
                lambda spark, d=d: d.build(spark, reg, d.cfg, g))
        elif store.exists(name):
            reg._invalidate(name)
            reg.spark_loaders[name] = (
                lambda spark, s=store, n=name: s.read(n))

    def load(name):
        d = decls[name]
        if d.materialize == "view":
            # register the plan; consumers recompute it (dbt view).
            # _invalidate, not just re-register: a re-run would otherwise
            # serve the PREVIOUS run's cached view plan, whose scan
            # snapshot points at files an overwrite has since deleted
            # (FileNotFound) or misses rows this run appends (silent).
            reg._invalidate(name)
            reg.spark_loaders[name] = (
                lambda spark, d=d: d.build(spark, reg, d.cfg, g))
            return None
        target = store.read(name) if store.exists(name) else None
        if d.materialize == "incremental" and target is not None:
            new = d.build(spark, reg, d.cfg, g, target=target)
        else:
            new = d.build(spark, reg, d.cfg, g)
        n = None
        if count_rows:
            # count + write are two actions over the same delta plan:
            # persist the delta (bounded: records_to_insert, not the
            # table) so the plan executes once, not twice
            new = new.persist()
            n = new.count()
        if target is not None and d.materialize == "table":
            store.overwrite(name, new)
        else:
            store.append(name, new)
        if count_rows:
            new.unpersist()
        # downstream entities read the STORED table, not the plan
        # (_invalidate also unpersists any cached copy of the old plan);
        # going through store.read keeps the pipeline storage-agnostic
        # (ParquetStore and DeltaStore plug in identically)
        reg._invalidate(name)
        reg.spark_loaders[name] = (
            lambda spark, s=store, n=name: s.read(n))
        return n

    todo = [n for n in order if n in chosen]
    return _run_when_ready(spark, todo,
                           {n: _reads_of(decls, chosen, n) for n in todo},
                           load)


def _reads_of(decls: dict, chosen: set, name: str) -> set:
    """The chosen entities ``name``'s plan reads: its chosen deps, plus
    those behind skipped views (a view's plan loads its own deps when
    consumed). A skipped materialized dep is a stored table — nothing
    in this run rewrites it, so it is no reason to wait."""
    out, seen, stack = set(), set(), list(decls[name].deps)
    while stack:
        n = stack.pop()
        if n in seen or n not in decls:
            continue
        seen.add(n)
        if n in chosen:
            out.add(n)
        elif decls[n].materialize == "view":
            stack.extend(decls[n].deps)
    return out


def _run_when_ready(spark, order: list, reads: dict, load) -> dict:
    """Run ``load(name)`` for every name in ``order`` (a topological
    order), each as soon as every name in ``reads[name]`` has returned,
    on at most ``defaultParallelism`` threads. Returns {name: result}
    in ``order``. After the first failure nothing new starts; loads
    already running finish, then the failure earliest in ``order`` is
    raised."""
    from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait

    from pyspark.util import inheritable_thread_target

    workers = max(1, min(len(order), spark.sparkContext.defaultParallelism))
    pending, running, done, failed = list(order), {}, {}, {}
    # the executor starts threads on demand: a narrow DAG starts few
    with ThreadPoolExecutor(workers, thread_name_prefix="dv4dbt-load") as pool:
        while True:
            # submit only into idle workers: a submitted load has started,
            # so after a failure there is no queue left to cancel
            while not failed and len(running) < workers:
                ready = next((n for n in pending if reads[n].issubset(done)),
                             None)
                if ready is None:
                    break
                pending.remove(ready)
                # wrapped here, per load: the caller's job group, pool and
                # description (Spark thread-local properties) are copied
                # now, on this thread, and each load gets its own copy, so
                # a job group one load sets cannot leak into another's
                running[pool.submit(inheritable_thread_target(spark)(load),
                                    ready)] = ready
            if not running:
                break
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for f in finished:
                name = running.pop(f)
                try:
                    done[name] = f.result()
                except Exception as e:
                    failed[name] = e
    if failed:
        raise failed[min(failed, key=order.index)]
    return {n: done[n] for n in order}
