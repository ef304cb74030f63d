"""Sources (csv/json readers) and the pipeline runner (dbt-run
equivalent): full vault load in dependency order, idempotent re-run,
readiness scheduling of independent entities and its failure rules."""

import threading
from concurrent.futures import ThreadPoolExecutor

import duckdb
import pytest
from pyspark.sql import functions as F

from conftest import SF_DIR

from datavault4dbt_spark import fixtures
from datavault4dbt_spark.context import (DEFAULT, Registry,
                                         testdata_registry as make_registry)
from datavault4dbt_spark.sources.readers import (SourceConfig, read_source,
                                                 register_sources)
from datavault4dbt_spark.operators.stage import build_stage
from datavault4dbt_spark.operators.hub import build_hub
from datavault4dbt_spark.operators.link import build_link
from datavault4dbt_spark.operators.sat import build_sat_v0
from datavault4dbt_spark.plans.incremental import ParquetStore
from datavault4dbt_spark.plans.pipeline import EntityDecl, topo_sort, run_pipeline


@pytest.fixture(scope="module")
def csv_json_sources(tmp_path_factory):
    root = tmp_path_factory.mktemp("srcfmt")
    con = duckdb.connect()
    con.execute(f"COPY (SELECT * FROM '{SF_DIR}/nation.parquet') "
                f"TO '{root}/nation.csv' (FORMAT CSV, HEADER)")
    con.execute(f"COPY (SELECT * FROM '{SF_DIR}/customer.parquet') "
                f"TO '{root}/customer.json' (FORMAT JSON)")
    return str(root)


def test_csv_and_json_sources_match_parquet(spark, sf_dir, csv_json_sources):
    pq = spark.read.parquet(f"{sf_dir}/nation.parquet")
    csv = read_source(spark, SourceConfig(
        "nation", f"{csv_json_sources}/nation.csv", "csv",
        schema="n_nationkey INT, n_name STRING, n_regionkey INT",
        options=(("header", "true"),)))
    assert sorted(map(str, csv.collect())) == sorted(map(str, pq.collect()))

    js = read_source(spark, SourceConfig(
        "customer", f"{csv_json_sources}/customer.json", "json",
        schema=("c_custkey BIGINT, c_name STRING, c_nationkey INT, "
                "c_acctbal DOUBLE, c_mktsegment STRING")))
    assert js.count() == spark.read.parquet(f"{sf_dir}/customer.parquet").count()


def test_register_sources_feeds_stage(spark, sf_dir, csv_json_sources):
    fixtures.ensure_session_conf(spark)
    reg = make_registry(sf_dir)
    register_sources(reg, [SourceConfig(
        "nation", f"{csv_json_sources}/nation.csv", "csv",
        schema="n_nationkey INT, n_name STRING, n_regionkey INT",
        options=(("header", "true"),))])
    got = build_stage(spark, reg, fixtures.STAGES["stage_nation"])
    want = fixtures.entity_query("stage_nation")(spark, sf_dir)
    assert sorted(map(str, got.collect())) == sorted(map(str, want.collect()))


def _decls():
    return {
        "stage_customer": EntityDecl(
            "stage_customer", build_stage, fixtures.STAGES["stage_customer"],
            deps=(), materialize="table"),
        "hub_customer": EntityDecl(
            "hub_customer", build_hub, fixtures.HUBS["hub_customer"],
            deps=("stage_customer",), keys=("hk_customer_h",)),
        "link_customer_nation": EntityDecl(
            "link_customer_nation", build_link,
            fixtures.LINKS["link_customer_nation"],
            deps=("stage_customer",), keys=("hk_customer_nation_l",)),
        "sat_customer_n0_s": EntityDecl(
            "sat_customer_n0_s", build_sat_v0, fixtures.SATS["sat_customer_n0_s"],
            deps=("stage_customer",), keys=("hk_customer_h", "hd_customer_n_s")),
    }


def test_topo_sort_orders_deps_first():
    order = topo_sort(_decls())
    assert order.index("stage_customer") < order.index("hub_customer")
    assert order.index("stage_customer") < order.index("sat_customer_n0_s")


def test_run_pipeline_full_then_idempotent_rerun(spark, sf_dir, tmp_path):
    fixtures.ensure_session_conf(spark)
    store = ParquetStore(spark, str(tmp_path))
    reg = make_registry(sf_dir)
    counts = run_pipeline(spark, _decls(), store, reg)
    want_hub = fixtures.entity_query("hub_customer")(spark, sf_dir)
    assert counts["hub_customer"] == want_hub.count()
    got = store.read("hub_customer")
    assert sorted(map(str, got.collect())) == sorted(map(str, want_hub.collect()))

    # re-run: stage rewrites (table), incrementals insert nothing
    reg2 = make_registry(sf_dir)
    counts2 = run_pipeline(spark, _decls(), store, reg2)
    assert counts2["hub_customer"] == 0
    assert counts2["link_customer_nation"] == 0
    assert counts2["sat_customer_n0_s"] == 0
    assert store.read("hub_customer").count() == want_hub.count()


def test_select_nodes_grammar():
    from datavault4dbt_spark.plans.pipeline import select_nodes
    decls = _decls()
    assert select_nodes(decls) == set(decls)
    assert select_nodes(decls, "hub_customer") == {"hub_customer"}
    assert select_nodes(decls, "+hub_customer") == {
        "stage_customer", "hub_customer"}
    assert select_nodes(decls, "stage_customer+") == set(decls)
    assert select_nodes(decls, "sat_*") == {"sat_customer_n0_s"}
    assert select_nodes(decls, "stage_customer+",
                        exclude="link_*") == set(decls) - {
        "link_customer_nation"}
    with pytest.raises(ValueError, match="matches no"):
        select_nodes(decls, "nope_*")


def test_run_pipeline_selective_subtree(spark, sf_dir, tmp_path):
    """dbt --select semantics: (1) a selected subtree whose skipped
    dependency was never materialized fails up front; (2) +node builds
    the ancestors too; (3) a later selective run rebuilds ONLY the
    chosen node against the STORED dependency — the other entities'
    tables stay untouched."""
    fixtures.ensure_session_conf(spark)
    store = ParquetStore(spark, str(tmp_path))
    with pytest.raises(ValueError, match="never materialized"):
        run_pipeline(spark, _decls(), store, make_registry(sf_dir),
                     select="hub_customer")
    counts = run_pipeline(spark, _decls(), store, make_registry(sf_dir),
                          select="+hub_customer")
    assert set(counts) == {"stage_customer", "hub_customer"}
    assert not store.exists("sat_customer_n0_s")
    want_hub = store.read("hub_customer").count()
    assert counts["hub_customer"] == want_hub > 0

    # now the satellite alone: reads the STORED stage, builds only itself
    counts2 = run_pipeline(spark, _decls(), store, make_registry(sf_dir),
                           select="sat_customer_n0_s")
    assert set(counts2) == {"sat_customer_n0_s"}
    want_sat = fixtures.entity_query("sat_customer_n0_s")(spark, sf_dir)
    got = store.read("sat_customer_n0_s")
    assert sorted(map(str, got.collect())) == sorted(
        map(str, want_sat.collect()))
    # untouched branch stayed untouched; selective rerun is idempotent
    assert not store.exists("link_customer_nation")
    counts3 = run_pipeline(spark, _decls(), store, make_registry(sf_dir),
                           select="sat_customer_n0_s")
    assert counts3 == {"sat_customer_n0_s": 0}


# ---- readiness scheduling: fake builders over spark.range -------------

def _fake(name, deps=(), materialize="incremental", hook=None):
    """Three ids, semi-joined to every dependency so the plan really
    reads them; an incremental rerun anti-joins its target (appends 0)."""
    def build(spark, reg, cfg, g, target=None):
        if hook is not None:
            hook(spark, reg)
        df = spark.range(3)
        for dep in deps:
            df = df.join(reg.load(spark, dep).select("id"), "id", "left_semi")
        if target is not None:
            df = df.join(target, "id", "left_anti")
        return df
    return EntityDecl(name, build, None, deps=tuple(deps),
                      materialize=materialize, keys=("id",))


def _decls_of(*decls):
    return {d.name: d for d in decls}


def _within(seconds, fn, *args, **kwargs):
    """Run ``fn`` but fail instead of hanging if it has not returned
    (no ``with``: its exit would wait for a hung call)."""
    pool = ThreadPoolExecutor(1)
    try:
        return pool.submit(fn, *args, **kwargs).result(timeout=seconds)
    finally:
        pool.shutdown(wait=False)


def test_independent_siblings_overlap_and_result_is_in_topo_order(
        spark, tmp_path):
    """The barrier only opens once all three siblings are inside their
    builders at the same time — a serial loop would break it."""
    barrier = threading.Barrier(3, timeout=30)
    decls = _decls_of(
        _fake("root", materialize="table"),
        *(_fake(f"sib{i}", deps=("root",),
                hook=lambda spark, reg: barrier.wait()) for i in range(3)),
        _fake("leaf", deps=("sib2", "sib0")))
    counts = run_pipeline(spark, decls, ParquetStore(spark, str(tmp_path)),
                          Registry())
    assert list(counts) == topo_sort(decls)
    assert set(counts.values()) == {3}


def test_dependent_builds_against_the_stored_dependencies(spark, tmp_path):
    """When a builder runs, every entity it reads — directly or through
    a view, chosen or skipped — is already re-registered as a read of
    its stored table."""
    store = ParquetStore(spark, str(tmp_path))
    seen = []

    def reads_stored(*deps):
        def hook(spark, reg):
            for dep in deps:
                files = reg.spark_loaders[dep](spark).inputFiles()
                seen.append(dep)
                assert files and all(f"{store.path(dep)}/" in f
                                     for f in files), (dep, files)
        return hook

    decls = _decls_of(
        _fake("a", materialize="table"),
        _fake("v", deps=("a",), materialize="view"),
        _fake("b", deps=("v",), hook=reads_stored("a")),
        _fake("c", deps=("a", "b"), hook=reads_stored("a", "b")))
    run_pipeline(spark, decls, store, Registry())
    assert seen == ["a", "a", "b"]
    # the view skipped: b still waits for the rewrite of a behind it
    seen.clear()
    counts = run_pipeline(spark, decls, store, Registry(), select=("a", "b"))
    assert counts == {"a": 3, "b": 0}
    assert seen == ["a"]


def test_failure_stops_new_starts_and_a_rerun_resumes(spark, tmp_path):
    store = ParquetStore(spark, str(tmp_path))
    broken = [True]
    child_calls = []

    def fail(msg):
        def hook(spark, reg):
            if broken[0]:
                raise RuntimeError(msg)
        return hook

    decls = _decls_of(
        _fake("root", materialize="table"),
        _fake("other", deps=("root",)),
        _fake("bad", deps=("root",), hook=fail("bad failed")),
        _fake("child", deps=("bad",),
              hook=lambda spark, reg: child_calls.append(1)))
    with pytest.raises(RuntimeError, match="bad failed"):
        _within(300, run_pipeline, spark, decls, store, Registry())
    assert child_calls == []
    assert not store.exists("bad") and not store.exists("child")
    # "other" was started beside "bad" and finished: the rerun skips it
    broken[0] = False
    counts = _within(300, run_pipeline, spark, decls, store, Registry())
    assert counts == {"root": 3, "other": 0, "bad": 3, "child": 3}
    assert child_calls == [1]
    counts = run_pipeline(spark, decls, store, Registry())
    assert counts == {"root": 3, "other": 0, "bad": 0, "child": 0}


def test_concurrent_failures_raise_the_earliest_in_topo_order(spark,
                                                              tmp_path):
    barrier = threading.Barrier(2, timeout=30)

    def fail(msg):
        def hook(spark, reg):
            barrier.wait()
            raise RuntimeError(msg)
        return hook

    decls = _decls_of(_fake("first", hook=fail("first failed")),
                      _fake("second", hook=fail("second failed")))
    with pytest.raises(RuntimeError, match="first failed"):
        _within(300, run_pipeline, spark, decls,
                ParquetStore(spark, str(tmp_path)), Registry())


def test_caller_job_group_tags_the_load_jobs(spark, tmp_path):
    """The loads run on pool threads; they must carry the caller's
    Spark thread-local properties, or cancelJobGroup could not cancel a
    running load."""
    sc = spark.sparkContext
    group = "test-run-pipeline-job-group"
    sc.setJobGroup(group, "run_pipeline under a caller job group")
    try:
        run_pipeline(spark, _decls_of(_fake("root", materialize="table"),
                                      _fake("leaf", deps=("root",))),
                     ParquetStore(spark, str(tmp_path)), Registry())
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description",
                    "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    assert sc.statusTracker().getJobIdsForGroup(group)
