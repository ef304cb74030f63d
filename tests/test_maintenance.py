"""Rehashing (recompute-and-overwrite) and clean_up_pit hook."""

import hashlib

import pytest
from pyspark.sql import functions as F

from datavault4dbt_spark import fixtures
from datavault4dbt_spark.context import GlobalConfig
from datavault4dbt_spark.functions.hashing import HashSpec
from datavault4dbt_spark.operators.maintenance import (
    RehashSpec, rehash_frame, rehash_table, clean_up_pit,
    clean_up_bridge)
from datavault4dbt_spark.plans.incremental import ParquetStore

pytestmark = pytest.mark.slow


def test_rehash_hub_to_sha256(spark, sf_dir, tmp_path):
    store = ParquetStore(spark, str(tmp_path))
    hub = fixtures.entity_query("hub_customer")(spark, sf_dir)
    store.overwrite("hub_customer", hub)

    g256 = GlobalConfig(hash="SHA256")
    spec = RehashSpec("hub_customer",
                      (HashSpec("hk_customer_h", ("c_custkey",)),))
    n = rehash_table(store, spec, g256)
    out = store.read("hub_customer")
    assert n == hub.count()

    # independent oracle: the standardised form of a plain integer key
    # is '"<key>"' (trim/escape/replace are all no-ops), hashed with
    # sha256 after the UPPER no-op — computed here with hashlib
    row = out.filter(F.col("c_custkey") == 1).first()
    want = hashlib.sha256(b'"1"').hexdigest()
    assert row.hk_customer_h == want
    # ghost rows keep their zero/error keys out of scope of rehash?
    # no — the reference recomputes every row; zero-key inputs rehash to
    # sha-length digests as well
    assert all(len(r.hk_customer_h) == 64 for r in out.collect())


def test_rehash_keep_old_column(spark, sf_dir, tmp_path):
    hub = fixtures.entity_query("hub_nation")(spark, sf_dir)
    spec = RehashSpec("hub_nation",
                      (HashSpec("hk_nation_h", ("n_nationkey",)),),
                      drop_old=False)
    out = rehash_frame(hub, spec, GlobalConfig(hash="SHA1"))
    assert "hk_nation_h__new" in out.columns and "hk_nation_h" in out.columns
    r = out.filter(F.col("n_nationkey") == 1).first()
    assert r.hk_nation_h == hashlib.md5(b'"1"').hexdigest()
    assert r.hk_nation_h__new == hashlib.sha1(b'"1"').hexdigest()


def test_clean_up_pit(spark, sf_dir, tmp_path):
    store = ParquetStore(spark, str(tmp_path))
    pit = fixtures.entity_query("pit_customer")(spark, sf_dir)
    store.overwrite("pit_customer", pit)
    before = store.read("pit_customer").count()

    # thin the snapshot set: keep only weekly actives
    snap = fixtures.entity_query("control_snap_v1")(spark, sf_dir)
    thinned = snap.withColumn(
        "is_active", F.col("is_active") & F.col("is_beginning_of_week"))
    deleted = clean_up_pit(store, "pit_customer", thinned)
    after = store.read("pit_customer").count()
    assert deleted > 0
    assert after == before - deleted
    # every surviving sdts is in the thinned active set
    active = {r[0] for r in
              thinned.filter("is_active").select("sdts").collect()}
    left = {r[0] for r in
            store.read("pit_customer").select("sdts").distinct().collect()}
    assert left <= active


def test_clean_up_bridge_thins_to_active_snapshots(spark, sf_dir,
                                                   tmp_path):
    """The bridge analogue (round-7 advice #5): same sdts grain, same
    retention semantics — thinning the snapshot set deletes exactly the
    retired-sdts bridge rows, partitioned stores metadata-only."""
    store = ParquetStore(spark, str(tmp_path))
    bridge = fixtures.entity_query("bridge_customer_nation")(spark, sf_dir)
    # partitioned layout: the fast path must report the same counts
    store.append("bridge_customer_nation", bridge, partition_by=("sdts",))
    before = store.read("bridge_customer_nation").count()

    snap = fixtures.entity_query("control_snap_v1")(spark, sf_dir)
    thinned = snap.withColumn(
        "is_active", F.col("is_active") & F.col("is_beginning_of_week"))
    deleted = clean_up_bridge(store, "bridge_customer_nation", thinned)
    after = store.read("bridge_customer_nation").count()
    assert deleted > 0
    assert after == before - deleted
    active = {r[0] for r in
              thinned.filter("is_active").select("sdts").collect()}
    left = {r[0] for r in store.read("bridge_customer_nation")
            .select("sdts").distinct().collect()}
    assert left <= active
    # refusal guard shared with the PIT path
    none_active = snap.withColumn("is_active", F.lit(False))
    with pytest.raises(ValueError, match="clean_up_bridge"):
        clean_up_bridge(store, "bridge_customer_nation", none_active)


def test_clean_up_pit_uses_delete_metrics_when_store_reports_them(
        spark, sf_dir, tmp_path):
    """A store with DELETE_RETURNS_METRICS (DeltaStore) must get its
    deleted count straight from delete_where — no before/after count
    scans. Verified with an instrumented ParquetStore double."""
    class MetricStore(ParquetStore):
        DELETE_RETURNS_METRICS = True
        reads_after_delete = 0
        deleted_called = 0

        def delete_where(self, name, condition):
            keep = ~F.coalesce(condition, F.lit(False))
            df = self.read(name)
            total = df.count()
            kept = df.filter(keep)
            n = total - kept.count()
            self.overwrite(name, kept)
            self.deleted_called += 1
            self._post_delete = True
            return n

        def read(self, name):
            if getattr(self, "_post_delete", False):
                self.reads_after_delete += 1
            return super().read(name)

    store = MetricStore(spark, str(tmp_path))
    pit = fixtures.entity_query("pit_customer")(spark, sf_dir)
    store.overwrite("pit_customer", pit)
    before = store.read("pit_customer").count()
    store._post_delete = False
    store.reads_after_delete = 0

    snap = fixtures.entity_query("control_snap_v1")(spark, sf_dir)
    thinned = snap.withColumn(
        "is_active", F.col("is_active") & F.col("is_beginning_of_week"))
    deleted = clean_up_pit(store, "pit_customer", thinned)
    assert store.deleted_called == 1
    assert store.reads_after_delete == 0      # no post-delete count scan
    assert deleted == before - store.read("pit_customer").count() > 0


def test_make_store_falls_back_to_parquet_without_delta(spark, tmp_path):
    from datavault4dbt_spark.plans.delta import make_store, delta_available
    s = make_store(spark, str(tmp_path / "v"), prefer="auto")
    if delta_available():
        pytest.skip("delta installed; covered by test_delta_store.py")
    assert type(s) is ParquetStore
    with pytest.raises(ImportError):
        make_store(spark, str(tmp_path / "v"), prefer="delta")
    with pytest.raises(ValueError):
        make_store(spark, str(tmp_path / "v"), prefer="bogus")


def test_clean_up_pit_refuses_empty_active_set(spark, sf_dir, tmp_path):
    """An empty active set (misconfigured trigger / empty control table)
    must raise instead of silently deleting the whole PIT."""
    store = ParquetStore(spark, str(tmp_path))
    pit = fixtures.entity_query("pit_customer")(spark, sf_dir)
    store.overwrite("pit_customer", pit)
    before = store.read("pit_customer").count()

    snap = fixtures.entity_query("control_snap_v1")(spark, sf_dir)
    none_active = snap.withColumn("is_active", F.lit(False))
    with pytest.raises(ValueError, match="refusing"):
        clean_up_pit(store, "pit_customer", none_active)
    assert store.read("pit_customer").count() == before


def test_clean_up_pit_partitioned_metadata_only(spark, sf_dir, tmp_path):
    """A PIT stored hive-partitioned by sdts takes the metadata-only
    path: stale snapshots become whole-directory drops (no rewrite),
    and the result matches the rewrite path row-for-row."""
    store = ParquetStore(spark, str(tmp_path))
    pit = fixtures.entity_query("pit_customer")(spark, sf_dir)
    store.append("pit_part", pit, partition_by=("sdts",))
    store.overwrite("pit_flat", pit)
    assert store.partitions("pit_part", "sdts")          # hive layout
    assert not store.partitions("pit_flat", "sdts")      # flat layout

    snap = fixtures.entity_query("control_snap_v1")(spark, sf_dir)
    thinned = snap.withColumn(
        "is_active", F.col("is_active") & F.col("is_beginning_of_week"))
    d_part = clean_up_pit(store, "pit_part", thinned)
    d_flat = clean_up_pit(store, "pit_flat", thinned)
    assert d_part == d_flat > 0
    # identical surviving rows (partition path reads sdts from dir names)
    left_p = sorted(
        tuple(str(r[c]) for c in sorted(pit.columns))
        for r in store.read("pit_part").collect())
    left_f = sorted(
        tuple(str(r[c]) for c in sorted(pit.columns))
        for r in store.read("pit_flat").collect())
    assert left_p == left_f
    # and the dropped partitions are really gone from the filesystem
    active = {r[0] for r in
              thinned.filter("is_active").select("sdts").collect()}
    assert len(store.partitions("pit_part", "sdts")) == len(active)


REHASH_YAML = """
config:
    overwrite_hash_values: true
    naming_conventions:
        hashkey_syntax: hk_*
        hub_hashkey_syntax: hk_*_h
        link_hashkey_syntax: hk_*_l
        hashdiff_syntax: hd_*
hubs:
  - name: hub_customer
    hashkey: hk_customer_h
    business_keys: [c_custkey]
  - name: hub_nation
    hashkey: hk_nation_h
    business_keys: [n_nationkey]
links:
  - name: link_customer_nation
    link_hashkey: hk_customer_nation_l
    additional_hash_input_cols: []
    hub_config:
      - hub_hashkey: hk_customer_h
        hub_name: hub_customer
        business_keys: [c_custkey]
      - hub_hashkey: hk_nation_h
        hub_name: hub_nation
        business_keys: [n_nationkey]
satellites:
  - name: sat_customer_n0_s
    hashkey: hk_customer_h
    hashdiff: hd_customer_n_s
    payload: [c_acctbal, c_mktsegment]
    parent_entity: hub_customer
    business_keys: [c_custkey]
ma_satellites:
  - name: ma_sat_customer_orders
    hashkey: hk_customer_h
    hashdiff: hd_order_ms
    ma_keys: [o_orderkey]
    payload: [o_orderstatus, o_orderpriority]
    parent_entity: hub_customer
    business_keys: [c_custkey]
"""


def _vault_store(spark, sf_dir, tmp_path):
    from datavault4dbt_spark.operators.maintenance import rehash_vault
    store = ParquetStore(spark, str(tmp_path))
    for name in ("hub_customer", "hub_nation", "link_customer_nation",
                 "sat_customer_n0_s", "ma_sat_customer_orders"):
        store.overwrite(name, fixtures.entity_query(name)(spark, sf_dir))
    return store, rehash_vault


def test_rehash_vault_md5_to_sha256(spark, sf_dir, tmp_path):
    """Whole-RDV rehash from the reference's YAML shape
    (rehash_all_rdv_entities.sql): hubs -> links -> sats -> ma_sats,
    _deprecated joins, ghost passthrough, final old-column drop."""
    store, rehash_vault = _vault_store(spark, sf_dir, tmp_path)
    g256 = GlobalConfig(hash="SHA256")
    touched = rehash_vault(store, REHASH_YAML, g256, drop_old_values=True)
    assert set(touched) == {"hub_customer", "hub_nation",
                            "link_customer_nation", "sat_customer_n0_s",
                            "ma_sat_customer_orders"}

    hub = store.read("hub_customer")
    assert "hk_customer_h_deprecated" not in hub.columns
    # hashlib oracle on a plain key: standardized '"1"', sha256
    r = hub.filter(F.col("c_custkey") == 1).first()
    assert r.hk_customer_h == hashlib.sha256(b'"1"').hexdigest()
    # ghost rows keep their MD5-era hash values (reference ghost_records)
    ghosts = hub.filter(F.col("rsrc").isin("SYSTEM", "ERROR")).collect()
    assert ghosts and all(len(x.hk_customer_h) == 32 for x in ghosts)

    # link: hub hashkeys copied from the rehashed hubs; link hashkey is
    # the hash of both hubs' business keys ('"<ck>"||"<nk>"')
    link = store.read("link_customer_nation")
    lr = link.filter(F.col("hk_customer_h")
                     == hashlib.sha256(b'"1"').hexdigest()).first()
    assert lr is not None
    # recover the nation key via the rehashed nation hub
    nat = {x.hk_nation_h: x.n_nationkey
           for x in store.read("hub_nation").collect()}
    nk = nat[lr.hk_nation_h]
    want = hashlib.sha256(f'"1"||"{nk}"'.encode()).hexdigest()
    assert lr.hk_customer_nation_l == want

    # satellite re-keyed to the parent's new hashkey; hashdiff is sha256
    sat = store.read("sat_customer_n0_s")
    hks = {x.hk_customer_h for x in
           sat.filter(~F.col("rsrc").isin("SYSTEM", "ERROR")).collect()}
    hub_hks = {x.hk_customer_h for x in
               hub.filter(~F.col("rsrc").isin("SYSTEM", "ERROR")).collect()}
    assert hks <= hub_hks
    assert all(len(x.hd_customer_n_s) == 64 for x in
               sat.filter(~F.col("rsrc").isin("SYSTEM", "ERROR")).collect())

    # ma_sat: group hashdiff constant within (hashkey, ldts)
    ma = store.read("ma_sat_customer_orders")
    grp = (ma.filter(~F.col("rsrc").isin("SYSTEM", "ERROR"))
           .groupBy("hk_customer_h", "ldts")
           .agg(F.countDistinct("hd_order_ms").alias("n")).collect())
    assert grp and all(x.n == 1 for x in grp)


def test_rehash_vault_keeps_deprecated_and_validates_naming(
        spark, sf_dir, tmp_path):
    store, rehash_vault = _vault_store(spark, sf_dir, tmp_path)
    g256 = GlobalConfig(hash="SHA256")
    rehash_vault(store, REHASH_YAML, g256, drop_old_values=False)
    hub = store.read("hub_customer")
    assert "hk_customer_h_deprecated" in hub.columns
    r = hub.filter(F.col("c_custkey") == 1).first()
    assert r.hk_customer_h_deprecated == hashlib.md5(b'"1"').hexdigest()
    assert r.hk_customer_h == hashlib.sha256(b'"1"').hexdigest()

    bad = REHASH_YAML.replace("hashkey: hk_customer_h",
                              "hashkey: hd_customer_h", 1)
    with pytest.raises(ValueError, match="naming convention"):
        rehash_vault(store, bad, g256)


def test_clean_up_pit_mixed_layout_falls_back_to_rewrite(
        spark, sf_dir, tmp_path):
    """Hive dirs + flat files in one table root: the partition-drop
    fast path would silently miss stale rows in the flat files, so the
    cleanup must take the rewrite path and delete them all."""
    store = ParquetStore(spark, str(tmp_path))
    pit = fixtures.entity_query("pit_customer")(spark, sf_dir)
    store.append("pit_mixed", pit, partition_by=("sdts",))
    extra = pit.limit(200)
    store.append("pit_mixed", extra)           # flat append -> mixed
    assert store.has_flat_files("pit_mixed")

    snap = fixtures.entity_query("control_snap_v1")(spark, sf_dir)
    thinned = snap.withColumn(
        "is_active", F.col("is_active") & F.col("is_beginning_of_week"))
    clean_up_pit(store, "pit_mixed", thinned)
    active = {r[0] for r in
              thinned.filter("is_active").select("sdts").collect()}
    left = {r[0] for r in
            store.read("pit_mixed").select("sdts").distinct().collect()}
    assert left <= active                      # flat-file rows gone too


def test_clean_up_pit_refuses_when_no_partition_matches(
        spark, sf_dir, tmp_path):
    """If the active set matches NO partition string (tz/type drift),
    dropping 'everything stale' would delete the whole PIT — refuse."""
    import datetime
    store = ParquetStore(spark, str(tmp_path))
    pit = fixtures.entity_query("pit_customer")(spark, sf_dir)
    store.append("pit_drift", pit, partition_by=("sdts",))
    snap = fixtures.entity_query("control_snap_v1")(spark, sf_dir)
    # shift every active sdts so no string can match a partition
    drifted = snap.withColumn(
        "sdts", F.col("sdts") + F.expr("INTERVAL 37 MINUTES"))
    before = store.read("pit_drift").count()
    with pytest.raises(ValueError, match="refusing to drop every"):
        clean_up_pit(store, "pit_drift", drifted)
    assert store.read("pit_drift").count() == before


def test_rehash_vault_rejects_missing_hub_config_before_touching(
        spark, sf_dir, tmp_path):
    store, rehash_vault = _vault_store(spark, sf_dir, tmp_path)
    bad = REHASH_YAML.replace("    hub_config:", "    hub_config_x:")
    before = _read_all_md5(store)
    with pytest.raises(ValueError, match="hub_config is required"):
        rehash_vault(store, bad, GlobalConfig(hash="SHA256"))
    assert _read_all_md5(store) == before      # nothing was touched


def _read_all_md5(store):
    out = {}
    for name in ("hub_customer", "hub_nation", "link_customer_nation",
                 "sat_customer_n0_s", "ma_sat_customer_orders"):
        df = store.read(name)
        cols = sorted(df.columns)
        out[name] = sorted(tuple(str(r[c]) for c in cols)
                           for r in df.collect())
    return out


def test_rehash_vault_detects_orphans(spark, sf_dir, tmp_path):
    """A satellite row whose hashkey is absent from the parent would
    silently rehash to the zero-key sentinel — must raise instead."""
    store, rehash_vault = _vault_store(spark, sf_dir, tmp_path)
    sat = store.read("sat_customer_n0_s")
    # must be a NON-ghost row: ghost rows keep their hashes and are
    # rightly exempt from the orphan check
    orphan = (sat.filter(~F.col("rsrc").isin("SYSTEM", "ERROR")).limit(1)
              .withColumn("hk_customer_h", F.lit("f" * 31 + "0")))
    store.append("sat_customer_n0_s", orphan)
    with pytest.raises(ValueError, match="parent join missed"):
        rehash_vault(store, REHASH_YAML, GlobalConfig(hash="SHA256"))


def test_clean_up_pit_rewrite_path_refuses_on_sdts_drift(
        spark, sf_dir, tmp_path):
    """Unpartitioned PIT + active sdts values matching NOTHING stored
    (tz/type drift): 'delete everything stale' would mean the whole
    PIT — the rewrite/native-DELETE path must refuse like the hive
    fast path does."""
    store = ParquetStore(spark, str(tmp_path))
    pit = fixtures.entity_query("pit_customer")(spark, sf_dir)
    store.overwrite("pit_customer", pit)   # flat layout, no partitions

    snap = fixtures.entity_query("control_snap_v1")(spark, sf_dir)
    shifted = snap.withColumn(
        "sdts", F.col("sdts") + F.expr("INTERVAL 37 MINUTE"))
    before = store.read("pit_customer").count()
    with pytest.raises(ValueError, match="no stored row matches"):
        clean_up_pit(store, "pit_customer", shifted)
    assert store.read("pit_customer").count() == before   # untouched


def test_clean_up_pit_on_empty_pit_returns_zero(spark, sf_dir, tmp_path):
    """A PIT table with zero rows is 'nothing to clean', not sdts
    drift: clean_up_pit must return 0, not raise."""
    from datavault4dbt_spark import fixtures
    from datavault4dbt_spark.operators.maintenance import clean_up_pit
    from datavault4dbt_spark.plans.incremental import ParquetStore

    fixtures.ensure_session_conf(spark)
    store = ParquetStore(spark, str(tmp_path / "wh"))
    reg = fixtures.registry(spark, sf_dir)
    pit = reg.load(spark, "pit_customer")
    store.append("pit_customer", pit.filter("1 = 0"))  # schema, no rows
    snap = reg.load(spark, "control_snap_v1")
    assert clean_up_pit(store, "pit_customer", snap) == 0


def test_compact_consolidates_small_files(spark, sf_dir, tmp_path):
    """Many tiny appends (the streaming-ingest pattern) -> one compact
    rewrite -> far fewer files, identical rows; hive layout preserved."""
    import os
    from datavault4dbt_spark.plans.incremental import ParquetStore

    store = ParquetStore(spark, str(tmp_path / "wh"))
    df = spark.range(0, 1000).selectExpr(
        "id", "CAST(id % 3 AS STRING) AS day")
    for i in range(10):   # 10 micro-batch appends, 8 partitions each
        store.append("t", df.filter(f"id % 10 = {i}"))

    def nfiles():
        return sum(1 for _b, _d, fs in os.walk(store.path("t"))
                   for f in fs if f.endswith(".parquet"))

    before = nfiles()
    rows_before = sorted(r["id"] for r in store.read("t").collect())
    got = store.compact("t")
    assert got == nfiles() < before
    assert sorted(r["id"] for r in store.read("t").collect()) == rows_before

    # partitioned variant keeps the hive layout compactable per-day
    for i in range(6):
        store.append("p", df.filter(f"id % 6 = {i}"), partition_by=("day",))
    store.compact("p", partition_by=("day",))
    assert set(store.partitions("p", "day")) == {"0", "1", "2"}
    assert store.read("p").count() == 1000


def test_cluster_layout_enables_file_pruning(spark, tmp_path):
    """Range-clustering rewrites the table so each file covers a
    narrow, NON-OVERLAPPING key range — the property parquet min/max
    footer pruning needs. Verified from the actual footers via
    pyarrow, plus row-multiset preservation."""
    import glob
    import pyarrow.parquet as pq
    from datavault4dbt_spark.plans.incremental import ParquetStore

    store = ParquetStore(spark, str(tmp_path / "wh"))
    # shuffled appends: every file initially spans ~the full key range
    df = spark.range(0, 4000).selectExpr(
        "CAST(hash(id) % 100000 AS BIGINT) AS k", "id AS payload")
    for i in range(4):
        store.append("t", df.filter(f"id % 4 = {i}"))

    def ranges():
        out = []
        for f in glob.glob(store.path("t") + "/*.parquet"):
            md = pq.ParquetFile(f).metadata
            ks = [md.row_group(g).column(0) for g in range(md.num_row_groups)]
            assert all(c.path_in_schema == "k" for c in ks)
            out.append((min(c.statistics.min for c in ks),
                        max(c.statistics.max for c in ks)))
        return sorted(out)

    # pre-clustering: overlapping ranges (each append saw all keys)
    pre = ranges()
    assert any(a_max > b_min for (_a, a_max), (b_min, _b)
               in zip(pre, pre[1:]))

    rows_before = sorted((r.k, r.payload)
                         for r in store.read("t").collect())
    n = store.cluster("t", order_by=("k",), n_files=8)
    assert n <= 8
    post = ranges()
    assert len(post) == n
    # disjoint: every file's max < the next file's min (distinct keys)
    assert all(a_max <= b_min for (_a, a_max), (b_min, _b)
               in zip(post, post[1:]))
    assert sorted((r.k, r.payload)
                  for r in store.read("t").collect()) == rows_before


def test_cluster_requires_keys(spark, tmp_path):
    import pytest
    from datavault4dbt_spark.plans.incremental import ParquetStore
    store = ParquetStore(spark, str(tmp_path / "wh"))
    store.append("t", spark.range(5))
    with pytest.raises(ValueError, match="order_by"):
        store.cluster("t", order_by=())
