"""Tests of the benchmark's own files (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import filecmp
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402


def _files(root):
    return sorted(os.path.relpath(os.path.join(b, f), root)
                  for b, _d, fs in os.walk(root) for f in fs)


def _same_tree(a, b) -> bool:
    fa, fb = _files(a), _files(b)
    return fa == fb and all(
        filecmp.cmp(os.path.join(a, f), os.path.join(b, f), shallow=False)
        for f in fa)


@pytest.mark.parametrize("workload", sorted(gen.GENERATORS))
def test_same_seed_same_bytes_other_seed_other_bytes(tmp_path, workload):
    make = gen.GENERATORS[workload]
    make(11, str(tmp_path / "a"))
    make(11, str(tmp_path / "b"))
    make(12, str(tmp_path / "c"))
    assert _same_tree(tmp_path / "a", tmp_path / "b")
    assert _files(tmp_path / "a") == _files(tmp_path / "c")
    assert not _same_tree(tmp_path / "a", tmp_path / "c")


def test_vault_expected_counts_match_the_batches(tmp_path):
    import pyarrow.parquet as pq

    m = gen.vault_incremental(5, str(tmp_path))
    seen: dict = {}            # key -> list of (acctbal, segment) states
    nations: dict = {}
    ldts = []
    for b in m["batches"]:
        t = pq.read_table(tmp_path / b["dir"] / "customer.parquet")
        assert t.num_rows == b["rows"]
        rows = t.to_pylist()
        assert len({r["c_custkey"] for r in rows}) == len(rows)
        ldts.append({r["load_ts"] for r in rows})
        for r in rows:
            k = r["c_custkey"]
            nations.setdefault(k, set()).add(r["c_nationkey"])
            state = (r["c_acctbal"], r["c_mktsegment"])
            hist = seen.setdefault(k, [])
            if not hist or hist[-1] != state:
                hist.append(state)
    e = m["expected"]
    assert e["distinct_keys"] == len(seen)
    assert e["distinct_links"] == sum(len(v) for v in nations.values())
    assert e["sat_rows"] == sum(len(h) for h in seen.values())
    assert e["payload_changes"] == e["sat_rows"] - e["distinct_keys"]
    # one load timestamp per batch, increasing, inside January 2024
    assert all(len(s) == 1 for s in ldts)
    stamps = [next(iter(s)) for s in ldts]
    assert stamps == sorted(stamps) and len(set(stamps)) == len(stamps)
    assert all(s.year == 2024 and s.month == 1 for s in stamps)
    # every increment carries changes, new keys and unchanged rows
    n0 = m["batches"][0]["rows"]
    assert all(b["rows"] > n0 * gen.VAULT["new_frac"]
               for b in m["batches"][1:])


def test_stream_expected_counts_match_the_arrivals(tmp_path):
    import pyarrow.parquet as pq

    m = gen.stream_ingest(5, str(tmp_path))
    events, users, total = set(), set(), 0
    mtimes = []
    for f in m["files"]:
        path = tmp_path / f["path"]
        rows = pq.read_table(path).to_pylist()
        total += len(rows)
        events.update(r["event_id"] for r in rows)
        users.update(r["user_id"] for r in rows)
        mtimes.append(os.path.getmtime(path))
    e = m["expected"]
    assert e["distinct_events"] == len(events)
    assert e["distinct_users"] == len(users)
    assert total == len(events) + e["redelivered_events"]
    assert e["redelivered_events"] > 0
    assert mtimes == sorted(mtimes) and len(set(mtimes)) == len(mtimes)


def test_curation_planted_duplicates_match_the_documents(tmp_path):
    import pyarrow.parquet as pq

    m = gen.curation_rebuild(5, str(tmp_path))
    rows = pq.read_table(tmp_path / m["documents"]).to_pylist()
    text = {r["doc_id"]: r["text"] for r in rows}
    e = m["expected"]
    assert e["documents"] == len(rows) == len(text)
    assert e["distinct_texts"] == len(set(text.values()))
    pairs = e["exact_duplicate_pairs"]
    assert len(pairs) == int(len(rows) * gen.CURATION["exact_frac"])
    assert all(text[a] == text[b] and a != b for a, b in pairs)
    # near duplicates: same word count as some other document, one
    # word different
    by_len: dict = {}
    for t in text.values():
        by_len.setdefault(len(t.split()), []).append(t.split())
    near = 0
    for group in by_len.values():
        for i, a in enumerate(group):
            near += any(sum(x != y for x, y in zip(a, b)) == 1
                        for b in group[i + 1:])
    assert near >= e["near_duplicates"]
    assert all(r["n_chars"] == len(r["text"]) for r in rows)


def test_manifest_is_written_and_relative(tmp_path):
    m = gen.stream_ingest(3, str(tmp_path))
    with open(tmp_path / "manifest.json") as f:
        assert json.load(f) == json.loads(json.dumps(m))
    assert not any(os.path.isabs(f["path"]) for f in m["files"])


def test_benchmark_json_lists_every_reported_metric():
    import run

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert [(x["name"], x["unit"]) for x in bench["end_to_end"]] == \
        list(run.END_TO_END)
    assert [(x["name"], x["unit"]) for x in bench["per_layer"]] == \
        run.per_layer_names()
    assert len(run.per_layer_names()) <= 128
    assert sorted(w["name"] for w in bench["workloads"]) == sorted(
        __import__("workloads").WORKLOADS)
