"""Seeded input generator for the benchmark workloads.

The same seed gives byte-identical parquet files; another seed gives
other keys, payloads and arrival order at the same sizes, so timings
stay comparable across seeds. Only pyarrow and the standard library
are used, in one process; pyarrow's writer is capped at ``threads``.

Each generator returns a manifest (paths plus the expected counts the
correctness checks need) and writes it beside the data as
``manifest.json``.

Run standalone to inspect a seed:

    python3 perfbench/gen.py vault_incremental 7 /tmp/out
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import sys

import pyarrow as pa
import pyarrow.parquet as pq

# sf0.1-shaped customer batches: an initial delivery, then incremental
# deliveries that each carry payload changes, new keys and unchanged
# re-deliveries of keys already loaded.
VAULT = dict(customers=2000, batches=3, change_frac=0.07, new_frac=0.05,
             redeliver_frac=0.20)
# sf0.1-shaped event stream cut into time-ordered arrival files, with a
# share of each file re-delivered inside a later file (at-least-once).
STREAM = dict(files=6, events_per_file=300, users=600,
              redeliver_frac=0.10, redeliver_lag=3)

# sf0.1-shaped documents with planted exact and near duplicates, built
# and then rebuilt by the curation subset in ``perfbench/curation``.
CURATION = dict(docs=1000, words=(10, 100), exact_frac=0.05,
                near_frac=0.05)

WORDS = ("a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_WEIGHTS = (41, 14, 15, 15, 15)
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
EVENT_TYPES = ("view", "click", "add_to_cart", "purchase", "error")
JAN_2024 = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
UTC_US = pa.timestamp("us", tz="UTC")


def _write(table: pa.Table, path: str) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    return os.path.getsize(path)


def _nation() -> pa.Table:
    return pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })


def _customers(rows: list, load_ts: dt.datetime) -> pa.Table:
    return pa.table({
        "c_custkey": pa.array([r[0] for r in rows], pa.int64()),
        "c_name": [f"Customer#{r[0]:09d}" for r in rows],
        "c_nationkey": pa.array([r[1] for r in rows], pa.int32()),
        "c_acctbal": pa.array([r[2] for r in rows], pa.float64()),
        "c_mktsegment": [r[3] for r in rows],
        "load_ts": pa.array([load_ts] * len(rows), UTC_US),
    })


def vault_incremental(seed: int, out: str, threads: int = 1) -> dict:
    """Customer batches ``batch_<b>/{customer,nation}.parquet``.

    Batch 0 is the initial load; batch b >= 1 holds ``change_frac``
    payload changes, ``new_frac`` new keys and ``redeliver_frac``
    unchanged rows (fractions of the initial size). Batch b's rows all
    carry ``load_ts`` = 2024-01-03 + 7*b days, inside the January 2024
    snapshot window."""
    pa.set_cpu_count(max(1, threads))
    rng = random.Random(seed)
    n0 = VAULT["customers"]
    # seeded key shift: every seed hashes a different key range
    base = rng.randrange(1, 10_000) * 100_000
    next_key = base
    current: dict = {}          # key -> (nation, acctbal, segment)

    def payload():
        return round(rng.uniform(-999.99, 9999.99), 2), rng.choice(SEGMENTS)

    batches, bytes_in = [], 0
    changes_per_key: dict = {}
    sat_rows = 0
    for b in range(VAULT["batches"]):
        load_ts = JAN_2024 + dt.timedelta(days=2 + 7 * b)
        rows = []
        if b == 0:
            for _ in range(n0):
                current[next_key] = (rng.randrange(25), *payload())
                rows.append((next_key, *current[next_key]))
                next_key += 1
            sat_rows += n0
        else:
            keys = sorted(current)
            picked = rng.sample(keys, int(n0 * (VAULT["change_frac"]
                                                + VAULT["redeliver_frac"])))
            n_change = int(n0 * VAULT["change_frac"])
            for k in picked[:n_change]:
                nation, bal, seg = current[k]
                new_bal = bal
                while new_bal == bal:
                    new_bal = payload()[0]
                current[k] = (nation, new_bal, rng.choice(SEGMENTS))
                changes_per_key[k] = changes_per_key.get(k, 0) + 1
            rows += [(k, *current[k]) for k in picked]
            for _ in range(int(n0 * VAULT["new_frac"])):
                current[next_key] = (rng.randrange(25), *payload())
                rows.append((next_key, *current[next_key]))
                next_key += 1
            sat_rows += n_change + int(n0 * VAULT["new_frac"])
            rng.shuffle(rows)
        bdir = os.path.join(out, f"batch_{b}")
        bytes_in += _write(_customers(rows, load_ts),
                           os.path.join(bdir, "customer.parquet"))
        _write(_nation(), os.path.join(bdir, "nation.parquet"))
        batches.append({"dir": f"batch_{b}", "rows": len(rows),
                        "ldts": load_ts.isoformat()})
    hist: dict = {}
    for n in changes_per_key.values():
        hist[str(n)] = hist.get(str(n), 0) + 1
    manifest = {
        "workload": "vault_incremental", "seed": seed, "batches": batches,
        "source_bytes": bytes_in,
        "source_rows": sum(x["rows"] for x in batches),
        "expected": {
            "distinct_keys": len(current),
            # nations never change, so links are one per key
            "distinct_links": len(current),
            "sat_rows": sat_rows,
            "payload_changes": sum(changes_per_key.values()),
            "keys_by_change_count": dict(sorted(hist.items())),
        },
    }
    return _finish(manifest, out)


def stream_ingest(seed: int, out: str, threads: int = 1) -> dict:
    """Time-ordered arrival files ``arrivals/part-<i>.parquet``.

    File i holds the events of the i-th time slice of January 2024 plus,
    for i >= ``redeliver_lag``, a seeded ``redeliver_frac`` share of
    file i-lag's events delivered again. Modification times are set in
    file order so the file source reads them in order."""
    pa.set_cpu_count(max(1, threads))
    rng = random.Random(seed)
    nf, per = STREAM["files"], STREAM["events_per_file"]
    first_id = rng.randrange(1, 10_000) * 100_000
    user_base = rng.randrange(1, 10_000) * 10_000
    users = [user_base + u for u in range(STREAM["users"])]
    slice_s = 31 * 86400 // nf
    files, delivered_users, bytes_in = [], set(), 0
    events = []
    for i in range(nf):
        t0 = i * slice_s
        secs = sorted(rng.randrange(t0, t0 + slice_s) for _ in range(per))
        batch = []
        for j, s in enumerate(secs):
            batch.append((first_id + i * per + j,
                          JAN_2024 + dt.timedelta(seconds=s,
                                                  microseconds=rng.randrange(10**6)),
                          rng.choice(users), rng.choice(EVENT_TYPES),
                          round(rng.uniform(0, 500), 2),
                          json.dumps({"k": rng.randrange(100)})))
        events.append(batch)
    adir = os.path.join(out, "arrivals")
    redelivered = 0
    for i in range(nf):
        rows = list(events[i])
        lag = STREAM["redeliver_lag"]
        if i >= lag:
            again = rng.sample(events[i - lag],
                               int(per * STREAM["redeliver_frac"]))
            rows += again
            redelivered += len(again)
        delivered_users.update(r[2] for r in rows)
        t = pa.table({
            "event_id": pa.array([r[0] for r in rows], pa.int64()),
            "ts": pa.array([r[1] for r in rows], UTC_US),
            "user_id": pa.array([r[2] for r in rows], pa.int64()),
            "event_type": [r[3] for r in rows],
            "value": pa.array([r[4] for r in rows], pa.float64()),
            "props": [r[5] for r in rows],
        })
        path = os.path.join(adir, f"part-{i:05d}.parquet")
        bytes_in += _write(t, path)
        files.append({"path": os.path.relpath(path, out), "rows": len(rows)})
    set_arrival_order([os.path.join(out, f["path"]) for f in files])
    manifest = {
        "workload": "stream_ingest", "seed": seed, "arrivals": "arrivals",
        "files": files, "source_bytes": bytes_in,
        "source_rows": sum(f["rows"] for f in files),
        "expected": {
            "distinct_users": len(delivered_users),
            "distinct_events": nf * per,
            "redelivered_events": redelivered,
        },
    }
    return _finish(manifest, out)


def curation_rebuild(seed: int, out: str, threads: int = 1) -> dict:
    """One ``documents.parquet`` in the shape of the sf0.1 documents
    table (doc_id, text, lang, source, n_chars) over the same 30-word
    vocabulary, with planted duplicates: ``exact_frac`` of the corpus
    are verbatim copies of another document's text, ``near_frac`` are
    copies with one word replaced. Rows are shuffled, so copies sit
    apart from their originals."""
    pa.set_cpu_count(max(1, threads))
    rng = random.Random(seed)
    n = CURATION["docs"]
    n_exact = int(n * CURATION["exact_frac"])
    n_near = int(n * CURATION["near_frac"])
    first_id = rng.randrange(1, 10_000) * 100_000

    def text():
        k = rng.randrange(*CURATION["words"])
        return " ".join(rng.choice(WORDS) for _ in range(k))

    docs = [(text(), rng.choices(LANGS, LANG_WEIGHTS)[0],
             f"src{rng.randrange(20)}") for _ in range(n - n_exact - n_near)]
    originals = rng.sample(range(len(docs)), n_exact + n_near)
    copies, planted = [], []
    for j, i in enumerate(originals):
        words = docs[i][0].split()
        if j >= n_exact:
            p = rng.randrange(len(words))
            words[p] = rng.choice([w for w in WORDS if w != words[p]])
        copies.append((" ".join(words), docs[i][1], docs[i][2]))
        if j < n_exact:
            planted.append((i, len(docs) + j))
    docs += copies
    order = list(range(len(docs)))
    rng.shuffle(order)
    doc_id = {old: first_id + pos for pos, old in enumerate(order)}
    rows = [docs[old] for old in order]
    t = pa.table({
        "doc_id": pa.array([first_id + i for i in range(len(rows))],
                           pa.int64()),
        "text": [r[0] for r in rows],
        "lang": [r[1] for r in rows],
        "source": [r[2] for r in rows],
        "n_chars": pa.array([len(r[0]) for r in rows], pa.int64()),
    })
    size = _write(t, os.path.join(out, "documents.parquet"))
    manifest = {
        "workload": "curation_rebuild", "seed": seed,
        "documents": "documents.parquet", "source_bytes": size,
        "source_rows": len(rows),
        "expected": {
            "documents": len(rows),
            "distinct_texts": len({r[0] for r in rows}),
            "exact_duplicate_pairs": sorted(
                [doc_id[a], doc_id[b]] for a, b in planted),
            "near_duplicates": n_near,
        },
    }
    return _finish(manifest, out)


def set_arrival_order(paths, start: float = 1.7e9) -> None:
    """Stamp increasing modification times so the file source picks the
    files up in path order."""
    for i, p in enumerate(paths):
        os.utime(p, (start + i, start + i))


def _finish(manifest: dict, out: str) -> dict:
    with open(os.path.join(out, "manifest.json"), "w") as f:
        json.dump(manifest, f, indent=1, sort_keys=True)
    return manifest


GENERATORS = {"vault_incremental": vault_incremental,
              "stream_ingest": stream_ingest,
              "curation_rebuild": curation_rebuild}


if __name__ == "__main__":
    m = GENERATORS[sys.argv[1]](int(sys.argv[2]), sys.argv[3])
    print(json.dumps(m["expected"], sort_keys=True))
