"""Seeded input generators of the etl-daily and curation-cold workloads
(report-warm reads the fixed tables in data/sf0.01).

Every generator is a pure function of its seed and size arguments: the
same arguments write byte-identical files. Each returns a dict of the
input properties it produced, which the runner records in the result.

  corpus(dir, seed, ...)      documents + embeddings with a stated
                              near-duplicate share, derived from the
                              benchmark's copy of the sf0.01 tables
  deliveries(dir, seed, ...)  daily inbox files for the ETL loop, the
                              per-day fact slices, the customer
                              dimension, and the expected final state
"""
import datetime as dt
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEGMENTS = ["BUILDING", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE"]
EVENT_TYPES = ["click", "signup", "error", "view", "purchase"]


def _write(table, path):
    pq.write_table(table, path, compression="snappy")


def _names(prefix, keys):
    return [f"{prefix}#{k:09d}" for k in keys]


def _money(rng, lo, hi, n):
    return np.round(rng.uniform(lo, hi, n), 2)


def _events(rng, n, n_users, start, days, first_id=0):
    """n events over `days` days from `start`, sorted by time."""
    span_us = int(days * 86400 * 1e6)
    offs = np.sort(rng.integers(0, span_us, n))
    ts = [start + dt.timedelta(microseconds=int(o)) for o in offs]
    types = rng.choice(EVENT_TYPES, n, p=[0.2, 0.1, 0.25, 0.2, 0.25])
    return pa.table({
        "event_id": pa.array(np.arange(first_id, first_id + n), pa.int64()),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n_users, n), pa.int64()),
        "event_type": pa.array(types.tolist(), pa.string()),
        "value": pa.array(np.round(rng.exponential(40.0, n) + 0.01, 2), pa.float64()),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)], pa.string()),
    })


def _customers(rng, n):
    keys = np.arange(n)
    bal = _money(rng, -999.99, 9999.99, n)
    return pa.table({
        "c_custkey": pa.array(keys, pa.int64()),
        "c_name": pa.array(_names("Customer", keys), pa.string()),
        "c_nationkey": pa.array(rng.integers(0, 25, n), pa.int32()),
        "c_acctbal": pa.array(bal, pa.float64()),
        "c_mktsegment": pa.array(rng.choice(SEGMENTS, n).tolist(), pa.string()),
    })


def corpus(out_dir, seed, src_dir, dup_share):
    """A curation corpus derived from the documents and embeddings in
    `src_dir`: every source document, plus near-copies of seeded picks so
    that `dup_share` of the corpus are near-duplicates. A near-copy has
    one word in 25 swapped for another word of the same document, and its
    original's vector plus small noise."""
    rng = np.random.default_rng([seed, 2])
    os.makedirs(out_dir, exist_ok=True)
    docs = pq.read_table(f"{src_dir}/documents.parquet").to_pylist()
    emb = {r["vec_id"]: r for r in pq.read_table(f"{src_dir}/embeddings.parquet").to_pylist()}
    n_src = len(docs)
    n_dup = int(round(n_src * dup_share / (1.0 - dup_share)))
    next_id = max(d["doc_id"] for d in docs) + 1
    out_docs, out_emb = list(docs), [emb[d["doc_id"]] for d in docs]
    for src in rng.choice(n_src, n_dup, replace=True):
        d = docs[int(src)]
        words = d["text"].split(" ")
        for j in rng.choice(len(words), max(1, len(words) // 25), replace=False):
            words[j] = words[int(rng.integers(0, len(words)))]
        text = " ".join(words)
        out_docs.append(dict(d, doc_id=next_id, text=text, n_chars=len(text)))
        e = emb[d["doc_id"]]
        vec = np.asarray(e["embedding"], np.float64) + rng.normal(0.0, 0.005, len(e["embedding"]))
        out_emb.append({"vec_id": next_id, "embedding": vec.astype(np.float32).tolist(),
                        "label": e["label"]})
        next_id += 1
    dtab = pq.read_schema(f"{src_dir}/documents.parquet").remove_metadata()
    etab = pq.read_schema(f"{src_dir}/embeddings.parquet").remove_metadata()
    _write(pa.Table.from_pylist(out_docs, dtab), f"{out_dir}/documents.parquet")
    _write(pa.Table.from_pylist(out_emb, etab), f"{out_dir}/embeddings.parquet")
    n = len(out_docs)
    return {"source_documents": n_src, "documents": n, "near_dup_docs": n_dup,
            "near_dup_share": round(n_dup / n, 4)}


def _dec(v):
    """Decimal-comma rendering, as the legacy delivery format writes it."""
    return f"{v:.2f}".replace(".", ",")


def deliveries(out_dir, seed, days, keys, update_share, insert_share,
               delete_share, reject_share, txn_per_day, events_per_day):
    """`days` business days of deliveries, one subdirectory per day:

      clients_DDMMYYYY.csv   full SCD2 snapshot (';'-delimited, decimal
                             comma) -- each day updates, inserts and
                             deletes the stated shares of keys; a
                             `reject_share` of live keys carry an
                             unparseable balance and must be quarantined
      limits_DDMMYYYY.csv    full SCD1 snapshot of a growing key set
      txn_DDMMYYYY.jsonl     the day's transactions, a few malformed lines
      events.parquet         the day's fact slice for the fraud mart

    plus customer.parquet (the mart's client dimension) and
    expected.json: every SCD2 version with the day it opened and the day
    it closed, every transaction with its day, and the seeded rejects per
    day -- enough to derive the expected warehouse after any prefix of
    the days. The expected SCD1 table is the last delivered limits file."""
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out_dir, exist_ok=True)
    start = dt.date(2024, 1, 3)
    n_users = max(keys // 10, 10)
    _write(_customers(rng, n_users), f"{out_dir}/customer.parquet")

    live = {}                       # key -> balance (cents) of the open version
    tomb = {}                       # key -> last balance of a deleted key
    versions = {}                   # key -> list of [bal, from_day, to_day|None, deleted]
    next_key = 0
    limits = {}
    txn_rows, rejects = {}, {"clients": [], "txn": []}
    next_txn = 0
    ev_next = 0
    n_rows = {"clients": 0, "limits": 0, "txn": 0, "events": 0}
    for d in range(days):
        day = start + dt.timedelta(days=d)
        tag = day.strftime("%d%m%Y")
        ddir = f"{out_dir}/day{d:03d}"
        os.makedirs(ddir, exist_ok=True)
        # --- SCD2 client snapshot
        if d == 0:
            for _ in range(keys):
                live[next_key] = int(rng.integers(-50000, 1000000))
                next_key += 1
            changed = {}
        else:
            ks = np.array(sorted(live))
            picks = rng.random(len(ks))
            dels = set(ks[picks < delete_share].tolist())
            upds = set(ks[(picks >= delete_share) & (picks < delete_share + update_share)].tolist())
            for k in dels:
                tomb[k] = live.pop(k)
            for k in upds:
                live[k] = live[k] + int(rng.integers(1, 50000))
            for _ in range(int(round(keys * insert_share))):
                live[next_key] = int(rng.integers(-50000, 1000000))
                next_key += 1
            changed = {k: "D" for k in dels}
            changed.update({k: "U" for k in upds})
        # rejects: only on keys that exist and stay unchanged today, so a
        # quarantined row leaves the key's open version as it was
        stable = [k for k in sorted(live) if k in versions and k not in changed]
        n_rej = int(round(len(stable) * reject_share))
        rej = set(rng.choice(stable, n_rej, replace=False).tolist()) if n_rej else set()
        lines = ["client_id;segment;balance"]
        for k in sorted(live):
            bal = "n/a" if k in rej else _dec(live[k] / 100.0)
            lines.append(f"{k};{SEGMENTS[k % 5]};{bal}")
        with open(f"{ddir}/clients_{tag}.csv", "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        n_rows["clients"] += len(lines) - 1
        rejects["clients"] += [[k, d] for k in sorted(rej)]
        for k in sorted(live):
            if k in rej:
                continue
            h = versions.setdefault(k, [])
            if h and h[-1][2] is None and not h[-1][3] and h[-1][0] == live[k]:
                continue
            if h and h[-1][2] is None:
                h[-1][2] = d
            h.append([live[k], d, None, False])
        for k, kind in changed.items():
            if kind == "D":
                h = versions[k]
                h[-1][2] = d
                h.append([h[-1][0], d, None, True])
        # --- SCD1 limits: full snapshot, key set only grows
        for _ in range(max(1, keys // 50)):
            limits[len(limits)] = int(rng.integers(10000, 500000))
        for k in rng.choice(len(limits), max(1, len(limits) // 10), replace=False):
            limits[int(k)] = int(rng.integers(10000, 500000))
        lines = ["account_id;credit_limit"] + [f"{k};{_dec(v / 100.0)}" for k, v in sorted(limits.items())]
        with open(f"{ddir}/limits_{tag}.csv", "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")
        n_rows["limits"] += len(lines) - 1
        # --- jsonl transactions, plus a few malformed lines
        out = []
        for _ in range(txn_per_day):
            amt = int(rng.integers(100, 200000))
            c = int(rng.integers(0, next_key))
            out.append(json.dumps({"txn_id": str(next_txn), "client_id": str(c),
                                   "amount": _dec(amt / 100.0)}))
            txn_rows[next_txn] = [c, amt, d]
            next_txn += 1
        n_bad = int(round(txn_per_day * reject_share))
        for i in range(n_bad):
            out.insert(int(rng.integers(0, len(out) + 1)), '{"txn_id": "broken", "amount": ')
        rejects["txn"].append(n_bad)
        with open(f"{ddir}/txn_{tag}.jsonl", "w", encoding="utf-8") as f:
            f.write("\n".join(out) + "\n")
        n_rows["txn"] += len(out)
        # --- the day's fact slice for the fraud mart
        ev = _events(rng, events_per_day, n_users, dt.datetime(day.year, day.month, day.day), 1, ev_next)
        ev_next += events_per_day
        _write(ev, f"{ddir}/events.parquet")
        n_rows["events"] += events_per_day
        day_rows = (len(live) + len(limits) + len(out) + events_per_day)
        with open(f"{ddir}/rows", "w") as f:
            f.write(f"{day_rows}\n")
    expected = {
        "start": start.isoformat(),
        "scd2": {str(k): v for k, v in sorted(versions.items())},
        "txn": {str(k): v for k, v in sorted(txn_rows.items())},
        "rejects": rejects,
    }
    with open(f"{out_dir}/expected.json", "w") as f:
        json.dump(expected, f, sort_keys=True)
    return {"days": days, "keys_per_day": keys, "update_share": update_share,
            "insert_share": insert_share, "delete_share": delete_share,
            "reject_share": reject_share, "jsonl_rows_per_day": txn_per_day,
            "events_per_day": events_per_day, "delivered_rows": n_rows}
