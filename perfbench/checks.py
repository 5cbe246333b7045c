"""Output checks the runner makes after the benchmark JVM exits.

etl(...)     the warehouse and quarantine against the generator's
             expected state after the processed days
oracle(...)  each dumped registry result against DuckDB running the
             query's oracle SQL on the same generated tables

Each returns a list of (op name or None, message) failures; an op name
marks every op of that name as failed.
"""
import datetime as dt
import glob
import json
import math
import os

import pyarrow.parquet as pq

SEGMENTS = ["BUILDING", "HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "FURNITURE"]
OPEN_END = dt.datetime(9999, 12, 31)
MICRO = dt.timedelta(microseconds=1)


def _rows(path):
    if not os.path.isdir(path):
        return []
    return pq.read_table(path).to_pylist()


def _naive(ts):
    if ts is not None and ts.tzinfo is not None:
        ts = ts.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return ts


def etl(rep_dir, days_done):
    exp = json.load(open(f"{rep_dir}/expected.json"))
    start = dt.datetime.fromisoformat(exp["start"])
    wh, qtn = f"{rep_dir}/wh", f"{rep_dir}/qtn"
    day = lambda d: start + dt.timedelta(days=d)
    fails = []

    want = set()
    for k, versions in exp["scd2"].items():
        for bal, frm, to, deleted in versions:
            if frm >= days_done:
                continue
            end = day(to) - MICRO if to is not None and to < days_done else OPEN_END
            want.add((k, SEGMENTS[int(k) % 5], bal, day(frm), end, deleted))
    got = {(r["client_id"], r["segment"], round(r["balance"] * 100), _naive(r["effective_from"]),
            _naive(r["effective_to"]), r["deleted_flg"]) for r in _rows(f"{wh}/dwh_clients")}
    if got != want:
        fails.append((None, f"dwh_clients: {len(got - want)} unexpected, {len(want - got)} missing versions"))
    opened = {}
    for k, _, _, _, end, _ in want:
        opened[k] = opened.get(k, 0) + (end == OPEN_END)
    if any(v != 1 for v in opened.values()):
        fails.append((None, "expected state has a key without exactly one open version"))

    tag = day(days_done - 1).strftime("%d%m%Y")
    last = f"{rep_dir}/inbox/archive/limits_{tag}.csv.backup"
    with open(last, encoding="utf-8") as f:
        lines = f.read().splitlines()[1:]
    want = {(a, round(float(v.replace(",", ".")) * 100)) for a, v in (ln.split(";") for ln in lines)}
    got = {(r["account_id"], round(r["credit_limit"] * 100)) for r in _rows(f"{wh}/dwh_limits")}
    if got != want:
        fails.append((None, f"dwh_limits differs from the last delivery {os.path.basename(last)}"))

    want = {(k, str(c), a) for k, (c, a, d) in exp["txn"].items() if d < days_done}
    got = {(r["txn_id"], r["client_id"], round(r["amount"] * 100)) for r in _rows(f"{wh}/dwh_txn")}
    if got != want:
        fails.append((None, f"dwh_txn: {len(got - want)} unexpected, {len(want - got)} missing rows"))

    want = {(str(k), d + 1) for k, d in exp["rejects"]["clients"] if d < days_done}
    got = {(r["client_id"], r["run_id"]) for r in _rows(f"{qtn}/dwh_clients")}
    if got != want:
        fails.append((None, f"client quarantine holds {len(got)} rows, {len(want)} rejects were seeded"))
    want = sum(exp["rejects"]["txn"][:days_done])
    got = len(_rows(f"{qtn}/dwh_txn"))
    if got != want:
        fails.append((None, f"transaction quarantine holds {got} rows, {want} rejects were seeded"))
    if os.path.isdir(f"{qtn}/dwh_limits"):
        fails.append((None, "limits quarantine exists but no limits rejects were seeded"))
    return fails


def _norm(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    if isinstance(v, dt.datetime):
        return _naive(v).isoformat()
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if v is None or isinstance(v, (int, str, bool)):
        return v
    return str(v)


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_norm(r[i]) for i in order) for r in rows]
    return sorted(out, key=lambda t: tuple((x is None, str(type(x)), str(x)) for x in t))


def oracle(tables_dir, dump_dir):
    import duckdb
    meta = json.load(open(f"{dump_dir}/oracle.json"))
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET memory_limit='1GB'")
    con.execute(f"SET temp_directory='{dump_dir}/duckdb-tmp'")
    for p in sorted(glob.glob(f"{tables_dir}/*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    fails = []
    for name, sql in sorted(meta["sql"].items()):
        tbl = pq.read_table(f"{dump_dir}/{name}")
        scols = tbl.column_names
        srows = [tuple(d[c] for c in scols) for d in tbl.to_pylist()]
        try:
            otbl = con.execute(sql).arrow()
        except Exception as e:
            fails.append((name, f"{name}: oracle SQL failed: {e}"))
            continue
        ocols = otbl.column_names
        orows = [tuple(d[c] for c in ocols) for d in otbl.to_pylist()]
        if sorted(scols) != sorted(ocols):
            fails.append((name, f"{name}: columns {sorted(scols)} vs oracle {sorted(ocols)}"))
        elif len(srows) != meta["rows"][name]:
            fails.append((name, f"{name}: dumped {len(srows)} rows, fingerprint counted {meta['rows'][name]}"))
        elif _canon(srows, scols) != _canon(orows, ocols):
            fails.append((name, f"{name}: rows differ from the oracle ({len(srows)} vs {len(orows)} rows)"))
    return fails, len(meta["sql"])
