#!/usr/bin/env python3
"""Compare two sets of benchmark runs, e.g. the parent commit and a change.

    python3 perfbench/compare.py BASE_DIR CHANGE_DIR

Each directory holds the full results run.py writes to perfbench/out/
(<workload>-seed<n>-trace<0|1>.json). For every workload and end-to-end
metric of BENCHMARK.json it prints both sides' medians and quartiles,
the share of same-seed pairs the change wins, and a verdict:

  improved    the change wins at least 9 of 10 pairs (ties count for
              neither) and the medians differ by more than the base's
              quartile spread
  worse       the change's median is worse than the base's by more than
              the metric's bound
  unresolved  the base's own spread is wider than the bound and not every
              change run beats every base run
  unchanged   otherwise

Where a side has traced runs of a workload, it also prints the tracing
overhead (traced minus untraced medians); where both sides do, it names
the layer whose mean self time per op moved most.
"""
import glob
import json
import os
import statistics
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def load(d):
    runs = []
    for p in sorted(glob.glob(os.path.join(d, "*.json"))):
        if p.endswith(".spans.json"):
            continue
        with open(p) as f:
            runs.append(json.load(f))
    return runs


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0]
    q = statistics.quantiles(v, n=4)
    return q[0], q[2]


def verdict(base, change, better, bound):
    """base/change: {seed: value}. Returns the row for one metric."""
    a, b = sorted(base.values()), sorted(change.values())
    ma, mb = statistics.median(a), statistics.median(b)
    qa, qb = quartiles(a), quartiles(b)
    sign = 1.0 if better == "lower" else -1.0    # positive = worse
    pairs = [(base[s], change[s]) for s in base if s in change]
    wins = sum(1 for x, y in pairs if sign * (y - x) < 0)
    win_ratio = wins / len(pairs) if pairs else float("nan")
    worse_by = sign * (mb - ma) / ma if ma else float("nan")
    spread = (qa[1] - qa[0]) / ma if ma else float("nan")
    all_better = all(sign * (y - x) < 0 for x in a for y in b)
    if pairs and win_ratio >= 0.9 and sign * (ma - mb) > qa[1] - qa[0]:
        v = "improved"
    elif worse_by > bound and (spread <= bound or all(sign * (y - x) > 0 for x in a for y in b)):
        v = "worse"
    elif spread > bound and not all_better:
        v = "unresolved"
    else:
        v = "unchanged"
    return ma, qa, mb, qb, win_ratio, len(pairs), worse_by, v


def by_workload(runs, trace):
    out = {}
    for r in runs:
        if r["trace"] == trace:
            out.setdefault(r["workload"], []).append(r)
    return out


def main():
    if len(sys.argv) != 3:
        print(__doc__)
        return 2
    bench = json.load(open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")))
    base, change = load(sys.argv[1]), load(sys.argv[2])
    bw, cw = by_workload(base, 0), by_workload(change, 0)
    print("workload metric | base median [q1 q3] | change median [q1 q3] | "
          "pair wins | worse by | bound | verdict")
    for w in sorted(set(bw) & set(cw)):
        for m in bench["end_to_end"]:
            n = m["name"]
            a = {r["seed"]: r["end_to_end"][n] for r in bw[w]}
            b = {r["seed"]: r["end_to_end"][n] for r in cw[w]}
            ma, qa, mb, qb, wr, np_, wb, v = verdict(a, b, m["better"], m["bound"])
            print(f"{w} {n} | {ma:.5g} [{qa[0]:.5g} {qa[1]:.5g}] | {mb:.5g} [{qb[0]:.5g} {qb[1]:.5g}] | "
                  f"{wr:.2f} of {np_} | {wb:+.3f} | {m['bound']} | {v}")

    for label, runs in (("base", base), ("change", change)):
        plain, traced = by_workload(runs, 0), by_workload(runs, 1)
        for w in sorted(set(plain) & set(traced)):
            diffs = []
            # op_tail_s is left out: it is undefined on runs of ten ops or fewer
            for n in ("op_p50_s", "ops_per_s", "rows_per_s", "storage_mb"):
                t = statistics.median(r["end_to_end"][n] for r in traced[w])
                u = statistics.median(r["end_to_end"][n] for r in plain[w])
                diffs.append(f"{n} {t - u:+.4g} ({(t - u) / u:+.1%})" if u else f"{n} {t - u:+.4g}")
            print(f"tracing overhead {label} {w}: " + ", ".join(diffs))

    bt, ct = by_workload(base, 1), by_workload(change, 1)
    for w in sorted(set(bt) & set(ct)):
        layers = [k for k in bt[w][0]["layers"] if k.startswith("self.")]
        moved = []
        for k in layers:
            a = statistics.median(r["layers"][k] for r in bt[w])
            b = statistics.median(r["layers"][k] for r in ct[w])
            moved.append((abs(b - a), k, a, b))
        moved.sort(reverse=True)
        wall = statistics.median(r["end_to_end"]["op_p50_s"] for r in bt[w])
        d, k, a, b = moved[0]
        print(f"layer moved most on {w}: {k} {a:.4g} -> {b:.4g} s per op "
              f"({(b - a) / wall:+.1%} of the base median op)")
        print("  all layers: " + ", ".join(f"{k} {a:.4g}->{b:.4g}" for _, k, a, b in
                                           sorted(moved, key=lambda x: x[1])))
    return 0


if __name__ == "__main__":
    sys.exit(main())
