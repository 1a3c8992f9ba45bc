#!/usr/bin/env python3
"""Compare benchmark runs.

Every run of perfbench/run.py keeps its full result as
.bench_build/results/<workload>-<size>-seed<n>-trace<t>.json. Copy that
directory away after the runs of one commit, then:

    # A/B: one row per (metric, workload), parent against change
    python3 perfbench/compare.py ab PARENT_DIR CHANGE_DIR

    # run-to-run spread of one commit's runs against the bounds
    python3 perfbench/compare.py spread DIR

    # which per-layer counts two traced run sets repeated exactly
    python3 perfbench/compare.py counts DIR_A DIR_B

The A/B verdict: a gain needs the change to win at least 9 of 10 pairs (ties count for
neither; runs pair by workload and seed) and the medians to differ by
more than the parent's interquartile range. A metric whose parent spread
is wider than its bound is "unresolved" unless every change run beats
every parent run. A median worse than the parent's by more than the bound
is a regression. Ratios are change / parent, with the parent median as
the base.
"""
import glob
import json
import os
import statistics
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))


def load(d, trace=0):
    """{(workload, seed): result} of the full-size runs in a directory."""
    out = {}
    for f in sorted(glob.glob(os.path.join(d, "*.json"))):
        with open(f) as fh:
            r = json.load(fh)
        i = r.get("info", {})
        if i.get("size") == "full" and i.get("trace") == trace:
            out[(i["workload"], i["seed"])] = r
    return out


def spec():
    with open(os.path.join(os.path.dirname(BENCH), "BENCHMARK.json")) as f:
        s = json.load(f)
    return {m["name"]: m for m in s["end_to_end"]}


def quart(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, q2, q3


def values(runs, workload, metric, key="e2e"):
    return {seed: r[key][metric]["value"] for (w, seed), r in runs.items()
            if w == workload and metric in r[key]}


# the printed, unbounded metrics where more is better
HIGHER = {"page_rps", "ingest_pps"}


def ab(parent_dir, change_dir):
    p_runs, c_runs = load(parent_dir), load(change_dir)
    bounds = spec()
    workloads = sorted({w for w, _ in p_runs} & {w for w, _ in c_runs})
    print(f"{'workload':12s} {'metric':14s} {'parent median [q1, q3]':>30s} "
          f"{'change median [q1, q3]':>30s} {'ratio':>7s} {'wins':>6s}  verdict")
    for w in workloads:
        named = sorted({n for (x, _), r in p_runs.items() if x == w for n in r["named"]})
        rows = [(n, m, "e2e") for n, m in bounds.items()] + [
            (n, {"better": "higher" if n in HIGHER else "lower", "bound": None}, "named")
            for n in named]
        for name, m, key in rows:
            p, c = values(p_runs, w, name, key), values(c_runs, w, name, key)
            seeds = sorted(set(p) & set(c))
            if not seeds:
                continue
            pq, cq = quart(list(p.values())), quart(list(c.values()))
            lower = m["better"] == "lower"
            better = (lambda a, b: a < b) if lower else (lambda a, b: a > b)
            wins = sum(better(c[s], p[s]) for s in seeds)
            base = pq[1]
            ratio = cq[1] / base if base else float("nan")
            spread = (pq[2] - pq[0]) / base if base else float("inf")
            worse_by = (cq[1] - base) / base if lower else (base - cq[1]) / base
            all_better = all(better(x, y) for x in c.values() for y in p.values())
            if wins >= 0.9 * len(seeds) and abs(cq[1] - base) > pq[2] - pq[0]:
                verdict = "better"
            elif m["bound"] is None:
                verdict = f"unbounded; no gain claimed ({worse_by:+.1%} worse)"
            elif spread > m["bound"] and not all_better:
                verdict = f"unresolved (parent spread {spread:.1%} > bound {m['bound']:.0%})"
            elif worse_by > m["bound"]:
                verdict = f"REGRESSION ({worse_by:+.1%} worse, bound {m['bound']:.0%})"
            else:
                verdict = f"no gain claimed; within bound ({worse_by:+.1%} worse)"
            label = name if key == "e2e" else "  " + name
            print(f"{w:12s} {label:14s} {fmt(pq):>30s} {fmt(cq):>30s} {ratio:7.3f} "
                  f"{wins:>2d}/{len(seeds):<3d}  {verdict}")
    print("ratio = change median / parent median; runs pair by (workload, seed)")


def fmt(q):
    return f"{q[1]:.4g} [{q[0]:.4g}, {q[2]:.4g}]"


def spread(d):
    runs = load(d)
    bounds = spec()
    ok = True
    for w in sorted({w for w, _ in runs}):
        n = sum(1 for k in runs if k[0] == w)
        bad = sum(1 for (x, _), r in runs.items() if x == w and not r["correct"])
        print(f"{w}: {n} runs, {bad} with failed checks")
        for name, m in bounds.items():
            xs = list(values(runs, w, name).values())
            if not xs:
                continue
            q1, q2, q3 = quart(xs)
            s = (q3 - q1) / q2 if q2 else float("inf")
            limit = m["bound"] / 3
            flag = "ok" if s < limit or name == "setup_s" else "WIDE"
            ok &= flag == "ok"
            print(f"  {name:14s} median {q2:10.4g} {m['unit']:5s} IQR/median {s:6.2%} "
                  f"(bound {m['bound']:.0%}, a third {limit:.1%}) {flag}")
    return ok


def counts(dir_a, dir_b):
    a, b = load(dir_a, trace=1), load(dir_b, trace=1)
    for key in sorted(set(a) & set(b)):
        la, lb = a[key]["layer"], b[key]["layer"]
        names = sorted(n for n in la if la[n]["unit"] == "count" and n in lb)
        same = [n for n in names if la[n]["value"] == lb[n]["value"]]
        diff = [f"{n} ({la[n]['value']:g} vs {lb[n]['value']:g})" for n in names
                if n not in same]
        print(f"{key[0]} seed {key[1]}: repeated exactly: {', '.join(same) or '-'}")
        print(f"{key[0]} seed {key[1]}: differed: {', '.join(diff) or '-'}")


def main():
    if len(sys.argv) == 4 and sys.argv[1] == "ab":
        ab(sys.argv[2], sys.argv[3])
    elif len(sys.argv) == 3 and sys.argv[1] == "spread":
        sys.exit(0 if spread(sys.argv[2]) else 1)
    elif len(sys.argv) == 4 and sys.argv[1] == "counts":
        counts(sys.argv[2], sys.argv[3])
    else:
        sys.exit(__doc__)


if __name__ == "__main__":
    main()
