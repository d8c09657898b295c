#!/usr/bin/env python3
"""Compare two sets of benchmark results.

    python3 perfbench/compare.py BASE NEW

BASE and NEW are files or directories of files holding the standard
output of perfbench/run.py runs (several runs may share one file). For
every workload and end-to-end metric it prints each side's median and
quartiles, the share of runs paired by seed that NEW wins, and whether
NEW's median is worse than BASE's by more than the metric's bound in
BENCHMARK.json. For traced runs it diffs the per-layer counts of runs
with the same seed: jobs, stages, tasks and exchanges must match
exactly. When a side holds traced and untraced runs of a workload, it
also prints the tracing overhead on each end-to-end metric.

Exit code 0 when every bound holds and every count matches, 1 otherwise.
"""
import json
import os
import statistics
import sys

EXACT = ("jobs", "stages", "tasks", "exchanges")


def load(path):
    """Runs as (detail, result) pairs, from a file or a directory of files."""
    files = ([os.path.join(path, f) for f in sorted(os.listdir(path))]
             if os.path.isdir(path) else [path])
    runs = []
    for f in files:
        detail = None
        with open(f) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                rec = json.loads(line)
                if rec.get("perfbench") == "detail":
                    detail = rec
                elif "correct" in rec and detail is not None:
                    runs.append((detail, rec))
                    detail = None
    return runs


def quartiles(vs):
    if len(vs) == 1:
        return vs[0], vs[0], vs[0]
    q = statistics.quantiles(vs, n=4)
    return q[0], statistics.median(vs), q[2]


def by_workload(runs, traced):
    out = {}
    for d, r in runs:
        if d["trace"] == traced:
            out.setdefault(d["workload"], []).append((d, r))
    return out


def worse_by(base, new, better):
    """How much worse NEW is than BASE, as a share of BASE (negative: better)."""
    if base == 0:
        return 0.0
    return (new - base) / base if better == "lower" else (base - new) / base


def main():
    if len(sys.argv) != 3:
        print(__doc__.strip().splitlines()[2], file=sys.stderr)
        sys.exit(2)
    here = os.path.dirname(os.path.abspath(__file__))
    with open(os.path.join(here, "..", "BENCHMARK.json")) as f:
        bench = json.load(f)
    base, new = load(sys.argv[1]), load(sys.argv[2])
    ok = True

    print("end-to-end (untraced runs)")
    b_w, n_w = by_workload(base, 0), by_workload(new, 0)
    for w in sorted(set(b_w) & set(n_w)):
        b_runs, n_runs = b_w[w], n_w[w]
        fails = sum(r["failed"] for _, r in b_runs + n_runs)
        wrong = sum(not r["correct"] for _, r in b_runs + n_runs)
        print(f"\n{w}: {len(b_runs)} base runs, {len(n_runs)} new runs,"
              f" {wrong} incorrect, {fails} failed calls")
        if wrong:
            ok = False
        b_seed = {d["seed"]: r for d, r in b_runs}
        n_seed = {d["seed"]: r for d, r in n_runs}
        seeds = sorted(set(b_seed) & set(n_seed))
        pairs = ([(b_seed[s], n_seed[s]) for s in seeds] if seeds
                 else list(zip([r for _, r in b_runs], [r for _, r in n_runs])))
        print(f"  {'metric':14s} {'base q1/med/q3':>32s} {'new q1/med/q3':>32s}"
              f" {'won':>6s} {'change':>8s} {'bound':>6s}  verdict")
        for m in bench["end_to_end"]:
            name, better, bound = m["name"], m["better"], m["bound"]
            bv = [r["metrics"][name]["value"] for _, r in b_runs if name in r["metrics"]]
            nv = [r["metrics"][name]["value"] for _, r in n_runs if name in r["metrics"]]
            if not bv or not nv:
                print(f"  {name:14s} missing")
                ok = False
                continue
            bq, nq = quartiles(bv), quartiles(nv)
            won = [(p[1]["metrics"][name]["value"] < p[0]["metrics"][name]["value"])
                   if better == "lower" else
                   (p[1]["metrics"][name]["value"] > p[0]["metrics"][name]["value"])
                   for p in pairs]
            change = worse_by(bq[1], nq[1], better)
            spread = (bq[2] - bq[0]) / bq[1] if bq[1] else 0.0
            if change > bound:
                verdict = "REGRESSION"
                ok = False
            elif spread > bound:
                verdict = "unresolved (base spread above bound)"
            else:
                verdict = "ok"
            fmt = lambda q: "/".join(f"{x:.4g}" for x in q)
            print(f"  {name:14s} {fmt(bq):>32s} {fmt(nq):>32s}"
                  f" {sum(won) / max(1, len(won)):6.0%} {-change:+8.1%} {bound:6.0%}  {verdict}")

    print("\nper-layer counts (traced runs, same seed)")
    b_t, n_t = by_workload(base, 1), by_workload(new, 1)
    compared = 0
    for w in sorted(set(b_t) & set(n_t)):
        b_seed = {d["seed"]: d for d, _ in b_t[w]}
        for d, _ in n_t[w]:
            bd = b_seed.get(d["seed"])
            if bd is None:
                continue
            compared += 1
            diffs = [(k, bd["per_layer"][k]["value"], v["value"])
                     for k, v in d["per_layer"].items()
                     if k.split(".")[-1] in EXACT and bd["per_layer"].get(k, {}).get("value") != v["value"]]
            print(f"  {w} seed {d['seed']}: "
                  + ("counts match" if not diffs else f"{len(diffs)} counts differ"))
            for k, a, b in diffs:
                print(f"    {k}: {a:g} -> {b:g}")
            ok = ok and not diffs
    if not compared:
        print("  no traced runs with a common seed")

    print("\ntracing overhead (traced median / untraced median, per side)")
    for label, runs in (("base", base), ("new", new)):
        un, tr = by_workload(runs, 0), by_workload(runs, 1)
        for w in sorted(set(un) & set(tr)):
            parts = []
            for m in bench["end_to_end"]:
                u = [d["metrics"][m["name"]]["value"] for d, _ in un[w] if m["name"] in d["metrics"]]
                t = [d["metrics"][m["name"]]["value"] for d, _ in tr[w] if m["name"] in d["metrics"]]
                if u and t and statistics.median(u):
                    parts.append(f"{m['name']} {statistics.median(t) / statistics.median(u):.3f}")
            print(f"  {label} {w}: " + ", ".join(parts))

    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
