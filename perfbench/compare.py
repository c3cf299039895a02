#!/usr/bin/env python3
"""Compare two sets of benchmark runs, per workload and end-to-end metric.

    # run N alternating pairs, parent and change each a source checkout
    python3 perfbench/compare.py run PARENT CHANGE OUT [--pairs 10] [--seed0 1]
    # judge the records `run` left in OUT/parent and OUT/change
    python3 perfbench/compare.py report OUT

`run` makes the pairs with the same seeds on both sides and alternates which
side goes first. `report` applies, per workload and metric:
  - gain: the change wins at least 9/10 of the pairs (ties count for
    neither) and the medians differ by more than the parent's own spread
    (the distance between its quartiles);
  - regression bound: the change's median may be worse than the parent's by
    at most the metric's `bound` from BENCHMARK.json; where the parent's
    spread (as a share of its median) exceeds the bound the metric is
    "unresolved", unless every change run beats every parent run;
  - failures: the change may not fail a larger share of requests.
"""
import argparse
import glob
import json
import os
import shutil
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def quartiles(v):
    if len(v) < 2:
        return v[0], v[0], v[0]
    q1, q2, q3 = statistics.quantiles(v, n=4)
    return q1, q2, q3


def load(d):
    recs = {}
    for f in glob.glob(os.path.join(d, "*.trace0.json")):
        with open(f) as fh:
            r = json.load(fh)
        recs.setdefault(r["workload"], {})[r["seed"]] = r
    return recs


def judge(metric, parent, change):
    """One metric's verdict from paired values (parent[i], change[i])."""
    sign = 1 if metric["better"] == "higher" else -1
    pq1, pmed, pq3 = quartiles(parent)
    _, cmed, _ = quartiles(change)
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    worse = -sign * (cmed - pmed) / pmed if pmed else 0.0
    spread = (pq3 - pq1) / pmed if pmed else 0.0
    if wins >= 0.9 * len(parent) and sign * (cmed - pmed) > pq3 - pq1:
        verdict = "gain"
    elif spread > metric["bound"] and not (
            min(sign * c for c in change) > max(sign * p for p in parent)):
        verdict = "unresolved"
    elif worse > metric["bound"]:
        verdict = "regression"
    else:
        verdict = "within bound"
    return {"parent_median": pmed, "change_median": cmed, "parent_spread": spread,
            "worse_by": worse, "wins": f"{wins}/{len(parent)}", "verdict": verdict}


def report(out, bench):
    parent, change = load(os.path.join(out, "parent")), load(os.path.join(out, "change"))
    ok = True
    for w in sorted(set(parent) & set(change)):
        seeds = sorted(set(parent[w]) & set(change[w]))
        print(f"\n{w}: {len(seeds)} pairs")
        fail = {side: sum(recs[w][s]["failed"] for s in seeds)
                / max(1, sum(recs[w][s]["attempted"] for s in seeds))
                for side, recs in (("parent", parent), ("change", change))}
        more_failures = fail["change"] > fail["parent"]
        print(f"  failure ratio parent {fail['parent']:.4f} change {fail['change']:.4f}"
              + ("  MORE FAILURES" if more_failures else ""))
        ok &= not more_failures
        for m in bench["end_to_end"]:
            p = [parent[w][s]["metrics"][m["name"]]["value"] for s in seeds]
            c = [change[w][s]["metrics"][m["name"]]["value"] for s in seeds]
            v = judge(m, p, c)
            ok &= v["verdict"] != "regression"
            print(f"  {m['name']:<14} parent {v['parent_median']:.6g} change "
                  f"{v['change_median']:.6g} {m['unit']:<5} worse_by {v['worse_by']:+.3f} "
                  f"(bound {m['bound']}) spread {v['parent_spread']:.3f} wins {v['wins']}"
                  f"  {v['verdict']}")
    return 0 if ok else 1


def run(parent, change, out, pairs, seed0, bench):
    for side in ("parent", "change"):
        os.makedirs(os.path.join(out, side), exist_ok=True)
    for k in range(pairs):
        order = [("parent", parent), ("change", change)]
        if k % 2:
            order.reverse()
        for w in bench["workloads"]:
            for side, root in order:
                seed = seed0 + k
                cmd = [sys.executable, "perfbench/run.py", "--workload", w["name"],
                       "--seed", str(seed), "--seconds", str(bench["run_seconds"]),
                       "--trace", "0"]
                subprocess.run(cmd, cwd=root, check=True, stdout=subprocess.DEVNULL)
                name = f"{w['name']}.seed{seed}.trace0.json"
                shutil.copy(os.path.join(root, ".bench_build", "perfbench", "results", name),
                            os.path.join(out, side, name))
                print(f"pair {k} {w['name']} {side} done", flush=True)


def main():
    ap = argparse.ArgumentParser()
    sub = ap.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("parent")
    r.add_argument("change")
    r.add_argument("out")
    r.add_argument("--pairs", type=int, default=10)
    r.add_argument("--seed0", type=int, default=1)
    rep = sub.add_parser("report")
    rep.add_argument("out")
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    if a.cmd == "run":
        run(a.parent, a.change, a.out, a.pairs, a.seed0, bench)
        return 0
    return report(a.out, bench)


if __name__ == "__main__":
    sys.exit(main())
