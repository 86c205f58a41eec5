#!/usr/bin/env python3
"""Paired A/B of the benchmark: runs `perfbench/run.py` alternately in
two checkouts (a parent and a change), N pairs, and prints each side's
median and quartiles per end-to-end metric, the change's win fraction,
and the verdict of the choosing-metrics guide, section 8: a gain is
claimed only when the change wins at least nine tenths of the pairs
(ties count for neither side) and the medians differ by more than the
parent's interquartile distance.

Usage (from anywhere; both dirs are full checkouts, e.g. the parent
exported with `git archive <parent> | tar -x -C <dir>`):

    python3 tools/perf_pairs.py --parent <dir> --change <dir> \\
        --workload pipeline_cadence --pairs 10 --seed 201 [--trace 0]

Pair k uses seed `--seed + k` on both sides and runs the parent first
when k is even, the change first when k is odd. Every run lasts the
benchmark's own `run_seconds` (BENCHMARK.json). Each run's result line
is appended to `--log` (JSON lines) with its workload, trace flag and
seed, so a long session can be resumed or re-analysed with
`--analyse-only`: a run is skipped, and analysed, only when a logged
record matches all three and the side.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = json.load(open(os.path.join(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))), "BENCHMARK.json")))
BETTER = {m["name"]: m["better"] for m in BENCH["end_to_end"]}


def run(checkout, workload, seed, trace):
    """One benchmark run; returns its parsed result line (or None)."""
    t0 = time.time()
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(BENCH["run_seconds"]),
         "--trace", str(trace)],
        cwd=checkout, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    result = None
    for line in p.stdout.splitlines():
        if line.startswith("{"):
            try:
                result = json.loads(line)
            except ValueError:
                pass
    if result is not None:
        result["wall_s"] = time.time() - t0
        result["exit"] = p.returncode
    return result


def quartiles(xs):
    if len(xs) < 2:
        return (xs[0], xs[0]) if xs else (float("nan"), float("nan"))
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def analyse(records):
    pairs = {}
    for r in records:
        pairs.setdefault(r["seed"], {})[r["side"]] = r["result"]
    whole = [p for _, p in sorted(pairs.items())
             if "parent" in p and "change" in p and p["parent"] and p["change"]]
    print(f"{len(whole)} complete pairs")
    for side in ("parent", "change"):
        bad = [p[side] for p in whole if not p[side].get("correct", False)
               or p[side].get("failed", 0)]
        if bad:
            print(f"  {side}: {len(bad)} runs not correct or with failed operations")
    metrics = sorted({m for p in whole for m in p["parent"]["metrics"]})
    for m in metrics:
        par = [p["parent"]["metrics"][m]["value"] for p in whole]
        chg = [p["change"]["metrics"][m]["value"] for p in whole]
        lower = BETTER.get(m, "lower") == "lower"
        wins = sum(1 for a, b in zip(par, chg) if (b < a if lower else b > a))
        ties = sum(1 for a, b in zip(par, chg) if a == b)
        mp, mc = statistics.median(par), statistics.median(chg)
        (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
        iqr = p3 - p1
        better = (mc < mp) if lower else (mc > mp)
        gain = better and wins >= 0.9 * len(whole) and abs(mc - mp) > iqr
        rel = (mc - mp) / mp * 100 if mp else float("nan")
        print(f"{m}: parent median {mp:.4g} [q1 {p1:.4g}, q3 {p3:.4g}]  "
              f"change median {mc:.4g} [q1 {c1:.4g}, q3 {c3:.4g}]  "
              f"({rel:+.1f} % of parent)  change wins {wins}/{len(whole)}"
              f"{f' ({ties} ties)' if ties else ''}  parent IQR {iqr:.4g}  "
              f"verdict: {'GAIN' if gain else 'no gain claimed'}")
        print(f"  runs parent {[round(x, 4) for x in par]}")
        print(f"  runs change {[round(x, 4) for x in chg]}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload", default="pipeline_cadence")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=201)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", default="perf_pairs.jsonl")
    ap.add_argument("--analyse-only", action="store_true")
    a = ap.parse_args()

    records = []
    if os.path.exists(a.log):
        records = [json.loads(x) for x in open(a.log) if x.strip()]
    if not a.analyse_only:
        if not (a.parent and a.change):
            sys.exit("--parent and --change are required unless --analyse-only")
        done = {(r["workload"], r["trace"], r["seed"], r["side"]) for r in records}
        for k in range(a.pairs):
            order = ("parent", "change") if k % 2 == 0 else ("change", "parent")
            for side in order:
                if (a.workload, a.trace, a.seed + k, side) in done:
                    continue
                res = run(getattr(a, side), a.workload, a.seed + k, a.trace)
                rec = {"pair": k, "side": side, "seed": a.seed + k,
                       "workload": a.workload, "trace": a.trace, "result": res}
                records.append(rec)
                with open(a.log, "a") as f:
                    f.write(json.dumps(rec) + "\n")
                summary = ({m: round(v["value"], 4) for m, v in res["metrics"].items()}
                           if res else "no result")
                print(f"pair {k} {side} seed {a.seed + k}: {summary}", flush=True)
    seeds = range(a.seed, a.seed + a.pairs)
    analyse([r for r in records if r["workload"] == a.workload
             and r["trace"] == a.trace and r["seed"] in seeds])


if __name__ == "__main__":
    main()
