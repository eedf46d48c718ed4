#!/usr/bin/env python3
"""Alternating parent/change benchmark pairs, and the claim rule applied to them.

    python3 tools/pairs.py --parent ../parent --change . --workload doc_read \\
        --seeds 8821-8830 [--seconds 10] [--trace 0] [--log pairs.jsonl]
    python3 tools/pairs.py --report pairs.jsonl

Runs `perfbench/run.py` of each checkout once per seed, the two checkouts
alternating (the one that goes first swaps every pair, so drift over the
session does not favour either side). Each checkout builds from its own
sources into its own `target/`: never copy one checkout's sbt `target/` into
another, zinc then deletes the first checkout's classes.

For every metric the workload prints (the end-to-end ones of BENCHMARK.json
with --trace 0), prints parent and change as median [Q1, Q3], the pairs the
change wins (strictly better in the metric's direction), the median gap
against the parent's IQR, and whether the claim rule holds: the change wins at
least 9 of 10 pairs and its median is better by more than the parent's IQR.
A pair where either side returned wrong answers is excluded from all of this,
and no claim is met on a set that excluded one.
Then each run's `steal_pct` (CPU time the hypervisor gave to other guests).
Every run's result lines are appended to --log, which --report reprints.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def run_one(checkout, workload, seed, seconds, trace):
    """One perfbench run; its context and result records, or an error string."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True,
                          stdin=subprocess.DEVNULL)
    recs = [json.loads(l) for l in proc.stdout.splitlines() if l.startswith("{")]
    ctx = next((r for r in recs if "context" in r), None)
    res = next((r for r in recs if "metrics" in r), None)
    if proc.returncode != 0 or ctx is None or res is None:
        return {"error": f"exit {proc.returncode}: {proc.stderr.strip()[-300:]}"}
    return {"context": ctx["context"], "result": res}


def quartiles(xs):
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    return {m["name"]: m["better"] for m in bench["end_to_end"] + bench["per_layer"]}


def value(run, metric):
    return run["result"]["metrics"][metric]["value"]


def report(records, out=sys.stdout):
    better = directions()
    by_seed = {}
    for r in records:
        by_seed.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r
    for workload in sorted({w for w, _ in by_seed}):
        runs = [(s, v) for (w, s), v in sorted(by_seed.items()) if w == workload]
        complete = [(s, v["parent"], v["change"]) for s, v in runs
                    if all("result" in v.get(side, {}) for side in ("parent", "change"))]
        # a side with wrong answers measured something else: its pair is
        # left out, and no claim stands on a set that lost one
        ok = [t for t in complete if not (t[1]["result"]["failed"] or t[2]["result"]["failed"])]
        wrong = len(complete) - len(ok)
        print(f"== {workload}: {len(ok)} complete pairs of {len(runs)} seeds"
              + (f", {wrong} excluded for wrong answers" if wrong else ""), file=out)
        for s, v in runs:
            for side in ("parent", "change"):
                r = v.get(side)
                if r is None:
                    print(f"   seed {s} {side}: not run", file=out)
                elif "error" in r:
                    print(f"   seed {s} {side}: run failed: {r['error']}", file=out)
                elif r["result"]["failed"]:
                    print(f"   seed {s} {side}: {r['result']['failed']} wrong answers"
                          + (", pair excluded" if s in {t[0] for t in complete} else ""), file=out)
        if not ok:
            continue
        print(f"   {'metric':<28} {'parent median [Q1, Q3]':<30} {'change median [Q1, Q3]':<30}"
              f" {'wins':>6} {'gap':>9} {'p.IQR':>9}  claim", file=out)
        for m in [m for m in ok[0][1]["result"]["metrics"] if m in better]:
            pv = [value(p, m) for _, p, _ in ok]
            cv = [value(c, m) for _, _, c in ok]
            sign = 1 if better[m] == "lower" else -1
            wins = sum(1 for a, b in zip(pv, cv) if sign * (a - b) > 0)
            pq1, pmed, pq3 = quartiles(pv)
            cq1, cmed, cq3 = quartiles(cv)
            gap = sign * (pmed - cmed)  # positive: the change is better
            iqr = pq3 - pq1
            claim = "met" if not wrong and wins * 10 >= 9 * len(ok) and gap > iqr else "not met"
            change = f"{100 * (cmed - pmed) / pmed:+.1f}%" if pmed else ""
            print(f"   {m:<28} {f'{pmed:.4g} [{pq1:.4g}, {pq3:.4g}]':<30}"
                  f" {f'{cmed:.4g} [{cq1:.4g}, {cq3:.4g}]':<30}"
                  f" {f'{wins}/{len(ok)}':>6} {gap:>9.4g} {iqr:>9.4g}  {claim} ({change})", file=out)
        for side, i in (("parent", 1), ("change", 2)):
            steal = " ".join(f"{t[i]['context'].get('steal_pct', float('nan')):.2f}" for t in ok)
            print(f"   steal_pct {side}: {steal}", file=out)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--parent", help="checkout of the parent commit")
    ap.add_argument("--change", help="checkout of the change")
    ap.add_argument("--workload", choices=("doc_read", "corpus_build"))
    ap.add_argument("--seeds", help="e.g. 8821-8830 or 1,5,9")
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--log", help="JSONL file the runs are appended to")
    ap.add_argument("--report", help="reprint the comparison of a --log file and exit")
    a = ap.parse_args()
    if a.report:
        with open(a.report) as fh:
            report([json.loads(l) for l in fh if l.strip()])
        return
    if not (a.parent and a.change and a.workload and a.seeds):
        ap.error("--parent, --change, --workload and --seeds are required")
    checkouts = {"parent": os.path.abspath(a.parent), "change": os.path.abspath(a.change)}
    if checkouts["parent"] == checkouts["change"]:
        ap.error("the two checkouts must differ (each builds into its own target/)")
    records = []
    for i, seed in enumerate(seeds_of(a.seeds)):
        for side in (("parent", "change") if i % 2 == 0 else ("change", "parent")):
            rec = {"workload": a.workload, "seed": seed, "side": side, "trace": a.trace,
                   **run_one(checkouts[side], a.workload, seed, a.seconds, a.trace)}
            records.append(rec)
            if a.log:
                with open(a.log, "a") as fh:
                    fh.write(json.dumps(rec) + "\n")
            got = rec.get("result", {}).get("metrics", rec.get("error"))
            print(f"[pairs] seed {seed} {side}: {json.dumps(got)}", file=sys.stderr, flush=True)
    report(records)


if __name__ == "__main__":
    main()
