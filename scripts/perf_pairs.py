#!/usr/bin/env python3
"""Alternating parent/change pairs of the interactive-query benchmark.

    python3 scripts/perf_pairs.py --parent DIR --change DIR \
        [--workloads lookup,live,recompute] [--seeds 41-50] [--seconds 10] \
        [--out pairs.jsonl]
    python3 scripts/perf_pairs.py --report pairs.jsonl [--bench BENCHMARK.json]
    python3 scripts/test_perf_pairs.py     # the gate on synthetic pairs files

DIR is a checkout of each side (a clean clone of the parent commit, and the
change). For every workload and seed it runs `perfbench/run.py --trace 0`
once in each checkout, one run at a time; an even seed runs the parent
first, an odd seed the change. Every run is appended to `--out` as it ends,
so an interrupted run keeps what it measured, and `--report` re-reads it.

The report gives, per workload and end-to-end metric of BENCHMARK.json
(the change's, unless `--bench`): each side's median and quartiles, the
change's median over the parent's, how many pairs the change won (ties
count for neither side), and the failed and attempted operations per side
with their share.
A verdict follows the two rules of a same-box comparison:
  - `gain`: the change won at least 9/10 of the pairs and the medians differ
    by more than the parent's interquartile distance;
  - `REGRESSION`: the change's median is worse than the parent's by more
    than the metric's bound; `unresolved` when the parent's own spread
    (interquartile distance over median) is wider than the bound and not
    every change run beats every parent run; `ok` otherwise.

The exit status gates the change: 1 if, in any workload, a metric's verdict
is `REGRESSION`, a run of either side is not `correct`, or the change's
share of failed operations is above the parent's; 0 otherwise.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds_of(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def run_once(checkout, workload, seed, seconds):
    """One untraced run; returns its JSON line, or a failed record when the
    run did not produce one."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if not lines:
        sys.stderr.write(proc.stderr[-2000:])
        return {"correct": False, "attempted": 0, "failed": 0, "metrics": {}, "exit": proc.returncode}
    res = json.loads(lines[-1])
    res["exit"] = proc.returncode
    return res


def measure(args):
    checkouts = {"parent": os.path.abspath(args.parent), "change": os.path.abspath(args.change)}
    with open(args.out, "a") as out:
        for workload in args.workloads.split(","):
            for seed in seeds_of(args.seeds):
                order = ("parent", "change") if seed % 2 == 0 else ("change", "parent")
                for side in order:
                    res = run_once(checkouts[side], workload, seed, args.seconds)
                    rec = {"workload": workload, "seed": seed, "side": side, "first": order[0], **res}
                    out.write(json.dumps(rec) + "\n")
                    out.flush()
                    qps = res["metrics"].get("qps", {}).get("value")
                    print(f"{workload} seed {seed} {side}: qps {qps} failed {res['failed']}"
                          f" correct {res['correct']}", flush=True)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0]
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[0], q[2]


def report(path, bench_path):
    """Print the report; return the reasons the gate fails (none: empty)."""
    with open(bench_path) as f:
        metrics = json.load(f)["end_to_end"]
    runs = defaultdict(dict)  # (workload, seed) -> side -> record
    with open(path) as f:
        for line in f:
            if line.strip():
                rec = json.loads(line)
                runs[(rec["workload"], rec["seed"])][rec["side"]] = rec
    gate = []
    for workload in sorted({w for w, _ in runs}):
        pairs = [sides for (w, _), sides in sorted(runs.items()) if w == workload and len(sides) == 2]
        print(f"\n{workload}: {len(pairs)} pairs")
        share = {}
        for side in ("parent", "change"):
            att = sum(p[side]["attempted"] for p in pairs)
            failed = sum(p[side]["failed"] for p in pairs)
            share[side] = failed / att if att else 0.0
            recs = [r[side] for (w, _), r in runs.items() if w == workload and side in r]
            wrong = sum(1 for r in recs if not r["correct"])
            print(f"  {side}: {failed} failed of {att} attempted ({share[side]:.2%});"
                  f" {wrong} of {len(recs)} runs not correct")
            if wrong:
                gate.append(f"{workload}: {wrong} {side} runs not correct")
        if share["change"] > share["parent"]:
            gate.append(f"{workload}: failed share {share['parent']:.2%} -> {share['change']:.2%}")
        print(f"  {'metric':<18} {'parent med [q1, q3]':>28} {'change med [q1, q3]':>28}"
              f" {'ratio':>6} {'wins':>6}  verdict")
        for m in metrics:
            name, lower = m["name"], m["better"] == "lower"
            got = [(p["parent"]["metrics"].get(name, {}).get("value"),
                    p["change"]["metrics"].get(name, {}).get("value")) for p in pairs]
            got = [(a, b) for a, b in got if a is not None and b is not None]
            if not got:
                continue
            par, chg = [a for a, _ in got], [b for _, b in got]
            pm, cm = statistics.median(par), statistics.median(chg)
            (p1, p3), (c1, c3) = quartiles(par), quartiles(chg)
            wins = sum(1 for a, b in got if (b < a if lower else b > a))
            worse_by = (cm - pm) / pm if lower else (pm - cm) / pm
            if wins >= 0.9 * len(got) and abs(cm - pm) > p3 - p1:
                verdict = "gain"
            elif worse_by > m["bound"]:
                verdict = "REGRESSION"
            elif ((p3 - p1) / pm > m["bound"]
                  and not (max(chg) < min(par) if lower else min(chg) > max(par))):
                verdict = "unresolved"
            else:
                verdict = "ok"
            if verdict == "REGRESSION":
                gate.append(f"{workload}: {name} regressed ({cm / pm:.3f})")
            print(f"  {name:<18} {pm:>10.4g} [{p1:.4g}, {p3:.4g}]".ljust(48)
                  + f" {cm:>10.4g} [{c1:.4g}, {c3:.4g}]".ljust(29)
                  + f" {cm / pm:>6.3f} {wins:>3}/{len(got):<2}  {verdict}")
    print("\ngate: " + ("FAIL\n  " + "\n  ".join(gate) if gate else "ok"))
    return gate


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workloads", default="lookup,live,recompute")
    ap.add_argument("--seeds", default="41-50")
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--out", default="pairs.jsonl")
    ap.add_argument("--report", help="report on an existing pairs file without running")
    ap.add_argument("--bench", help="BENCHMARK.json with the metrics and bounds")
    args = ap.parse_args()
    if args.report:
        gate = report(args.report, args.bench or os.path.join(HERE, "..", "BENCHMARK.json"))
    else:
        if not (args.parent and args.change):
            ap.error("--parent and --change are required unless --report is given")
        measure(args)
        gate = report(args.out, args.bench or os.path.join(args.change, "BENCHMARK.json"))
    sys.exit(1 if gate else 0)


if __name__ == "__main__":
    main()
