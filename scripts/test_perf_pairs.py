#!/usr/bin/env python3
"""The exit status of `perf_pairs.py --report` on synthetic pairs files.

    python3 scripts/test_perf_pairs.py

Each case writes ten lookup pairs and a one-metric BENCHMARK.json to a
temporary directory and checks that the report exits 0 on a clean change and
1 on a regression, a run that is not correct, or a larger failed share.
"""
import json
import os
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = {"end_to_end": [{"name": "qps", "unit": "1/s", "better": "higher", "bound": 0.24}]}


def run(side_of):
    """Exit status of the report over ten pairs; `side_of(seed, side)` gives
    each run's (qps, attempted, failed, correct)."""
    with tempfile.TemporaryDirectory() as tmp:
        pairs, bench = os.path.join(tmp, "pairs.jsonl"), os.path.join(tmp, "bench.json")
        with open(bench, "w") as f:
            json.dump(BENCH, f)
        with open(pairs, "w") as f:
            for seed in range(10):
                for side in ("parent", "change"):
                    qps, attempted, failed, correct = side_of(seed, side)
                    f.write(json.dumps({"workload": "lookup", "seed": seed, "side": side,
                                        "first": "parent", "correct": correct,
                                        "attempted": attempted, "failed": failed,
                                        "metrics": {"qps": {"value": qps}}}) + "\n")
        proc = subprocess.run([sys.executable, os.path.join(HERE, "perf_pairs.py"),
                               "--report", pairs, "--bench", bench],
                              capture_output=True, text=True)
        return proc.returncode, proc.stdout


def steady(qps_change):
    return lambda seed, side: ((100 + seed) * (qps_change if side == "change" else 1), 1000, 0, True)


CASES = [
    ("a change within the bound passes", steady(1.02), 0),
    ("a gain passes", steady(1.5), 0),
    ("a regression beyond the bound fails", steady(0.6), 1),
    ("a change run that is not correct fails",
     lambda seed, side: (100.0, 1000, 0, not (side == "change" and seed == 3)), 1),
    ("a parent run that is not correct fails",
     lambda seed, side: (100.0, 1000, 0, not (side == "parent" and seed == 7)), 1),
    ("a larger failed share fails",
     lambda seed, side: (100.0, 1000, 2 if side == "change" else 1, True), 1),
    ("an equal failed share passes", lambda seed, side: (100.0, 1000, 1, True), 0),
    ("a smaller failed share passes",
     lambda seed, side: (100.0, 1000, 0 if side == "change" else 3, True), 0),
]


def main():
    bad = 0
    for name, side_of, want in CASES:
        got, out = run(side_of)
        ok = got == want
        bad += not ok
        print(f"{'ok' if ok else 'FAIL'}: {name} (exit {got}, want {want})")
        if not ok:
            print(out)
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
