#!/usr/bin/env python3
"""Steadiness check: two sets of runs of every workload, each run with
its own seed, and per end-to-end metric each set's median and quartiles
next to the metric's bound.

    python3 perfbench/steady.py [--workloads a,b]

Each set is ten runs, seeds 1000-1009 and 2000-2009. A metric is steady
when, in each set, the distance between its first and third quartile is
within its bound as a share of the median, and the two sets' medians
differ by no more than the bound. The share of failed operations must be
the same in both sets. Run from the repository root; every run's output
is appended to `.bench_build/perfbench/steady.jsonl`.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

RUNS = 10
SETS = 2

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)


def one(workload: str, seed: int, seconds: int) -> dict:
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900)
    if out.returncode != 0:
        sys.stderr.write(out.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {out.returncode}")
    detail, result = out.stdout.strip().splitlines()[-2:]
    with open(os.path.join(ROOT, ".bench_build", "perfbench", "steady.jsonl"),
              "a") as log:
        log.write(json.dumps({"workload": workload, "seed": seed,
                              "detail": json.loads(detail),
                              "result": json.loads(result)}) + "\n")
    return json.loads(result)


def main() -> None:
    bench = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in bench["workloads"]))
    args = ap.parse_args()
    ok = True
    for w in args.workloads.split(","):
        sets = []
        for s in range(SETS):
            runs = []
            for i in range(RUNS):
                t = time.time()
                r = one(w, 1000 * (s + 1) + i, bench["run_seconds"])
                r["wall_s"] = time.time() - t
                runs.append(r)
            sets.append(runs)
        print(f"== {w}  (wall per run: median "
              f"{statistics.median(r['wall_s'] for rs in sets for r in rs):.1f} s)")
        shares = [sum(r["failed"] for r in rs) / sum(r["attempted"] for r in rs)
                  for rs in sets]
        same_share = len({round(x, 12) for x in shares}) == 1
        ok &= same_share
        print(f"   failed share per set: {shares}"
              f"{'' if same_share else '  <-- differs'}")
        for m in bench["end_to_end"]:
            name, bound = m["name"], m["bound"]
            cells, medians = [], []
            for rs in sets:
                vals = [r["metrics"][name]["value"] for r in rs]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                spread = (q3 - q1) / med
                medians.append(med)
                flag = "" if spread <= bound else " !"
                ok &= not flag
                cells.append(f"med {med:10.3f}  q1 {q1:10.3f}  q3 {q3:10.3f}"
                             f"  spread {spread:5.3f}{flag}")
            # Set 2 against set 1, positive when worse.
            a, b = medians
            drift = (b - a) / a if m["better"] == "lower" else (a - b) / a
            ok &= abs(drift) <= bound
            print(f"   {name:16s} bound {bound:4.2f}  " + "  |  ".join(cells) +
                  f"  |  drift {drift:+.3f}"
                  f"{' !' if abs(drift) > bound else ''}")
    print("steady" if ok else "NOT steady")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
