#!/usr/bin/env python3
"""Count-determinism check: traced runs of one seed must repeat their counts.

    python3 perfbench/determinism.py [--seed N] [workload ...]

Runs `run.py --trace 1` twice per workload (default: all three) and compares
the per-pass counts that describe the work done. Exits 1 if a count in EXACT
differs, unless VARIABLE names it with the reason it varies.
"""
import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
# Counts that must repeat exactly.
EXACT = ["exec.jobs", "exec.stages", "exec.tasks", "exec.shuffle_records", "exec.result_rows",
         "Tables.scan_tasks"]
# Further counts that are compared and reported.
ALSO = ["operators.construct_jobs", "SessionMemos.built_queries", "plans.codegen_stages",
        "plans.graft_nodes", "streaming.batches"]
# Counts known to vary between identical runs, and why.
VARIABLE = {
    ("cold_build", "operators.construct_jobs"):
        "the builds submit a varying number of jobs on identical input (suffix array: 160-163)",
    ("cold_build", "Tables.scan_tasks"): "follows the builds' varying job count",
    ("cold_build", "streaming.batches"): "a stream replay's micro-batches follow trigger timing",
}


def traced(workload, seed, seconds):
    r = subprocess.run([sys.executable, RUN, "--workload", workload, "--seed", str(seed),
                        "--seconds", str(seconds), "--trace", "1"],
                       capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        sys.exit(f"{workload}: run.py exited {r.returncode}\n{r.stderr[-2000:]}")
    return {k: v["value"] for k, v in json.loads(r.stdout.strip().splitlines()[-1])["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=5)
    ap.add_argument("workloads", nargs="*", default=["serve_warm", "wordcount_large", "cold_build"])
    args = ap.parse_args()
    ok = True
    for w in args.workloads:
        a, b = traced(w, args.seed, args.seconds), traced(w, args.seed, args.seconds)
        for k in EXACT + ALSO:
            if a[k] == b[k]:
                verdict = "same"
            elif (w, k) in VARIABLE:
                verdict = "varies: " + VARIABLE[(w, k)]
            else:
                verdict = "DIFFERS" if k in EXACT else "differs"
                ok &= k not in EXACT
            print(f"{w:16} {k:27} {a[k]:>14g} {b[k]:>14g}  {verdict}")
    print("count determinism:", "pass" if ok else "FAIL")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
