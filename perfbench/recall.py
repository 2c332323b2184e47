#!/usr/bin/env python3
"""Recall of the shingle dedups, and the committed uncapped pair sets.

    python3 perfbench/recall.py --scale 10          # recall at the default cap
    python3 perfbench/recall.py --scale 1 --truth   # recompute a truth file
    python3 perfbench/recall.py --scale 10 --truth

Runs dedup_ngram and dedup_containment once over the benchmark's inputs
(--scale 1: the generated sf 0.01 corpus of the llm_curation workload;
--scale 10: tools/gen_scale.py 10 over the sf 0.1 corpus, 50 000
documents, cached under .bench_build/perfbench/data) and prints their
recall against the committed pairs of the uncapped path
(spark.graft.shingle.maxDf=0). With --truth it computes those pairs and
rewrites expected/pairs_truth.json or expected/pairs_truth_10x.json; do
that only after checking that a changed output is intended. The 10x run
is a drill, not a benchmark workload: one untimed pass at 10x takes
minutes on four cores, beyond the per-run limit of the benchmark's runs.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

import run
from workloads import PAIR_COLUMNS

TRUTH = {1: "pairs_truth.json", 10: "pairs_truth_10x.json"}


def inputs(scale):
    if scale == 1:
        return run.ensure_data()
    base = run.ensure_data(sf=0.1)
    gen = os.path.join(run.ROOT, "tools", "gen_scale.py")
    with open(gen, "rb") as f:
        key = f.read() + base.encode()
    return run.cached_dir("x10", key, lambda tmp: subprocess.run(
        [sys.executable, gen, "10", base, tmp], check=True, timeout=600))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--scale", type=int, choices=sorted(TRUTH), required=True)
    ap.add_argument("--truth", action="store_true")
    args = ap.parse_args()
    truth_file = TRUTH[args.scale]
    cp = run.build()
    data = inputs(args.scale)
    run_dir = os.path.join(run.WORK, "runs", f"recall-{os.getpid()}")
    plan = {"mode": "queries", "seconds": 0, "trace": False,
            "spans_out": os.path.join(run_dir, "spans.json"), "data": data,
            "warm": [], "passes": [], "min_passes": 0,
            "pairs": PAIR_COLUMNS,
            "confs": ({"spark.graft.shingle.maxDf": "0"} if args.truth
                      else {})}
    try:
        t0 = time.time()
        _, res = run.launch(cp, plan, run_dir, time.time() + 3600)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    if args.truth:
        with open(os.path.join(run.EXPECTED, truth_file), "w") as f:
            json.dump({k: sorted(v) for k, v in res["pairs"].items()}, f)
            f.write("\n")
        print(f"wrote expected/{truth_file} in {time.time() - t0:.0f} s")
        return
    per_id = run.pair_recall(res, truth_file)
    print(json.dumps({"scale": args.scale,
                      "dedup_recall": run.dedup_recall(res, truth_file),
                      "per_id": {k: {"found": f, "true": t}
                                 for k, (f, t) in per_id.items()},
                      "seconds": round(time.time() - t0, 1)}))


if __name__ == "__main__":
    main()
