#!/usr/bin/env python3
"""Alternating A/B of one benchmark workload between two checkouts.

    python3 plans/pr5/ab.py <parent-dir> <change-dir> <workload> <seeds, e.g. 1-10> <out.jsonl>

Runs the BENCHMARK.json command in each checkout, untraced, once per
seed and side; odd pairs run the parent first, even pairs the change
first. Appends one JSON line per run: side, workload, seed, pair and
the benchmark's result line. `plans/pr3/ab_summary.py <out.jsonl>`
prints the medians, quartiles and wins.
"""
import json
import subprocess
import sys

parent, change, workload, seeds, out = sys.argv[1:6]
lo, _, hi = seeds.partition("-")
cmd = ["python3", "geobench/run.py", "--threads", "4", "--shuffle-partitions", "8",
       "--heap", "2g", "--workload", workload, "--seconds", "10", "--trace", "0"]
for pair, seed in enumerate(range(int(lo), int(hi or lo) + 1)):
    sides = [("parent", parent), ("change", change)]
    for side, root in (sides if pair % 2 == 0 else sides[::-1]):
        p = subprocess.run(cmd + ["--seed", str(seed)], cwd=root,
                           capture_output=True, text=True, check=True)
        result = json.loads(p.stdout.strip().splitlines()[-1])
        with open(out, "a") as f:
            f.write(json.dumps({"side": side, "workload": workload, "seed": seed,
                                "pair": pair, "result": result}) + "\n")
