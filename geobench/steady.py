#!/usr/bin/env python3
"""Steadiness record: run every workload once per seed, untraced, and
summarize each end-to-end metric across the runs.

    python3 geobench/steady.py --seeds 1-10 --out geobench/steadiness-set-a.json

Run it from the repository root. For each workload and metric it reports
the median, the quartiles (statistics.quantiles(values, n=4)), the
inter-quartile spread as a share of the median, and (max - min) / median.
It prints every end-to-end metric by name for each workload, and exits
non-zero when any op of any run failed its oracle check (after writing
the record).
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3,
            "iqr_frac": (q3 - q1) / med if med else None,
            "range_frac": (max(values) - min(values)) / med if med else None,
            "values": values}


def main():
    with open(os.path.join(os.getcwd(), "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = [w["name"] for w in bench["workloads"]]
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--workloads", default=",".join(names))
    p.add_argument("--out", help="write the record here as JSON")
    a = p.parse_args()

    record = {"run_seconds": bench["run_seconds"], "command": bench["command"], "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for s in seeds(a.seeds):
            t0 = time.time()
            proc = subprocess.run(bench["command"] + ["--workload", w, "--seed", str(s),
                                  "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                                  stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or not lines:
                raise SystemExit(f"{w} seed {s} failed with code {proc.returncode}")
            res = json.loads(lines[-1])
            res["wall_s"] = round(time.time() - t0, 1)
            runs.append(res)
            print(f"{w} seed {s}: wall {res['wall_s']}s failed {res['failed']}/{res['attempted']} " + " ".join(
                f"{k}={v['value']:.4g}" for k, v in res["metrics"].items()), file=sys.stderr, flush=True)
        metrics = {m: summarize([r["metrics"][m]["value"] for r in runs]) for m in runs[0]["metrics"]}
        record["workloads"][w] = {
            "seeds": seeds(a.seeds),
            "attempted": sum(r["attempted"] for r in runs),
            "failed": sum(r["failed"] for r in runs),
            "wall_s": [r["wall_s"] for r in runs],
            "metrics": metrics}
        for m, v in metrics.items():
            print(f"{w:14s} {m:18s} median {v['median']:12.4f}  q1 {v['q1']:12.4f}  q3 {v['q3']:12.4f}"
                  f"  iqr/med {v['iqr_frac']:.4f}  range/med {v['range_frac']:.4f}", flush=True)
    if a.out:
        with open(a.out, "w") as f:
            json.dump(record, f, indent=1)
            f.write("\n")
    bad = {w: r["failed"] for w, r in record["workloads"].items() if r["failed"]}
    if bad:
        raise SystemExit(f"ops failed their oracle check: {bad}")


if __name__ == "__main__":
    main()
