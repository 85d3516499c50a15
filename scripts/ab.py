#!/usr/bin/env python3
"""Same-window A/B of one benchmark workload between two checkouts.

    python3 scripts/ab.py run <parent-dir> <change-dir> <workload> <seeds> <out.jsonl>
    python3 scripts/ab.py summary <out.jsonl> [<BENCHMARK.json>]
    python3 scripts/ab.py trace <parent-dir> <change-dir> <workload> <seed> <out.json>
    python3 scripts/ab.py loc <parent-rev> <change-rev>
    python3 scripts/ab.py procs <checkout> <workload> <seed>

`run` takes the benchmark command and run length from each checkout's own
BENCHMARK.json and runs it there, untraced, once per seed and side.
Pairs alternate the order: pair 0 runs the parent first, pair 1 the change
first, and so on. `<seeds>` is a range ("1-10") or a list ("1,4,7"). Each
run appends one JSON line: side, workload, seed, pair and either the
benchmark's result line or, for a run that failed, its exit code and the
tail of its stderr. A failed run does not stop the A/B. `summary` runs at
the end of `run` as well.

`summary` prints, for every end-to-end metric of BENCHMARK.json, over the
pairs where both sides produced a result: each side's median and
quartiles, the change/parent ratio, the change's wins, and the verdict
of the claim rule. The rule holds when the change is better on at least
nine of every ten pairs and its median beats the parent's by more than
the parent's inter-quartile range. A metric worse than the parent's by
more than its bound, or a side whose IQR exceeds the bound, is flagged.

`trace` runs the same command with `--trace 1` once in each checkout, back
to back (parent first), and writes one JSON object: workload, seed, the
command line, and each side's result line (or its exit code and stderr
tail) under "parent" and "change", so the per-layer metrics of both
sides come from the same window.

`loc` prints the net line change of `src/main` between two git revisions
of this repository, once as written and once ignoring whitespace
(`git diff -w`), so a reformat shows as the difference of the two.

`procs` runs the checkout's benchmark command once, untraced, with a JFR
recording of `jdk.ProcessStart` (and of the `System.gc()` collections
that close the warm-up and the timed phase) switched on through
`JAVA_TOOL_OPTIONS`, so the benchmark itself is unchanged. It prints the
process starts that fall between those collections per timed op and per
kind a op (on `lake_append`, per append), grouped by command name and by
the innermost `graft.` frame of the starting stack, else its innermost
frame above the JDK and Hadoop's `fs` and `util` layers (the
filesystem's caller). A `--trace 1` run cannot replace it: the trace
registers its own `file:` class, which the lake keeps.

Each side must be a fresh `git clone` (never a `cp -r` of a built
checkout: the copy would reuse the original's build directory). `run`,
`trace` and `procs` exit non-zero, naming the path, when a side's
`.bench_build/geobench.classpath` lists a `target/` directory outside
that side's checkout.
"""
import json
import math
import os
import statistics
import subprocess
import sys


def seeds_of(spec):
    if "-" in spec:
        lo, hi = spec.split("-", 1)
        return list(range(int(lo), int(hi) + 1))
    return [int(s) for s in spec.split(",") if s]


def bench_command(root, workload, seed, trace=0):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return bench["command"] + ["--workload", workload, "--seed", str(seed),
                               "--seconds", str(bench["run_seconds"]), "--trace", str(trace)]


def check_build(*roots):
    """Exit when a checkout's benchmark classpath points into another
    checkout: a `cp -r` of a built clone carries the original's
    `.bench_build/`, whose build stamp hashes only the sources, so the
    copy would run (and a rebuild of either would break) the original's
    classes."""
    for root in roots:
        home = os.path.realpath(root)
        cp_file = os.path.join(home, os.environ.get("CARGO_TARGET_DIR", ".bench_build"),
                               "geobench.classpath")
        if not os.path.exists(cp_file):
            continue
        with open(cp_file) as f:
            for entry in f.read().strip().split(os.pathsep):
                path = os.path.realpath(entry)
                if "target" in path.split(os.sep) and os.path.commonpath([home, path]) != home:
                    raise SystemExit(f"{cp_file} lists {entry}, a target/ directory outside "
                                     f"{home}: use a fresh git clone, not a copy of a built one")


def run_once(side, root, workload, seed, trace=0):
    """{"result": <the benchmark's JSON line>} or {"error": {code, stderr_tail}}."""
    p = subprocess.run(bench_command(root, workload, seed, trace), cwd=root,
                       capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    try:
        if p.returncode != 0:
            raise ValueError
        return {"result": json.loads(lines[-1])}
    except (ValueError, IndexError):
        print(f"[ab] {side} seed {seed} failed with code {p.returncode}",
              file=sys.stderr, flush=True)
        return {"error": {"code": p.returncode, "stderr_tail": p.stderr[-2000:]}}


def run(parent, change, workload, seeds, out):
    check_build(parent, change)
    for pair, seed in enumerate(seeds_of(seeds)):
        sides = [("parent", parent), ("change", change)]
        for side, root in (sides if pair % 2 == 0 else sides[::-1]):
            row = {"side": side, "workload": workload, "seed": seed, "pair": pair}
            row.update(run_once(side, root, workload, seed))
            with open(out, "a") as f:
                f.write(json.dumps(row) + "\n")


def trace(parent, change, workload, seed, out):
    check_build(parent, change)
    doc = {"workload": workload, "seed": int(seed),
           "command": " ".join(bench_command(parent, workload, seed, 1))}
    for side, root in (("parent", parent), ("change", change)):
        r = run_once(side, root, workload, seed, 1)
        doc[side] = r.get("result", r)
    with open(out, "w") as f:
        json.dump(doc, f, indent=1)
        f.write("\n")


def loc(parent, change, root):
    for label, flags in (("", []), (" ignoring whitespace", ["-w"])):
        out = subprocess.run(["git", "diff", "--numstat", *flags, parent, change, "--", "src/main"],
                             cwd=root, capture_output=True, text=True, check=True).stdout
        added = removed = 0
        for line in out.splitlines():
            a, r, _ = line.split("\t", 2)
            if a != "-":  # binary files have no line counts
                added, removed = added + int(a), removed + int(r)
        print(f"src/main{label}: +{added} -{removed} = {added - removed:+d} lines")


JFC = """<?xml version="1.0" encoding="UTF-8"?>
<configuration version="2.0">
  <event name="jdk.ProcessStart"><setting name="enabled">true</setting>
    <setting name="stackTrace">true</setting></event>
  <event name="jdk.GarbageCollection"><setting name="enabled">true</setting>
    <setting name="threshold">0 ms</setting></event>
</configuration>
"""


def proc_site(frames):
    """The innermost graft frame of a stack, else its innermost frame
    above the JDK and Hadoop's fs and util layers (the caller of the
    filesystem, e.g. Parquet's or the committer's)."""
    names = [f"{f['method']['type']['name'].replace('/', '.')}.{f['method']['name']}"
             for f in frames]
    for n in names:
        if n.startswith("graft."):
            return n
    for n in names:
        if not n.startswith(("java.", "jdk.", "sun.", "org.apache.hadoop.fs.",
                             "org.apache.hadoop.util.")):
            return n
    return names[-1] if names else "?"


def procs(root, workload, seed):
    import re
    import tempfile
    check_build(root)
    with tempfile.TemporaryDirectory() as tmp:
        jfc = os.path.join(tmp, "procs.jfc")
        with open(jfc, "w") as f:
            f.write(JFC)
        # one recording per JVM (%p): an sbt build the command may start
        # records too, and is told apart by its lack of timed-phase GCs
        env = dict(os.environ, JAVA_TOOL_OPTIONS=(
            f"-XX:StartFlightRecording=settings={jfc},filename={tmp}/rec-%p.jfr "
            "-XX:FlightRecorderOptions=stackdepth=512"))
        p = subprocess.run(bench_command(root, workload, seed), cwd=root, env=env,
                           capture_output=True, text=True)
        if p.returncode != 0:
            raise SystemExit(f"benchmark failed with code {p.returncode}:\n{p.stderr[-2000:]}")
        m = re.search(r"(\d+) timed ops \((\d+) kind a, (\d+) kind b\)", p.stderr)
        if not m:
            raise SystemExit("no timed-op count in the benchmark's stderr")
        ops, ops_a, ops_b = (int(g) for g in m.groups())
        best = None
        for name in sorted(os.listdir(tmp)):
            if not name.endswith(".jfr"):
                continue
            out = subprocess.run(["jfr", "print", "--json", "--stack-depth", "512", "--events",
                                  "jdk.ProcessStart,jdk.GarbageCollection",
                                  os.path.join(tmp, name)],
                                 capture_output=True, text=True, check=True).stdout
            events = json.loads(out)["recording"]["events"]
            gcs = sorted(e["values"]["startTime"] for e in events
                         if e["type"] == "jdk.GarbageCollection"
                         and e["values"]["name"] and e["values"]["cause"] == "System.gc()")
            if len(gcs) >= 3:
                best = (events, gcs)
    if best is None:
        raise SystemExit("no recording holds the benchmark's System.gc() collections")
    events, gcs = best
    # Main runs System.gc() twice after the warm-up and again right after
    # the timed phase: the timed ops lie between the 2nd and the 3rd
    lo, hi = gcs[1], gcs[2]
    starts = [e for e in events if e["type"] == "jdk.ProcessStart"
              and lo < e["values"]["startTime"] < hi]
    print(f"{workload} seed {seed} at {os.path.abspath(root)}: {len(starts)} process starts "
          f"in {ops} timed ops ({ops_a} kind a, {ops_b} kind b)")
    print(f"  per timed op {len(starts) / max(ops, 1):.2f}   per kind a op "
          f"{len(starts) / max(ops_a, 1):.2f}")
    for label, key in (("command", lambda e: os.path.basename(
                           (e["values"]["command"] or "?").split()[0])),
                       ("site", lambda e: proc_site((e["values"].get("stackTrace") or {})
                                                    .get("frames", [])))):
        counts = {}
        for e in starts:
            counts[key(e)] = counts.get(key(e), 0) + 1
        print(f"by {label}:")
        for k, n in sorted(counts.items(), key=lambda kv: (-kv[1], kv[0])):
            print(f"  {n / max(ops, 1):8.2f} per op  {n / max(ops_a, 1):8.2f} per kind a op  {k}")


def quartiles(v):
    if len(v) == 1:
        return v[0], v[0], v[0]
    q1, med, q3 = statistics.quantiles(v, n=4, method="inclusive")
    return q1, med, q3


def summary(path, bench_path):
    with open(bench_path) as f:
        metrics = json.load(f)["end_to_end"]
    rows = [json.loads(l) for l in open(path) if l.strip()]
    failed = [r for r in rows if "error" in r]
    done = [r for r in rows if "result" in r]
    wrong = sum(r["result"]["failed"] for r in done)
    print(f"runs {len(rows)}  failed runs {len(failed)}  "
          f"ops attempted {sum(r['result']['attempted'] for r in done)}  ops failed {wrong}  "
          f"all correct {all(r['result']['correct'] for r in done)}")
    for r in failed:
        tail = r["error"]["stderr_tail"].strip().splitlines()[-1:] or [""]
        print(f"  failed: {r['side']} seed {r['seed']} code {r['error']['code']}: {tail[0]}")
    by = {}
    for r in done:
        by.setdefault((r["workload"], r["seed"]), {})[r["side"]] = r["result"]["metrics"]
    pairs = [v for _, v in sorted(by.items()) if len(v) == 2]
    print(f"complete pairs {len(pairs)}")
    if not pairs:
        return
    for m in metrics:
        name, higher, bound = m["name"], m["better"] == "higher", m["bound"]
        P = [p["parent"][name]["value"] for p in pairs]
        C = [p["change"][name]["value"] for p in pairs]
        wins = sum((c > p) if higher else (c < p) for p, c in zip(P, C))
        p1, pm, p3 = quartiles(P)
        c1, cm, c3 = quartiles(C)
        gap = (cm - pm) if higher else (pm - cm)
        claim = wins >= math.ceil(0.9 * len(P)) and gap > p3 - p1
        worse = -gap / pm if pm else 0.0
        flags = []
        if worse > bound:
            flags.append(f"WORSE by {worse:.1%} > bound {bound}")
        for side, (q1, med, q3) in (("parent", (p1, pm, p3)), ("change", (c1, cm, c3))):
            if med and (q3 - q1) / med > bound:
                flags.append(f"{side} IQR {(q3 - q1) / med:.1%} > bound {bound}")
        print(f"{name:17s} parent {pm:10.1f} [{p1:.1f}, {p3:.1f}]  "
              f"change {cm:10.1f} [{c1:.1f}, {c3:.1f}]  ratio {cm / pm if pm else float('nan'):.3f}  "
              f"wins {wins}/{len(P)}  claim {'holds' if claim else 'does not hold'}"
              + ("  " + "; ".join(flags) if flags else ""))


def main(argv):
    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    if len(argv) == 6 and argv[0] == "run":
        run(*argv[1:6])
        summary(argv[5], os.path.join(argv[1], "BENCHMARK.json"))
    elif len(argv) == 6 and argv[0] == "trace":
        trace(*argv[1:6])
    elif len(argv) == 4 and argv[0] == "procs":
        procs(*argv[1:4])
    elif len(argv) == 3 and argv[0] == "loc":
        loc(argv[1], argv[2], here)
    elif len(argv) in (2, 3) and argv[0] == "summary":
        summary(argv[1], argv[2] if len(argv) == 3 else os.path.join(here, "BENCHMARK.json"))
    else:
        raise SystemExit(__doc__)


if __name__ == "__main__":
    main(sys.argv[1:])
