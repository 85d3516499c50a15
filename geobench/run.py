#!/usr/bin/env python3
"""Benchmark entry point: build the library and the benchmark driver from
source (once per source state), run one workload in a fresh JVM, and print
the driver's result JSON as the last line of stdout.

    python3 geobench/run.py --threads 4 --shuffle-partitions 8 --heap 2g \
        --workload lake_append --seed 1 --seconds 10 --trace 0

The engine settings have no defaults: BENCHMARK.json's command is the one
place they are set.

Run it from the repository root. Build output, inputs and traces stay in
the directory named by CARGO_TARGET_DIR (default .bench_build) under the
current directory. See geobench/README.md.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("sjoin_batch", "lake_append", "cc_cluster", "dedup_cluster")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 720
JDK17_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp(root):
    """Hash of every input of the build, so a changed source rebuilds."""
    h = hashlib.sha256()
    inputs = [os.path.join(root, "build.sbt"), os.path.join(root, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), BENCH):
        for dirpath, dirnames, filenames in os.walk(top):
            dirnames[:] = sorted(d for d in dirnames if d not in ("target", ".bench_build"))
            inputs += [os.path.join(dirpath, f) for f in sorted(filenames)
                       if f.endswith((".scala", ".java", ".sbt", ".properties"))]
    for path in inputs:
        h.update(os.path.relpath(path, root).encode())
        with open(path, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; on timeout kill the whole group
    and wait for it, so no process outlives this script."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    except BaseException:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        raise
    return proc.returncode, out


def build(root, build_dir):
    """Compile with sbt (offline) and return the runtime classpath."""
    stamp = source_stamp(root)
    stamp_file = os.path.join(build_dir, "geobench.stamp")
    cp_file = os.path.join(build_dir, "geobench.classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building library and benchmark with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    t0 = time.time()
    code, out = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true", "-Dsbt.server.autostart=false",
         "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        stdin=subprocess.DEVNULL, text=True)
    if code != 0:
        sys.stderr.write(out[-8000:])
        raise SystemExit(f"sbt build failed with code {code}")
    lines = [l for l in out.splitlines() if l.endswith(".jar") or ".jar:" in l or "classes" in l and ":" in l]
    cp = next((l for l in reversed(lines) if not l.startswith("[")), None)
    if not cp:
        sys.stderr.write(out[-8000:])
        raise SystemExit("sbt did not print a classpath")
    log(f"build took {time.time() - t0:.0f}s")
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def main():
    # A SIGTERM becomes an exception, so run_group kills and reaps the
    # child's process group before this script exits.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    p = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", required=True, type=int)
    p.add_argument("--seconds", required=True, type=int)
    p.add_argument("--trace", required=True, type=int, choices=(0, 1))
    p.add_argument("--threads", required=True, type=int, help="Spark local[k] slots")
    p.add_argument("--shuffle-partitions", required=True, type=int)
    p.add_argument("--heap", required=True, help="JVM heap; -Xms and -Xmx both")
    a = p.parse_args()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(root, need)):
            raise SystemExit(f"no {need} under {root}: run from the repository root")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        raise SystemExit("sbt and java must be on PATH")

    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR", ".bench_build"))
    os.makedirs(build_dir, exist_ok=True)
    cp = build(root, build_dir)

    work = os.path.join(build_dir, "work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", f"-Xms{a.heap}", f"-Xmx{a.heap}", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for m in JDK17_OPENS for x in ("--add-opens", f"{m}=ALL-UNNAMED")]
           + ["-cp", cp, "geobench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--threads", str(a.threads),
              "--shuffle-partitions", str(a.shuffle_partitions), "--work", work])
    try:
        code, out = run_group(cmd, RUN_TIMEOUT_S, cwd=root, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"benchmark JVM exceeded {RUN_TIMEOUT_S}s and was killed")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"benchmark JVM failed with code {code}")
    sys.stderr.write("\n".join(lines[:-1]) + ("\n" if len(lines) > 1 else ""))
    # An op that fails its oracle check is reported in the result
    # ("correct": false and the "failed" count), not by the exit code: the
    # run itself completed and its timings are valid.
    print(lines[-1], flush=True)


if __name__ == "__main__":
    main()
