#!/usr/bin/env python3
"""Run the repo benchmark.

    python3 perfbench/run.py --workload <ycsb_aria|query_mix|all>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the benchmark (its own
sources plus the repo's src/main) with sbt and caches the classpath under
perfbench/target; later runs start the JVM directly. One workload prints, as
the last stdout line, {"correct", "attempted", "failed", "metrics"}; `all`
runs both workloads one after another and prints a table of every
metric per workload, the failed operations, and a JSON line per workload.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
QUERY_WORKLOADS = ["query_mix"]
WORKLOADS = ["ycsb_aria"] + QUERY_WORKLOADS
JVM_HEAP = "3g"
# JIT settings per workload. Under the default tiered compiler the Aria
# loop's driver work (planning and scheduling many small jobs per epoch)
# keeps speeding up for minutes as C2 compiles it, longer than a run, so the
# timed window would measure warm-up drift; C1 alone with compile thresholds
# cut tenfold reaches a steady batch latency within the first batches. C1
# alone defaults to a 48 MB code cache, which Spark fills about half a
# minute in; the sweeper then flushes it and every method recompiles
# mid-run, hence 256 MB. The query workload keeps the default compiler: its
# generated code is CPU-heavy (C1 runs it up to twice as slow) and its
# untimed set-up pass covers most of the C2 warm-up.
JIT_FLAGS = {"ycsb_aria": ["-XX:TieredStopAtLevel=1",
                           "-XX:CompileThresholdScaling=0.1",
                           "-XX:ReservedCodeCacheSize=256m"]}
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources():
    """Every file the build reads, in a stable order."""
    roots = [BENCH / "src", ROOT / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    return files


def build():
    """Compiles once per source state; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala").is_dir():
        fail("no src/main/scala next to perfbench/: run from a full checkout")
    digest = hashlib.sha256()
    for f in sources():
        digest.update(str(f.relative_to(ROOT)).encode())
        digest.update(f.read_bytes())
    stamp = digest.hexdigest()
    target = BENCH / "target"
    cp_file, stamp_file = target / "classpath.txt", target / "stamp.txt"
    if cp_file.exists() and stamp_file.exists() \
            and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    r = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                   "writeClasspath"], cwd=BENCH, timeout=BUILD_TIMEOUT_S)
    if r is None or r.returncode != 0 or not cp_file.exists():
        tail = "" if r is None else (r.stdout + r.stderr)[-3000:]
        fail(f"build failed\n{tail}")
    stamp_file.write_text(stamp)
    return cp_file.read_text().strip()


def run_group(cmd, cwd, timeout, env=None):
    """Runs `cmd` in its own process group; kills the group on timeout and
    waits for it. Returns the CompletedProcess, or None on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=subprocess.PIPE,
                         stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, err = p.communicate(timeout=timeout)
        return subprocess.CompletedProcess(cmd, p.returncode, out, err)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None


def run_workload(cp, workload, seed, seconds, trace, extra=(), work=None,
                 want_result=True):
    """Runs one workload JVM. Returns (stdout lines, result dict); with
    `want_result` False, returns (stdout lines, None) and keeps `work`."""
    keep = work is not None
    work = work or ROOT / ".bench_build" / "perfbench-work" / \
        f"{workload}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    java = Path(os.environ["JAVA_HOME"]) / "bin" / "java" \
        if "JAVA_HOME" in os.environ else "java"
    cmd = [str(java), f"-Xmx{JVM_HEAP}", f"-Xms{JVM_HEAP}", *JIT_FLAGS.get(workload, []),
           f"-Djava.io.tmpdir={work / 'tmp'}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--workload", workload,
            "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--bench", str(BENCH),
            "--work", str(work), *extra]
    timeout = JVM_TIMEOUT_S if want_result else 3600
    try:
        r = run_group(cmd, cwd=ROOT, timeout=timeout)
        if (work / "trace").is_dir():
            kept = ROOT / ".bench_build" / "perfbench-trace" / workload
            shutil.rmtree(kept, ignore_errors=True)
            shutil.copytree(work / "trace", kept)
    finally:
        if not keep:
            shutil.rmtree(work, ignore_errors=True)
    if r is None:
        fail(f"{workload}: no result within {timeout} s")
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or (want_result and not lines):
        fail(f"{workload}: exit {r.returncode}\n{r.stderr[-4000:]}")
    if not want_result:
        return lines, None
    try:
        result = json.loads(lines[-1])
    except ValueError:
        fail(f"{workload}: last line is not a result: {lines[-1][:200]}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    want = [(m["name"], m["unit"])
            for m in spec["per_layer" if trace else "end_to_end"]]
    got = [(k, m["unit"]) for k, m in result["metrics"].items()]
    if got != want:
        fail(f"{workload}: metrics {got} differ from BENCHMARK.json {want}")
    return lines[:-1], result


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    cp = build()
    if a.workload != "all":
        lines, result = run_workload(cp, a.workload, a.seed, a.seconds,
                                     a.trace)
        print("\n".join(lines))
        print(json.dumps(result))
        return
    results = {}
    for w in WORKLOADS:
        t0 = time.time()
        lines, results[w] = run_workload(cp, w, a.seed, a.seconds, a.trace)
        print("\n".join(lines))
        print(f"[perfbench] {w} took {time.time() - t0:.1f} s")
    print(f"\n{'workload':<14} {'metric':<22} {'value':>16}  unit")
    for w, r in results.items():
        for name, m in r["metrics"].items():
            print(f"{w:<14} {name:<22} {m['value']:>16.6g}  {m['unit']}")
        print(f"{w:<14} {'fail_ratio':<22} "
              f"{r['failed'] / r['attempted']:>16.6g}  "
              f"({r['failed']}/{r['attempted']}, correct={r['correct']})")
    for w in WORKLOADS:
        print(json.dumps({"workload": w, **results[w]}))


if __name__ == "__main__":
    main()
