#!/usr/bin/env python3
"""graft benchmark runner.

One run:
    python3 graftbench/run.py --workload map_session --seed 1 --seconds 5 --trace 0

Repeatability mode (N fresh JVMs, seeds seed..seed+N-1, per-metric median,
quartiles and spread):
    python3 graftbench/run.py --workload map_session --seed 1 --seconds 5 --repeat 10

The runner compiles the program and the benchmark from source with sbt
(once per source state; the classpath is cached under graftbench/.build),
then starts every run in a fresh JVM, outside sbt, with -Xms equal to
-Xmx, in an empty scratch directory that is deleted when the run ends.
The last line of standard output is the run's result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(BENCH_DIR, ".build")
SCRATCH_DIR = os.path.join(BENCH_DIR, ".scratch")
OUT_DIR = os.path.join(BENCH_DIR, "out")
WORKLOADS = ("map_session", "ann_serve")
HEAP = "3g"
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170
# the module opens Spark needs on JDK 17 (the root build's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_files():
    """Every file whose change requires a rebuild, relative to ROOT."""
    files = ["build.sbt", "project/build.properties",
             "graftbench/build.sbt", "graftbench/project/build.properties"]
    for top in ("src/main", "graftbench/src"):
        for d, _, names in os.walk(os.path.join(ROOT, top)):
            files += [os.path.relpath(os.path.join(d, n), ROOT) for n in names]
    return sorted(files)


def source_stamp():
    h = hashlib.sha256()
    for rel in source_files():
        h.update(rel.encode())
        with open(os.path.join(ROOT, rel), "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile program + benchmark once per source state; returns the classpath."""
    stamp = source_stamp()
    stamp_file = os.path.join(BUILD_DIR, "stamp")
    cp_file = os.path.join(BUILD_DIR, "classpath")
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    log("compiling the program and the benchmark with sbt")
    t0 = time.time()
    with open(os.path.join(BUILD_DIR, "sbt.log"), "w") as logf:
        proc = subprocess.Popen(
            ["sbt", "--batch", "-Dsbt.log.noformat=true",
             "export graftbench/Runtime/fullClasspath"],
            cwd=BENCH_DIR, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=logf, text=True, start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=BUILD_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit("sbt build timed out")
        logf.write(out)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or "graftbench" not in lines[-1]:
        raise SystemExit(f"sbt build failed (exit {proc.returncode}); see {BUILD_DIR}/sbt.log")
    classpath = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"build done in {time.time() - t0:.0f} s")
    return classpath


def cpu_ticks():
    """(busy, steal) jiffies of all CPUs, from /proc/stat."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v[:3]) + sum(v[5:7]), v[7] if len(v) > 7 else 0
    except (OSError, ValueError, IndexError):
        return None


def box():
    """nproc, MemTotal, load average and CPU jiffies: what a loaded box
    shows itself by."""
    mem_kb = None
    try:
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
    except OSError:
        pass
    try:
        load = list(os.getloadavg())
    except OSError:
        load = None
    return {"nproc": os.cpu_count(), "mem_total_kb": mem_kb, "loadavg": load,
            "busy_steal_jiffies": cpu_ticks()}


def run_once(classpath, workload, seed, seconds, trace):
    """One fresh-JVM run. Returns (result dict, other stdout lines)."""
    os.makedirs(SCRATCH_DIR, exist_ok=True)
    work = os.path.join(SCRATCH_DIR, f"run-{os.getpid()}-{seed}-{int(time.time() * 1000)}")
    os.makedirs(work)
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + [f"-Djava.io.tmpdir={work}",
              f"-Dlog4j2.configurationFile={os.path.join(BENCH_DIR, 'log4j2.properties')}",
              "-cp", classpath, "graftbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--work", work, "--out", OUT_DIR])
    env = dict(os.environ, SPARK_LOCAL_DIRS=work)
    before = box()
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        raise SystemExit(f"{workload} run exceeded {RUN_TIMEOUT_S} s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines:
        raise SystemExit(f"{workload} run failed (exit {proc.returncode})")
    result = json.loads(lines[-1])
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        raise SystemExit(f"malformed result line: {lines[-1]}")
    after = box()
    info = {"box_before": before, "box_after": after}
    if before["busy_steal_jiffies"] and after["busy_steal_jiffies"]:
        busy = after["busy_steal_jiffies"][0] - before["busy_steal_jiffies"][0]
        steal = after["busy_steal_jiffies"][1] - before["busy_steal_jiffies"][1]
        info["steal_share"] = steal / max(1, busy + steal)
    return result, lines[:-1] + [json.dumps(info)]


def spread_report(workload, runs):
    """Median, quartiles and spread (IQR / median) of every metric."""
    names = list(runs[0][0]["metrics"])
    report = {}
    for n in names:
        vals = [r["metrics"][n]["value"] for r, _ in runs]
        med = statistics.median(vals)
        q1, _, q3 = statistics.quantiles(vals, n=4) if len(vals) > 1 else (vals[0],) * 3
        report[n] = {"unit": runs[0][0]["metrics"][n]["unit"], "median": med, "q1": q1,
                     "q3": q3, "spread": (q3 - q1) / med if med else None, "values": vals}
    shares = sorted({r["failed"] / r["attempted"] for r, _ in runs})
    return {"workload": workload, "runs": len(runs), "failed_shares": shares,
            "all_correct": all(r["correct"] for r, _ in runs), "metrics": report}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--repeat", type=int, default=0,
                    help="run N fresh JVMs with seeds seed..seed+N-1 and report spreads")
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        sys.exit(f"no graft sources under {ROOT}: run from a checkout of the repository")
    classpath = build()
    if args.repeat:
        runs = []
        for i in range(args.repeat):
            r, other = run_once(classpath, args.workload, args.seed + i, args.seconds, args.trace)
            runs.append((r, other))
            log(f"run {i + 1}/{args.repeat}: " + json.dumps(r))
            log(other[-1])
        print(json.dumps(spread_report(args.workload, runs), indent=1))
        return
    result, other = run_once(classpath, args.workload, args.seed, args.seconds, args.trace)
    for line in other:
        print(line)
    print(json.dumps(result), flush=True)


if __name__ == "__main__":
    main()
