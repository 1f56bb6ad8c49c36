#!/usr/bin/env python3
"""Run one benchmark workload of the graft engine and print its metrics.

Usage, from the root of a checkout:
  python3 perfbench/run.py --workload point-search --seed 1 --seconds 10 --trace 0

The first run builds the engine and the harness from source with sbt
(perfbench/build.sbt) and records the runtime classpath; later runs with
unchanged sources launch the JVM directly. Everything the run writes goes
under .bench_build/perfbench in the checkout. The last stdout line is one
JSON object: correct, attempted, failed and metrics (the end-to-end
metrics with --trace 0, the per-layer metrics with --trace 1).
"""
import argparse
import hashlib
import json
import multiprocessing
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ("point-search", "bulk-knn", "store-churn")
# Spark 4 on JDK 17 outside spark-submit needs these (the engine build sets the same)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
BUILD_TIMEOUT_S = 850
RUN_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def run_child(cmd, timeout, **kw):
    """Run cmd to completion; on timeout or on SIGTERM/SIGINT to this
    process, kill it and wait for it, so no child outlives the run.
    Returns (returncode, stdout) or None on timeout."""
    proc = subprocess.Popen(cmd, **kw)

    def stop(signum, _frame):
        proc.kill()
        proc.wait()
        sys.exit(128 + signum)

    for sig in (signal.SIGTERM, signal.SIGINT):
        signal.signal(sig, stop)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        return None
    return proc.returncode, out


def source_files():
    """Every file the build reads: the engine's sources and build, and ours."""
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x != "target")
            files += [os.path.join(d, n) for n in sorted(names)]
    return files


def sources_digest():
    h = hashlib.sha256()
    for f in source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def ensure_built():
    """Build with sbt unless the recorded classpath matches these sources."""
    for need in ("build.sbt", os.path.join("src", "main", "scala")):
        if not os.path.exists(os.path.join(ROOT, need)):
            sys.exit(f"[perfbench] no engine source: {need} is missing under {ROOT}")
    digest = sources_digest()
    stamp = os.path.join(OUT, "build.stamp")
    cp_file = os.path.join(OUT, "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == digest:
        return open(cp_file).read().strip()
    log("building engine and harness with sbt")
    t0 = time.time()
    res = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"], BUILD_TIMEOUT_S,
                    cwd=HERE, stdout=sys.stderr, stderr=sys.stderr)
    if res is None or res[0] != 0:
        sys.exit(f"[perfbench] sbt build failed: {'timeout' if res is None else f'code {res[0]}'}")
    os.makedirs(OUT, exist_ok=True)
    shutil.copyfile(os.path.join(HERE, "target", "classpath.txt"), cp_file)
    with open(stamp, "w") as fh:
        fh.write(digest)
    log(f"built in {time.time() - t0:.1f} s")
    return open(cp_file).read().strip()


def cpu_calibration_s(_=None):
    """Wall of a fixed pure-Python loop: reads higher when the host is slow
    for reasons steal ticks do not show (frequency, noisy neighbours)."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i % 7
    return time.perf_counter() - t0


def host_sample():
    """Steal ticks, the 1-minute load average and the calibration loop run
    alone and on every CPU at once (a parallel wall far above the single
    one means the host is not giving this machine all its CPUs), to flag
    contended runs."""
    with multiprocessing.Pool(os.cpu_count()) as pool:
        parallel = max(pool.map(cpu_calibration_s, range(os.cpu_count())))
    steal = None
    try:
        with open("/proc/stat") as fh:
            cpu = fh.readline().split()
        steal = int(cpu[8]) if len(cpu) > 8 else None
    except OSError:
        pass
    try:
        load1 = float(open("/proc/loadavg").read().split()[0])
    except OSError:
        load1 = None
    return {"steal_ticks": steal, "load1": load1, "cpu_calibration_s": cpu_calibration_s(),
            "cpu_calibration_parallel_s": parallel, "time": time.time()}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    ap.add_argument("--size", default="full", choices=("full", "tiny"),
                    help="tiny: a few hundred rows, for the smoke test")
    a = ap.parse_args()

    classpath = ensure_built()
    work = os.path.join(OUT, "work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    for sub in ("warehouse", "local", "tmp"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    # a fixed-size heap: heap resizing would add run-to-run noise
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC"]
    cmd += [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    cmd += [
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", classpath, "perfbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--size", a.size, "--out", OUT,
    ]
    before = host_sample()
    res = run_child(cmd, RUN_TIMEOUT_S, cwd=work, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                    text=True)
    after = host_sample()
    shutil.rmtree(work, ignore_errors=True)
    if res is None:
        sys.exit(f"[perfbench] {a.workload} did not finish within {RUN_TIMEOUT_S} s")
    code, stdout = res
    lines = stdout.strip().splitlines()
    if code != 0 or not lines or not lines[-1].startswith("{"):
        sys.stdout.write(stdout)
        sys.exit(f"[perfbench] {a.workload} exited with code {code} and no result")
    result = json.loads(lines[-1])
    for line in lines[:-1]:
        print(line)

    host = {"before": before, "after": after}
    if before["steal_ticks"] is not None and after["steal_ticks"] is not None:
        host["steal_ticks_during"] = after["steal_ticks"] - before["steal_ticks"]
    print("host " + json.dumps(host, sort_keys=True))

    # keep every measured metric, so a traced run and an untraced run of
    # the same workload and seed give the tracing overhead
    measured = {p[1]: float(p[2]) for p in (l.split() for l in lines[:-1])
                if len(p) == 4 and p[0] == "metric"}
    units = {p[1]: p[3] for p in (l.split() for l in lines[:-1]) if len(p) == 4 and p[0] == "metric"}
    results = os.path.join(OUT, "results")
    os.makedirs(results, exist_ok=True)
    mine = os.path.join(results, f"{a.workload}-{a.size}-seed{a.seed}-trace{a.trace}.json")
    with open(mine, "w") as fh:
        json.dump({"metrics": measured, "units": units, "host": host}, fh, sort_keys=True)
    other = os.path.join(results, f"{a.workload}-{a.size}-seed{a.seed}-trace{1 - int(a.trace)}.json")
    if os.path.exists(other):
        mine_m, other_m = measured, json.load(open(other))["metrics"]
        traced, plain = (mine_m, other_m) if a.trace == "1" else (other_m, mine_m)
        for k in sorted(set(traced) & set(plain)):
            if not k.endswith("_samples"):
                print(f"tracing_overhead {k} {traced[k] - plain[k]:.6g} {units.get(k, '')}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
