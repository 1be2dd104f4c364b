"""Layered CDC benchmark: one seeded run of one workload.

    python3 cdcbench/run.py --workload tail|backfill --seed N \
        --seconds S --trace 0|1

Run from the repository root. Builds the engine and the benchmark from
source (cdcbench/build.py), runs the workload in a fresh JVM and prints,
as the last line of standard output, one JSON object with the keys
correct, attempted, failed and metrics: the end-to-end metrics with
--trace 0, the per-layer metrics with --trace 1. The line before it
carries annotations: the host-load probe taken before and after the run
(never used to normalise or gate a metric) and workload details. Exits
non-zero, printing no result, when the engine sources are missing or the
run fails; a run whose output check fails prints its result with
"correct": false and exits 1.

Repeat and pair-compare modes live in cdcbench/compare.py.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import build  # noqa: E402

WORKLOADS = ("tail", "backfill")
# JDK 17 module opens Spark needs outside spark-submit (build.sbt's list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170


def cpu_probe():
    """Seconds for a fixed pure-Python loop: a host-load annotation."""
    t = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return round(time.perf_counter() - t, 4)


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced run's spans here "
                    "(JSON lines; default: under the build dir)")
    ap.add_argument("--wrong-expectation", action="store_true",
                    help="check against a deliberately wrong reference: "
                    "the run must come out incorrect (compare.py selfcheck)")
    a = ap.parse_args()
    t_start = time.time()

    classes = build.build()
    work = os.path.join(build.build_dir(), "work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(build.build_dir(), "last-run.log")
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    # a fixed, pre-touched heap: peak RSS then moves with native and
    # off-heap memory, not with when the collector chose to grow the heap;
    # heap use is reported apart (jvm.heap_peak_mb)
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", "-Xss4m",
           "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
           "-Dspark.ui.enabled=false", "-Duser.timezone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graft.cdcbench.Main",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--out", out]
    if a.wrong_expectation:
        cmd += ["--wrong-expectation", "1"]
    if a.trace:
        cmd += ["--spans", a.spans or os.path.join(
            build.build_dir(), f"spans-{a.workload}-{a.seed}.jsonl")]
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "tmp"))
    host = {"cpu_probe_before_s": cpu_probe(), "loadavg_before": loadavg()}
    limit = max(30, RUN_LIMIT_S - (time.time() - t_start))
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                             env=env, cwd=work)
        try:
            rc = p.wait(timeout=limit)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    host.update(cpu_probe_after_s=cpu_probe(), loadavg_after=loadavg())
    result = None
    if rc == 0 and os.path.isfile(out):
        with open(out) as f:
            result = json.load(f)
    shutil.rmtree(work, ignore_errors=True)
    if result is None:
        with open(log) as f:
            tail = f.read()[-4000:]
        sys.stderr.write(tail + f"\ncdcbench: run failed ({rc}); log: {log}\n")
        sys.exit(2)
    notes = result.pop("annotations", {})
    print(json.dumps({"annotations": dict(notes, host=host)}))
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


if __name__ == "__main__":
    main()
