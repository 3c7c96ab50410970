#!/usr/bin/env python3
"""CDC pipeline benchmark. Run from the root of a checkout:

    python3 perfbench/run.py --workload cdc_bulk|cdc_tail --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --self-test

Builds the program and the benchmark from source (perfbench/build.py),
runs one workload in one JVM on local[min(nproc, 4)], and prints as its
last stdout line {"correct", "attempted", "failed", "metrics"}: the
end-to-end metrics with --trace 0, the per-layer metrics with --trace 1.
A traced cdc_bulk run adds a second, single-core pass of half the
seconds whose figures are reported as local1.*. Exits non-zero on a
wrong sink state, a failed build or a run that cannot finish.
BENCHMARK.json and perfbench/METRICS.md describe every workload and
metric.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # leave nothing beside the sources
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# the per-layer figures the single-core pass contributes, as local1.<name>
LOCAL1 = ["trace.rows_per_s", "parse.ms", "lww.ms", "transform.ms",
          "sink.apply_ms", "pipeline.add_batch_ms", "pipeline.self_ms"]
RUN_BUDGET_S = 170


def java(cp, work, main, args, timeout):
    """Run one JVM; return (exit code, stdout lines), or (None, lines)
    when it had to be killed at `timeout` seconds."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # no hsperfdata files in the system temp directory
    cmd = ["java", "-Xmx3g", "-Xss4m", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, main] + args
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, env=env,
                            start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=max(1, timeout))
        return proc.returncode, out.splitlines()
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        out, _ = proc.communicate()
        return None, out.splitlines()


def result(lines):
    for line in reversed(lines):
        if line.startswith('{"correct"'):
            return json.loads(line)
    return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=["cdc_bulk", "cdc_tail"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=20)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    if not a.self_test and not a.workload:
        ap.error("--workload is required")
    try:
        cp = build.build()
    except build.BuildError as e:
        sys.exit(f"perfbench: build failed: {e}")
    start = time.monotonic()
    work = os.path.join(build.OUT, "work")
    cores = max(1, min(os.cpu_count() or 1, 4))
    common = ["--work", work]

    if a.self_test:
        code, lines = java(cp, work, "perfbench.SelfTest", common,
                           RUN_BUDGET_S)
        print("\n".join(lines))
        sys.exit(1 if code != 0 else 0)

    def run(extra, budget, seconds=a.seconds):
        args = ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(seconds), "--trace", str(a.trace),
                "--deadline", str(budget - 10)] + common + extra
        code, lines = java(cp, work, "perfbench.Main", args, budget)
        res = result(lines)
        for line in lines:
            if not line.startswith('{"correct"'):
                print(line)
        if code is None or res is None:
            sys.exit(f"perfbench: {a.workload} did not finish "
                     f"(exit {code}, no result line)")
        return code, res

    local1 = a.trace == 1 and a.workload == "cdc_bulk"
    code, res = run(["--cores", str(cores)],
                    RUN_BUDGET_S * (0.6 if local1 else 1.0))
    if a.trace == 1:
        extra = {}
        if local1:
            c1, r1 = run(["--cores", "1", "--only-traced"],
                         RUN_BUDGET_S - (time.monotonic() - start),
                         seconds=max(1, a.seconds // 2))
            code = code or c1
            res["correct"] = res["correct"] and r1["correct"]
            res["attempted"] += r1["attempted"]
            res["failed"] += r1["failed"]
            extra = {n: r1["metrics"][n]["value"] for n in LOCAL1}
        for n in LOCAL1:
            unit = res["metrics"][n]["unit"]
            res["metrics"]["local1." + n.replace("trace.", "")] = {
                "value": extra.get(n, 0.0), "unit": unit}
    print(json.dumps(res, separators=(",", ":")))
    sys.stdout.flush()
    sys.exit(0 if code == 0 and res["correct"] else 1)


if __name__ == "__main__":
    main()
