#!/usr/bin/env python3
"""graft benchmark runner. Run from the root of a checkout.

    python3 perfbench/run.py --workload crawl --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --all        # every workload, one table
    python3 perfbench/run.py --selftest   # injected faults must fail the checks

Builds the library and the benchmark (perfbench/build.py), runs one
workload in one JVM at local[nproc], and prints the result as the last
line of stdout: {"correct", "attempted", "failed", "metrics"}. The full
result (detail metrics, failures, machine context) is written to
.bench_out/results/. See perfbench/DESIGN.md.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ("crawl", "corpus_queries")
OUT = ".bench_out"
# Spark on JDK 17 outside spark-submit (same list as build.sbt)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880


def driver_mem():
    """A quarter of physical memory, 2 to 4 GB: build.sbt's 24g default
    does not fit small machines."""
    try:
        kb = int([l.split()[1] for l in open("/proc/meminfo") if l.startswith("MemTotal:")][0])
        gb = kb // (4 * 1024 * 1024)
    except (OSError, IndexError, ValueError):
        gb = 2
    return "%dg" % max(2, min(4, gb))


def run_jvm(root, classpath, args, deadline):
    out = os.path.join(root, OUT)
    os.makedirs(os.path.join(out, "tmp"), exist_ok=True)
    mem = driver_mem()
    env = dict(os.environ, SPARK_DRIVER_MEM=mem)
    cmd = ["java", "-XX:+UseParallelGC", "-Xms" + mem, "-Xmx" + mem,
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-Djava.io.tmpdir=" + os.path.join(out, "tmp")]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main", "--out", out,
            "--corpus", os.path.join(root, "perfbench", "corpus")] + args
    log_path = os.path.join(out, "jvm.log")
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, cwd=root, env=env, stdout=subprocess.PIPE, stderr=log,
                             text=True, start_new_session=True)
        try:
            stdout, _ = p.communicate(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise RuntimeError("benchmark JVM exceeded its time limit (log: %s)" % log_path)
    lines = [l for l in stdout.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if p.returncode != 0 or not lines:
        tail = open(log_path).read()[-3000:]
        raise RuntimeError("benchmark JVM exited %d without a result:\n%s" % (p.returncode, tail))
    return json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])


def one(root, workload, seed, seconds, trace, extra=()):
    start = time.time()
    classpath, built = build.build(root)
    limit = BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S
    res = run_jvm(root, classpath, ["--workload", workload, "--seed", str(seed),
                                    "--seconds", str(seconds), "--trace", str(trace)] + list(extra),
                  start + limit)
    res["context"]["built"] = built
    res["context"]["driver_mem"] = driver_mem()
    res["context"]["runner_wall_s"] = time.time() - start
    results = os.path.join(root, OUT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, res["run_id"] + ".json"), "w") as fh:
        json.dump(res, fh, indent=1)
    return res


def describe(res):
    print("# %s seed=%s trace=%s attempted=%d failed=%d" % (
        res["workload"], res["seed"], int(res["trace"]), res["attempted"], res["failed"]))
    for k, m in list(res["metrics"].items()) + list(res["detail"].items()):
        print("  %-32s %16.6g %s" % (k, m["value"], m["unit"]))
    for f in res["failures"]:
        print("  FAILED " + f)
    print("  context " + json.dumps(res["context"]))


def final_line(res):
    return json.dumps({"correct": res["failed"] == 0, "attempted": res["attempted"],
                       "failed": res["failed"], "metrics": res["metrics"]})


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--all", action="store_true", help="run every workload untraced")
    ap.add_argument("--selftest", action="store_true", help="check that injected faults are caught")
    a = ap.parse_args()
    root = os.getcwd()
    try:
        if a.selftest:
            ok = True
            for w, fault in (("crawl", "fetch"), ("corpus_queries", "query")):
                res = one(root, w, a.seed, 1, 0, ["--inject", fault])
                caught = res["failed"] > 0
                ok &= caught
                print("selftest %-15s %-6s failed_ops=%d/%d %s" % (
                    w, fault, res["failed"], res["attempted"], "caught" if caught else "MISSED"))
            sys.exit(0 if ok else 1)
        if a.all:
            for w in WORKLOADS:
                describe(one(root, w, a.seed, a.seconds, a.trace))
            return
        if not a.workload:
            ap.error("--workload is required")
        res = one(root, a.workload, a.seed, a.seconds, a.trace)
    except (build.BuildError, RuntimeError) as e:
        print(e, file=sys.stderr)
        sys.exit(2)
    describe(res)
    print(final_line(res))


if __name__ == "__main__":
    main()
