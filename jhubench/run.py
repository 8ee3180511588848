#!/usr/bin/env python3
"""The repository's benchmark: one workload per run, one JSON result line.

    python3 jhubench/run.py --workload jhu-daily --seed 7 --seconds 4 --trace 0
    python3 jhubench/run.py --selftest

Workloads (see BENCHMARK.json and jhubench/WORKLOADS.md):
  jhu-daily     Pipelines.parser2 + Sink.flatJson on 289 locations x 550
                dates, then point lookups on its output
  jhu-lake      Pipelines.parser x 3 into a type= lake (Sink.partitionedJson),
                then Lake.registerTable and a six-query mix

The launcher builds the program from source (build.py), lands the seeded
inputs in one JVM (jhubench.Main --mode land, no Spark), measures the workload
on them in a fresh JVM with a local[N] Spark session (--mode run), and prints
the result as its last stdout line:
`{"correct", "attempted", "failed", "metrics"}`. `--trace 0` reports the
end-to-end metrics of BENCHMARK.json, `--trace 1` its per-layer metrics. It
exits 1 when an output check fails and 2 when it cannot run at all.

Everything it writes goes under `.bench_build/jhubench` in the checkout; the
per-run directory is removed at exit.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
DEADLINE_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def jvm(classes, work, args, timeout, log="jvm.log"):
    # The heap is touched in full at start: otherwise the first batch pays
    # the page faults of a fresh heap, whose cost varies with the host. Two
    # GC and two JIT compiler threads: with the defaults (four and three) the
    # JVM kept three of four cores busy while it warmed up, so its times
    # moved with every other tenant of the host (jhubench/WORKLOADS.md).
    cmd = ["java", "-Xms1g", "-Xmx1g", "-XX:+AlwaysPreTouch", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2",
           "-XX:CICompilerCount=2", "-Xss8m", "-XX:-UsePerfData", f"-Djava.io.tmpdir={work}/tmp",
           "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"), "jhubench.Main",
            "--work", work] + args
    with open(os.path.join(work, log), "w") as fh:
        return subprocess.run(cmd, stdout=fh, stderr=subprocess.STDOUT, timeout=timeout).returncode


def log_tail(work, n=40, log="jvm.log"):
    try:
        with open(os.path.join(work, log), errors="replace") as fh:
            return "".join(fh.readlines()[-n:])
    except OSError:
        return ""


def result_line(spec, res, trace, correct, attempted, failed):
    names = spec["per_layer"] if trace else spec["end_to_end"]
    metrics = {}
    for m in names:
        v = res.get("metrics", {}).get(m["name"])
        if v is None and trace:
            v = 0.0  # a layer this workload does not exercise
        if v is None or not math.isfinite(v):
            correct, failed = False, failed + 1
            print(f"metric {m['name']} was not measured")
            v = 0.0
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}, correct


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, help="measuring time (default: run_seconds of BENCHMARK.json)")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true", help="run the oracle self-test and the CSV canary")
    a = ap.parse_args()
    # on SIGTERM, unwind so that subprocess.run kills and reaps the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            spec = json.load(fh)
        workloads = [w["name"] for w in spec["workloads"]]
        seconds = a.seconds or spec["run_seconds"]
        if not a.selftest and a.workload not in workloads:
            raise build.BuildError(f"unknown workload {a.workload!r}; one of {workloads}")
        classes = build.build()
        # the time limit excludes a build, which only the first run in a checkout makes
        started = time.monotonic()
    except (OSError, ValueError, KeyError, build.BuildError) as e:
        print(f"cannot run: {e}", file=sys.stderr)
        return 2

    work = os.path.join(build.BUILD, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    try:
        if a.selftest:
            code = jvm(classes, work, ["--mode", "selftest"], timeout=600)
            print("".join(line for line in open(os.path.join(work, "jvm.log"), errors="replace")
                          if line.startswith("[PASS]") or line.startswith("[FAIL]") or line.startswith("[PENDING]")))
            return code
        common = ["--workload", a.workload, "--seed", str(a.seed)]
        code = jvm(classes, work, ["--mode", "land"] + common, timeout=DEADLINE_S, log="land.log")
        if code != 0 or not os.path.isfile(os.path.join(work, "land.json")):
            print(f"landing JVM exited with {code}:\n{log_tail(work, log='land.log')}", file=sys.stderr)
            return 2
        code = jvm(classes, work, ["--mode", "run"] + common + ["--seconds", str(seconds), "--trace", str(a.trace)],
                   timeout=DEADLINE_S - (time.monotonic() - started))
        path = os.path.join(work, "result.json")
        if code != 0 or not os.path.isfile(path):
            print(f"benchmark JVM exited with {code}:\n{log_tail(work)}", file=sys.stderr)
            return 2
        with open(path) as fh:
            res = json.load(fh)
        attempted, failed = res["attempted"], res["failed"]
        for p in res["checks"]:
            print(f"check failed: {p}")
        b = res["batches"]
        print(f"workload {a.workload} seed {a.seed}: first, {b['warm']} warm-up and {b['timed']} timed batches, "
              f"{res['queries']} timed queries, host_probe_s {res['metrics']['host.probe_s']:.4f}")
        print(f"setup {res['setup']} batches {res['walls']}")
        print("phases " + json.dumps({k: round(v, 2) for k, v in res["phases"].items()}))
        if a.trace:
            print("all layer values: " + json.dumps(res["metrics"], sort_keys=True))
        line, correct = result_line(spec, res, a.trace == 1, failed == 0, attempted, failed)
        print(json.dumps(line))
        return 0 if correct else 1
    except subprocess.TimeoutExpired:
        print(f"benchmark JVM did not finish in time:\n{log_tail(work)}", file=sys.stderr)
        return 2
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
