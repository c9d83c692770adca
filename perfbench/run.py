#!/usr/bin/env python3
"""Benchmark of the extraction engine: one command, three workloads.

    python3 perfbench/run.py --workload <extract|corpus_chain|epochs> \
        --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (perfbench/build.py) on
first use, runs one workload in a fresh JVM and relays its report. The
last stdout line is a JSON object with `correct`, `attempted`, `failed`
and `metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1` (spans go to .bench_build/traces/).

Steadiness mode reruns workloads (default: those in BENCHMARK.json) with
consecutive seeds and prints each metric's median, quartiles and spread
(IQR / median) next to its bound:

    python3 perfbench/run.py --steady 10 [--workload w ...] [--seed 1] \
        [--seconds s] [--trace 0|1]

Everything the benchmark writes stays under .bench_build/.
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

ROOT = build.ROOT
WORKLOADS = ["extract", "corpus_chain", "epochs"]
JVM_TIMEOUT_S = 170
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_once(cp, workload, seed, seconds, trace):
    """Run one workload in its own JVM; return (exit code, stdout lines)."""
    tag = "%s-seed%d-trace%d" % (workload, seed, trace)
    work = os.path.join(build.BUILD, "work", "%s-%d" % (tag, os.getpid()))
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(logs, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", "-XX:+UseParallelGC", "-Xms2g", "-Xmx2g", "-Xmn768m", "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--work", work,
            "--trace-out", os.path.join(build.BUILD, "traces", tag + ".json")]
    log_path = os.path.join(logs, tag + ".log")
    try:
        with open(log_path, "w") as log:
            env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
            proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                    cwd=ROOT, env=env, start_new_session=True)
            try:
                out, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                sys.stderr.write("benchmark JVM exceeded %ds; killed\n" % JVM_TIMEOUT_S)
                return 1, []
    finally:
        shutil.rmtree(work, ignore_errors=True)
    with open(log_path) as log:
        for line in log:
            if line.startswith("[perfbench]"):
                sys.stderr.write(line)
    if proc.returncode != 0:
        sys.stderr.write("benchmark JVM exited %d; log %s:\n" % (proc.returncode, log_path))
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
    return proc.returncode, out.splitlines()


def steady(cp, args):
    """Rerun each workload with `args.steady` consecutive seeds; summarize."""
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    seconds = args.seconds or spec["run_seconds"]
    summary = {}
    for w in args.workload or [w["name"] for w in spec["workloads"]]:
        values = {}
        for seed in range(args.seed, args.seed + args.steady):
            code, lines = run_once(cp, w, seed, seconds, args.trace)
            res = json.loads(lines[-1]) if code == 0 and lines else None
            if not res or not res["correct"] or res["failed"]:
                sys.exit("%s seed %d failed" % (w, seed))
            for k, m in res["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print("%s seed %d: %s" % (w, seed, " ".join(
                "%s=%.4g" % (k, m["value"]) for k, m in res["metrics"].items())), flush=True)
        summary[w] = {}
        for k, vs in values.items():
            q1, med, q3 = statistics.quantiles(vs, n=4)
            spread = (q3 - q1) / med if med else float("nan")
            summary[w][k] = {"median": med, "q1": q1, "q3": q3, "spread": spread,
                             "bound": bounds.get(k), "n": len(vs)}
            b = bounds.get(k)
            flag = "" if b is None else ("ok" if spread < b / 3 else "WIDE (bound %.3g)" % b)
            print("%-14s %-34s median %12.5g  q1 %12.5g  q3 %12.5g  spread %.4f %s"
                  % (w, k, med, q1, q3, spread, flag), flush=True)
    print(json.dumps(summary, sort_keys=True))


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", action="append", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, default=0)
    args = ap.parse_args()
    try:
        cp = build.build()
    except build.BuildError as e:
        sys.stderr.write("build failed: %s\n" % e)
        return 2
    if args.steady:
        steady(cp, args)
        return 0
    if not args.workload or len(args.workload) != 1:
        ap.error("give exactly one --workload")
    seconds = args.seconds or json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
    code, lines = run_once(cp, args.workload[0], args.seed, seconds, args.trace)
    if code != 0 or not lines or not lines[-1].startswith("{"):
        return 1
    print("\n".join(lines))
    return 0


if __name__ == "__main__":
    sys.exit(main())
