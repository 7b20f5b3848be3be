#!/usr/bin/env python3
"""Run one benchmark workload and print its result line.

    python3 perfbench/run.py --workload geo_join --seed 1 --seconds 12 --trace 0

Builds the engine and the benchmark from source on first use (see build.py),
then starts the benchmark JVM on local[nproc]. The last line of standard
output is one JSON object with `correct`, `attempted`, `failed` and `metrics`:
the end-to-end metrics of BENCHMARK.json with `--trace 0`, its per-layer
metrics with `--trace 1`. The line before it is the host record. Traced runs
also write their spans to `<build dir>/traces/`.
"""
import argparse
import json
import math
import os
import shutil
import signal
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in the checkout
import build  # noqa: E402

HEAP = ["-Xms1536m", "-Xmx1536m"]
TIMEOUT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
RESULT_PREFIX = "PERFBENCH_RESULT "


def fail(msg, code=1):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=build.ROOT, text=True,
                           stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    try:
        with open(spec_path) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        fail(f"cannot read {spec_path}: {e}", 2)
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}", 2)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]

    try:
        classpath, source_hash = build.ensure()
        java = build.java()
    except build.BuildError as e:
        fail(f"build: {e}", 2)

    slots = len(os.sched_getaffinity(0))
    tag = f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}"
    work = os.path.join(build.build_dir(), "work", tag)
    spans = os.path.join(build.build_dir(), "traces", tag + ".jsonl")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = [java] + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        *HEAP, "-Dfile.encoding=UTF-8", "-Dstdout.encoding=UTF-8",
        "-Djava.io.tmpdir=" + os.path.join(work, "tmp"),
        "-Dlog4j2.configurationFile=" + os.path.join(build.HERE, "log4j2.properties"),
        "-cp", classpath, "perfbench.Main",
        "--workload", args.workload, "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--trace", str(args.trace), "--work", work, "--slots", str(slots), "--spans", spans]

    load_before = os.getloadavg()
    # a termination signal unwinds through the `finally` below, which stops the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    proc = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, text=True,
                            start_new_session=True)
    result, detail = None, {}
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"timed out after {TIMEOUT_S} s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    load_after = os.getloadavg()
    shutil.rmtree(work, ignore_errors=True)

    for line in out.splitlines():
        if line.startswith(RESULT_PREFIX):
            result = json.loads(line[len(RESULT_PREFIX):])
        else:
            print(line)
            if line.startswith('{"workload"'):
                detail = json.loads(line)
    if proc.returncode != 0 or result is None:
        fail(f"benchmark JVM exited with {proc.returncode} and no result")

    values = result["metrics"]
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        fail(f"metrics not reported: {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}
    finite = all(isinstance(v["value"], (int, float)) and math.isfinite(v["value"])
                 for v in metrics.values())
    print(json.dumps({"host": {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "nproc": slots, "loadavg_before": load_before, "loadavg_after": load_after,
        "heap": " ".join(HEAP), "jdk": detail.get("jdk"), "spark": detail.get("spark"),
        "speed_msteps_per_s": detail.get("host_speed_msteps_per_s"),
        "git_commit": git_commit(), "source_sha256_16": source_hash,
        "spans": spans if args.trace else None}}))
    print(json.dumps({
        "correct": result["failed"] == 0 and result["attempted"] >= 1 and finite,
        "attempted": result["attempted"], "failed": result["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
