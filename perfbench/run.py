#!/usr/bin/env python3
"""Run one benchmark measurement and print its result as the last line.

    python3 perfbench/run.py --workload encode|read --seed N --seconds S --trace 0|1

Builds the engine and the benchmark from source when needed
(perfbench/build.py), then runs one JVM driving Spark local[4] with a
single closed-loop client. With --trace 0 the result carries every
end-to-end metric BENCHMARK.json names; with --trace 1 every per-layer
metric, and the spans go to .bench_out/trace-<workload>-seed<N>.json.
The JVM's log goes to .bench_out/jvm-<workload>-seed<N>-trace<T>.log.
Scratch data lives in .bench_work/ and is removed when the run ends.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

ROOT = build.ROOT
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as build.sbt's javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def expected_metrics(trace):
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def run_jvm(classpath, args, work):
    out_dir = ROOT / ".bench_out"
    out_dir.mkdir(exist_ok=True)
    (work / "tmp").mkdir(parents=True)
    log_path = out_dir / f"jvm-{args.workload}-seed{args.seed}-trace{args.trace}.log"
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:ParallelGCThreads=4",
           f"-Djava.io.tmpdir={work / 'tmp'}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graft.perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", str(work), "--out", str(out_dir)]
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log, text=True,
                                cwd=ROOT, start_new_session=True)
        try:
            stdout, _ = proc.communicate(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise RuntimeError(f"benchmark JVM exceeded {JVM_TIMEOUT_S}s")
    if proc.returncode != 0:
        tail = log_path.read_text()[-3000:]
        raise RuntimeError(f"benchmark JVM exited with {proc.returncode}:\n{tail}")
    return stdout


def parse(stdout, wanted):
    measured, result = {}, None
    for line in stdout.splitlines():
        f = line.split()
        if len(f) == 4 and f[0] == "METRIC":
            measured[f[1]] = (float(f[2]), f[3])
        elif len(f) == 4 and f[0] == "RESULT":
            result = (f[1] == "true", int(f[2]), int(f[3]))
    if result is None:
        raise RuntimeError("benchmark JVM printed no RESULT line")
    metrics = {}
    for name, unit in wanted.items():
        if name not in measured:
            raise RuntimeError(f"metric {name} was not measured")
        value, got_unit = measured[name]
        if got_unit != unit:
            raise RuntimeError(f"metric {name}: unit {got_unit}, BENCHMARK.json says {unit}")
        if value != value:
            raise RuntimeError(f"metric {name} is not a number")
        metrics[name] = {"value": value, "unit": unit}
    correct, attempted, failed = result
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["encode", "read"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()
    try:
        wanted = expected_metrics(args.trace)
        classpath = build.build()
        work = ROOT / ".bench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
        try:
            result = parse(run_jvm(classpath, args, work), wanted)
        finally:
            shutil.rmtree(work, ignore_errors=True)
    except (OSError, ValueError, KeyError, RuntimeError, build.CompileError) as e:
        sys.exit(f"perfbench: {e}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
