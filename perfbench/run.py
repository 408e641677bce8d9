"""Runs one benchmark workload and prints its result as the last stdout line.

Usage:
  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the library and harness if their sources changed (perfbench/build.py),
then starts one JVM (graftbench.Main) with a pinned heap. The JVM generates
the seed's inputs under .bench_build/work, sets up, measures, checks outputs
and reports raw metrics; this script names each metric with the unit
BENCHMARK.json gives it. With --trace 0 it prints the end_to_end metrics,
with --trace 1 the per_layer ones (a layer the workload never calls reads 0).
Exits non-zero, printing no result, if the build, the run or the result fails.
"""
import argparse
import json
import os
import pathlib
import shutil
import signal
import subprocess
import sys
import time

sys.path.insert(0, str(pathlib.Path(__file__).resolve().parent))
import build  # noqa: E402

# Xms = Xmx: a heap that grows and shrinks between iterations pays fresh
# page faults inside the timed window.
HEAP = "3g"
# A run, build excluded, must end within 180 s.
RUN_LIMIT_S = 170
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    args = ap.parse_args()
    # a terminated run still stops its JVM (the finally clause below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    spec = json.loads((build.ROOT / "BENCHMARK.json").read_text())
    if args.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {args.workload}")
    classes = build.build()

    started = time.monotonic()
    work = build.BUILD / "work"
    for scratch in ("tmp", "spark-local"):
        shutil.rmtree(work / scratch, ignore_errors=True)
        (work / scratch).mkdir(parents=True)
    cmd = [build.java(), f"-Xms{HEAP}", f"-Xmx{HEAP}",
           *[a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")],
           "-Duser.timezone=UTC", f"-Djava.io.tmpdir={work / 'tmp'}",
           "-cp", f"{classes}{os.pathsep}{build.spark_jars()}/*",
           "graftbench.Main", "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace), "--work", str(work)]
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=RUN_LIMIT_S - (time.monotonic() - started))
    except subprocess.TimeoutExpired:
        fail("run exceeded its time limit")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    lines = out.splitlines()
    for line in lines:
        if not line.startswith("RESULT "):
            print(line, file=sys.stderr)
    if proc.returncode != 0:
        fail(f"graftbench.Main exited with {proc.returncode}")
    results = [line[len("RESULT "):] for line in lines if line.startswith("RESULT ")]
    if len(results) != 1:
        fail("no result line")
    raw = json.loads(results[0])

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    measured = raw["metrics"]
    unknown = sorted(set(measured) - {m["name"] for m in wanted})
    if unknown:
        fail(f"metrics missing from BENCHMARK.json: {unknown}")
    metrics = {}
    for m in wanted:
        value = measured.get(m["name"])
        if value is None:
            if not args.trace:
                fail(f"end-to-end metric {m['name']} not measured")
            value = 0.0
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
    print(json.dumps({"correct": raw["correct"], "attempted": raw["attempted"],
                      "failed": raw["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
