"""Steadiness test of the benchmark: two sets of runs of the same code must
agree within the bounds BENCHMARK.json fixes.

Usage:
  python3 perfbench/steadiness.py

Each of the two sets runs every workload of BENCHMARK.json ten times at
--trace 0, each run with its own seed (set k uses seeds 1 + 1000*k + i). For
every end-to-end metric it reports the spread of a set (the distance between
the first and third quartile as a share of the median) and the change of the
second set's median against the first set's. A metric fails when a spread
exceeds its bound or the second median is worse than the first by more than
the bound. Any incorrect or failed run fails the test. Exits 1 on failure.
"""
import json
import pathlib
import statistics
import subprocess
import sys
import time

ROOT = pathlib.Path(__file__).resolve().parent.parent
RUNS = 10
SETS = 2
SEED = 1


def run(workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, str(ROOT / "perfbench" / "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    if out.returncode != 0:
        return None
    return json.loads(out.stdout.strip().splitlines()[-1])


def spread(values):
    q = statistics.quantiles(values, n=4)
    return (q[2] - q[0]) / statistics.median(values)


def main():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    ok = True
    for w in [w["name"] for w in spec["workloads"]]:
        sets = []
        for k in range(SETS):
            values = {m["name"]: [] for m in spec["end_to_end"]}
            for i in range(RUNS):
                seed = SEED + 1000 * k + i
                t0 = time.monotonic()
                r = run(w, seed, spec["run_seconds"])
                took = time.monotonic() - t0
                if r is None or not r["correct"] or r["failed"]:
                    print(f"{w} seed {seed}: run failed or incorrect ({r and r['failed']} failed)")
                    ok = False
                    continue
                for name in values:
                    values[name].append(r["metrics"][name]["value"])
                print(f"{w} seed {seed} ({took:.0f} s): " +
                      " ".join(f"{n}={v[-1]:.4g}" for n, v in values.items()), flush=True)
            sets.append(values)
        for m in spec["end_to_end"]:
            name, bound, lower = m["name"], m["bound"], m["better"] == "lower"
            meds = [statistics.median(s[name]) for s in sets]
            spreads = [spread(s[name]) for s in sets]
            worse = [(md / meds[0] - 1) if lower else (1 - md / meds[0]) for md in meds[1:]]
            bad = max(spreads) > bound or any(x > bound for x in worse)
            ok = ok and not bad
            print(f"{'FAIL' if bad else 'ok  '} {w:12s} {name:16s} bound {bound:.2f}  "
                  f"medians {' '.join(f'{x:.4g}' for x in meds)}  "
                  f"spreads {' '.join(f'{x:.3f}' for x in spreads)}  "
                  f"worse {' '.join(f'{x:+.3f}' for x in worse)}")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
