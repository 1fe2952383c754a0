"""Steadiness check: run one workload over several seeds and report, per
metric, the median, the quartiles and the spread (interquartile range
as a share of the median), against the bounds in BENCHMARK.json.

    python3 perfbench/steady.py --workload serve --seeds 1-10 --sets 2

With `--sets 2` the seeds run twice and the two medians are compared,
which is how a regression check sees run-to-run drift.  Run from the
root of a checkout, like run.py.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys


def seed_list(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, q1, q3, (q3 - q1) / median) with the quartiles of
    statistics.quantiles(values, n=4)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / abs(med) if med else float("inf")


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        raise RuntimeError(f"{cmd} exited {proc.returncode}: {proc.stderr[-2000:]}")
    return json.loads(lines[-1])


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--sets", type=int, default=1)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    seeds = seed_list(args.seeds)
    sets: list[dict[str, list[float]]] = []
    report: dict = {"workload": args.workload, "seeds": seeds, "runs": []}
    for s in range(args.sets):
        values: dict[str, list[float]] = {}
        for seed in seeds:
            res = run_once(args.workload, seed, bench["run_seconds"], args.trace)
            report["runs"].append({"set": s, "seed": seed, **res})
            print(f"set {s} seed {seed}: correct={res['correct']} "
                  f"attempted={res['attempted']} failed={res['failed']}", flush=True)
            for name, m in res["metrics"].items():
                values.setdefault(name, []).append(m["value"])
        sets.append(values)

    ok = True
    report["metrics"] = {}
    for name in sets[0]:
        row = {}
        for s, values in enumerate(sets):
            med, q1, q3, sp = spread(values[name])
            row[f"set{s}"] = {"median": med, "q1": q1, "q3": q3, "spread": sp}
        bound = bounds.get(name)
        line = f"{name:32s}" + "".join(
            f" | med {r['median']:12.4f} q1 {r['q1']:12.4f} q3 {r['q3']:12.4f}"
            f" spread {r['spread']:.4f}" for r in row.values())
        if bound is not None:
            line += f" | bound {bound}"
            steady = name == "setup_s" or all(
                r["spread"] <= bound / 3 for r in row.values())
            if len(row) > 1:
                a, b = row["set0"]["median"], row["set1"]["median"]
                drift = abs(b - a) / abs(a)
                row["drift"] = drift
                line += f" drift {drift:.4f}"
                steady = steady and drift <= bound
            line += "" if steady else "  <-- NOT STEADY"
            ok = ok and steady
        report["metrics"][name] = row
        print(line)
    os.makedirs(".bench_out", exist_ok=True)
    with open(f".bench_out/steady-{args.workload}-trace{args.trace}.json", "w") as f:
        json.dump(report, f, indent=1)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
