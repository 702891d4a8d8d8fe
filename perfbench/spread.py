"""Run-to-run spread of the end-to-end metrics.

    python3 perfbench/spread.py --workload ingest_bulk --seeds 1-10 [--seconds 10]

Runs ``perfbench/run.py`` once per seed, one run at a time, and prints for
each end-to-end metric its median and the distance between the first and
third quartile as a share of the median (``statistics.quantiles(n=4)``),
next to the metric's bound in ``BENCHMARK.json``. Raw results are appended
to ``perfbench/results/spread.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seeds", default="1-10")
    p.add_argument("--seconds", type=int)
    args = p.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    seconds = args.seconds or spec["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    values: dict[str, list[float]] = {n: [] for n in bounds}
    os.makedirs(os.path.join(ROOT, "perfbench", "results"), exist_ok=True)
    log = open(os.path.join(ROOT, "perfbench", "results", "spread.jsonl"), "a")
    for seed in seeds(args.seeds):
        t = time.perf_counter()
        proc = subprocess.run(
            [*spec["command"], "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", "0"],
            cwd=ROOT, capture_output=True, text=True, timeout=900)
        wall = time.perf_counter() - t
        if proc.returncode != 0:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", file=sys.stderr)
            return 1
        result = json.loads(proc.stdout.strip().splitlines()[-1])
        log.write(json.dumps({"workload": args.workload, "seed": seed, "wall_s": wall,
                              "loadavg": os.getloadavg(), **result}) + "\n")
        log.flush()
        for n in values:
            values[n].append(result["metrics"][n]["value"])
        print(f"seed {seed}: wall {wall:.1f}s correct={result['correct']} " + " ".join(
            f"{n}={result['metrics'][n]['value']:.4g}" for n in values), flush=True)
    print(f"{'metric':<20} {'median':>12} {'iqr/median':>11} {'bound':>6}")
    for n, v in values.items():
        if len(v) < 2:
            continue
        q1, q2, q3 = statistics.quantiles(v, n=4)
        print(f"{n:<20} {q2:>12.4g} {(q3 - q1) / q2:>11.3f} {bounds[n]:>6}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
