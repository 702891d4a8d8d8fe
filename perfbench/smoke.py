"""Smoke self-test of the benchmark.

    python3 perfbench/smoke.py [--workloads ingest_bulk,leaf_queries]

For every workload, at tiny size (5k turns, sf0.001):

- an untraced and a traced run must exit 0, report ``correct`` and print
  exactly the end-to-end / per-layer metric names and units of
  ``BENCHMARK.json``, and every per-layer metric must be measured by the
  traced run of some workload;
- a run with ``--corrupt-oracle`` (one deliberately wrong expected count)
  must report that operation as failed.

Then the benchmark command, run in a directory holding only
``BENCHMARK.json`` and the benchmark's own files, must exit non-zero
without printing a result.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
TINY = {"ingest_bulk": ["--turns", "5000"], "leaf_queries": ["--sf", "0.001"]}


def bench(cwd: str, spec: dict, workload: str, *extra: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*spec["command"], "--workload", workload, "--seed", "1", "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900)


def last_json(proc: subprocess.CompletedProcess) -> dict | None:
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default=",".join(w["name"] for w in spec["workloads"]))
    args = p.parse_args()
    expected = {
        "0": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "1": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }
    problems, measured = [], set()
    for workload in args.workloads.split(","):
        for trace in ("0", "1"):
            proc = bench(ROOT, spec, workload, "--trace", trace, *TINY[workload])
            result = last_json(proc)
            label = f"{workload} --trace {trace}"
            if proc.returncode != 0 or result is None:
                problems.append(f"{label}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
                continue
            got = {n: m["unit"] for n, m in result["metrics"].items()}
            if got != expected[trace]:
                problems.append(f"{label}: metric names or units differ from BENCHMARK.json: "
                                f"{sorted(set(got.items()) ^ set(expected[trace].items()))}")
            if not result["correct"] or result["failed"]:
                problems.append(f"{label}: {result['failed']} of {result['attempted']} failed")
            if trace == "1":
                with open(os.path.join(ROOT, "perfbench", "results",
                                       f"{workload}-seed1-trace1.json")) as fh:
                    measured |= set(json.load(fh)["per_layer"])
            print(f"{label}: attempted {result['attempted']}, failed {result['failed']}", flush=True)
        proc = bench(ROOT, spec, workload, "--trace", "0", "--corrupt-oracle", *TINY[workload])
        result = last_json(proc)
        if proc.returncode != 0 or result is None or result["correct"] or result["failed"] < 1:
            problems.append(f"{workload} --corrupt-oracle: the wrong count was not reported "
                            f"as a failed operation: {result}")
        else:
            print(f"{workload} --corrupt-oracle: failed {result['failed']} as it should", flush=True)

    if args.workloads == p.get_default("workloads") and measured != set(expected["1"]):
        problems.append(f"per-layer metrics no workload measured: "
                        f"{sorted(set(expected['1']) - measured)}")

    stripped = os.path.join(ROOT, "perfbench", ".work", "stripped")
    shutil.rmtree(stripped, ignore_errors=True)
    os.makedirs(stripped)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), stripped)
    for path in spec["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(stripped, path),
                        ignore=shutil.ignore_patterns(".work", "results", "__pycache__"))
    proc = bench(stripped, spec, spec["workloads"][0]["name"], "--trace", "0")
    if proc.returncode == 0 or last_json(proc) is not None:
        problems.append(f"without the program the benchmark exited {proc.returncode} "
                        f"and printed {proc.stdout[-500:]!r}")
    else:
        print(f"without the program: exit {proc.returncode}, no result", flush=True)
    shutil.rmtree(stripped, ignore_errors=True)

    for problem in problems:
        print(f"SMOKE FAILURE: {problem}", file=sys.stderr)
    print("smoke ok" if not problems else f"smoke failed: {len(problems)} problem(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
