"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The last line of standard output is one
JSON object with ``correct``, ``attempted``, ``failed`` and ``metrics``:
the end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. Everything a run writes stays under ``perfbench/.work``
(inputs, outputs, Spark scratch) and ``perfbench/results`` (one JSON file
per run with every sample, the environment and, for traced runs, the
per-layer metrics). See ``perfbench/README.md``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def parse_args(argv: list[str]) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int, default=10,
                   help="run length; sets the fixed operation count of the run")
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--turns", type=int, default=0,
                   help="input turns of an ingest workload (default per workload)")
    p.add_argument("--sf", type=float, default=0.0,
                   help="scale factor of the leaf tables (default 0.01)")
    p.add_argument("--corrupt-oracle", action="store_true",
                   help="expect one wrong count, to show that a mismatch is reported")
    return p.parse_args(argv)


def _isolate(work: str) -> None:
    """Keep every file a run writes under ``work`` and let Python workers
    import the checkout."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # every JVM (the launcher and the driver): temp files under ``work``, and
    # no hsperfdata file, which HotSpot writes to /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["QS_DRIVER_MEMORY"] = "2g"
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = None
    os.chdir(work)


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    sys.path.insert(0, ROOT)
    try:
        import quickwit_spark  # noqa: F401
        import pyspark  # noqa: F401
        from perfbench import workloads
        from perfbench.common import reap_children
    except ImportError as e:
        print(f"perfbench: cannot import the program from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"one of {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    run = workloads.Run(args, ROOT, T_START)
    os.makedirs(run.work, exist_ok=True)
    _isolate(run.work)
    env = workloads.env_info(ROOT)
    try:
        with run.rss:
            workloads.WORKLOADS[args.workload](run)
            run.finish()
    finally:
        reap_children()
    env["loadavg_end"] = os.getloadavg()
    run.e2e["peak_rss_mb"] = run.rss.peak / 2**20
    run.detail["rss_at_peak"] = run.rss.at_peak

    if args.trace:
        metrics = spec["per_layer"]
        unknown = set(run.layers) - {m["name"] for m in metrics}
        if unknown:
            raise RuntimeError(f"per-layer values not named in BENCHMARK.json: {sorted(unknown)}")
        values = {m["name"]: run.layers.get(m["name"], 0.0) for m in metrics}
    else:
        metrics = spec["end_to_end"]
        values = run.e2e
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {m["name"]: {"value": float(values[m["name"]]), "unit": m["unit"]}
                    for m in metrics},
    }
    results = os.path.join(ROOT, "perfbench", "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as fh:
        json.dump({"args": vars(args), "env": env, "result": result, "errors": run.errors,
                   "end_to_end": run.e2e, "per_layer": run.layers, "detail": run.detail},
                  fh, indent=1, default=str)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
