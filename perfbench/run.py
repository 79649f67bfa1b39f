"""Run one benchmark workload for one seed and print its result.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload {ingest_churn,corpus_batch} \
        --seed N --seconds S --trace {0,1}

The last line of stdout is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Each metric is
``{"value": ..., "unit": ...}``. The line before it is the run's host
context (nproc, loadavg, the DuckDB speed canary, timed after the run
so that set-up does not include it), which is not a metric. A traced run also writes its spans to
``.perfbench/spans-<workload>-<seed>.jsonl``.

The exit code is non-zero if any output check failed, or if the
package is not in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
from pathlib import Path  # noqa: E402

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.common import (  # noqa: E402
    OUT_DIR,
    Workdir,
    host_context,
    package_present,
    speed_canary,
    stop_spark,
)

WORKLOADS = ("ingest_churn", "corpus_batch")


def per_layer_names() -> dict[str, str]:
    """Every per-layer metric name in BENCHMARK.json, with its unit."""
    spec = json.loads((Path(__file__).resolve().parent.parent / "BENCHMARK.json").read_text())
    return {m["name"]: m["unit"] for m in spec["per_layer"]}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args(argv)
    if not package_present():
        print("perfbench: the engine package is not in this checkout", file=sys.stderr)
        return 2

    context = host_context()
    work = Workdir(args.workload, args.seed)
    if args.workload == "ingest_churn":
        from perfbench.serving import IngestChurn as Workload
    else:
        from perfbench.batch import CorpusBatch as Workload
    bench = Workload(args.seed, args.seconds, bool(args.trace), T_START)
    try:
        bench.setup(work)
        bench.run()
        if args.trace:
            from perfbench.tracer import spark_counters

            stop_spark(bench.spark)
            bench.spark = None
            counters = spark_counters(work / "events")
            layer = bench.per_layer(counters)
            bench.tracer.write(OUT_DIR / f"spans-{args.workload}-{args.seed}.jsonl")
            units = per_layer_names()
            # layers a workload does not exercise report 0
            metrics = {
                name: {"value": float(layer.get(name, 0.0)), "unit": unit}
                for name, unit in units.items()
            }
        else:
            metrics = {
                name: {"value": float(value), "unit": unit}
                for name, (value, unit) in bench.end_to_end().items()
            }
    finally:
        if getattr(bench, "spark", None) is not None:
            stop_spark(bench.spark)
        work.remove()

    context["loadavg_end"] = list(os.getloadavg())
    context["canary_s"] = speed_canary()
    print(json.dumps({"context": context}))
    for failure in bench.failures:
        print(f"FAILED {failure}", file=sys.stderr)
    failed = len(bench.failures)
    # the result: one JSON object, the last line of stdout
    result = {"correct": failed == 0, "attempted": bench.attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(result), flush=True)
    return 0 if failed == 0 else 1


if __name__ == "__main__":
    raise SystemExit(main())
