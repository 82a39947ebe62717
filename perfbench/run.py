#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload corpus_curation --seed 1 --seconds 10 --trace 0

Run from the repository root. Prints progress lines, then as its last
line one JSON object: ``{"correct", "attempted", "failed", "metrics"}``.
With ``--trace 0`` the metrics are the end-to-end ones, with
``--trace 1`` the per-layer ones (see ``BENCHMARK.json``); a traced run
also writes its spans to ``.perfbench_work/traces/``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("corpus_curation", "tick_ingest")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    # Spark's Python workers import the package from the checkout; every
    # temporary file stays inside it (the JVMs write no /tmp/hsperfdata);
    # collected timestamps read as UTC
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    tmp = os.path.join(ROOT, ".perfbench_work", "run", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=tmp,
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        TZ="UTC",
    )
    time.tzset()
    try:
        import asset_prices_parquet_saver_spark  # noqa: F401
    except ImportError as ex:
        print(f"perfbench: the package is not importable from {ROOT}: {ex}", file=sys.stderr)
        return 2

    from perfbench import workloads as w

    ctx = w.Context(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        if args.workload == "corpus_curation":
            metrics = w.run_mix(ctx, w.CORPUS_CURATION)
        else:
            metrics = w.run_ticks(ctx)
    finally:
        ctx.close()
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
