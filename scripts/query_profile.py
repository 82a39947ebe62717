#!/usr/bin/env python
"""Profile registered queries: the build and execute phases, the Spark
jobs each phase ran, their stage totals, and the executed plan's nodes.

Every sample starts cold (``pins.clear_memos()``). The query builder runs
under one job group and the final plan under another. Jobs, stages,
tasks, shuffle bytes and plan node counts are all read through
``perfbench.trace``, the counters the benchmark reports. The one count
this script adds is parquet scans per table in the final plan: a table
scanned twice with no reused exchange is duplicated work.

The execute phase runs the DataFrame's own physical plan
(``executedPlan().execute().count()``), so no rows reach the driver and
the adaptive plan read afterwards is the final one that ran. (A noop-sink
write runs a copy of the plan and leaves the DataFrame's own at
``isFinalPlan=false``.)

Queries read the tables in ``$SPARK_GRAFT_SF_DIR``. The result is one
JSON object keyed by query, on stdout and optionally in ``--out``.

Usage:
    python scripts/query_profile.py [--runs N] [--out FILE] [--plans DIR]
                                    [--ab MODULE:ATTR] [name ...]

The round notes up to r13 used five scripts; their commands map to:
    profile sweep   [--out F] [--runs N] q...   ->  --out F --runs N q...
    job trace       [--out F] q...              ->  --out F q...  (record "jobs")
    dup-scan sweep  [--min-dup N] q...          ->  q...  (records "scans", "plan_counts")
    plan dump       --dir D [--suffix S] q...   ->  --plans D q...
    interleaved A/B q MOD:ATTR [reps] [sf_dir]  ->  --ab MOD:ATTR --runs reps q
"""

from __future__ import annotations

import argparse
import contextlib
import importlib
import json
import os
import re
import statistics
import sys
import time
import traceback
from collections import Counter

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from asset_prices_parquet_saver_spark.functions.pins import clear_memos  # noqa: E402
from asset_prices_parquet_saver_spark.plans import QUERIES  # noqa: E402
from asset_prices_parquet_saver_spark.session import get_spark  # noqa: E402
from perfbench.trace import SparkCounters, plan_counts  # noqa: E402

from bench import HEADLINE, _reclaim  # noqa: E402

#: a parquet scan node and the first path of its location
_SCAN = re.compile(r"FileScan parquet [^\n]*?Location: \w+\(\d+ paths?\)\[([^\],\n]+)")


def table_scans(plan: str) -> dict[str, int]:
    """Parquet scans per table in an executed-plan string. Only the final
    section of an adaptive plan is read; its initial plan follows it."""
    final = plan.split("== Initial Plan ==")[0]
    names = (os.path.basename(p.rstrip("/")).removesuffix(".parquet") for p in _SCAN.findall(final))
    return dict(Counter(names))


def _job(store, job_id: int, phase: str) -> dict:
    j = store.job(job_id)
    start, end = j.submissionTime(), j.completionTime()
    sec = None
    if start.isDefined() and end.isDefined():
        sec = (end.get().getTime() - start.get().getTime()) / 1000
    return {
        "job": job_id,
        "phase": phase,
        "sec": sec,
        "stages": j.stageIds().size(),
        "tasks": j.numTasks(),
        "name": j.name()[:140],
    }


def _seconds(rec: dict) -> float:
    return rec["build_s"] + rec["execute_s"]


def sample(spark, counters: SparkCounters, name: str, sf_dir: str, tag: str,
           plan_path: str | None = None) -> dict:
    """One cold run of query ``name``: build it, optionally write its
    formatted plan to ``plan_path``, then execute it."""
    clear_memos()
    groups = {"build": f"{tag}.build", "execute": f"{tag}.execute"}
    try:
        counters.set_group(groups["build"])
        t0 = time.perf_counter()
        df = QUERIES[name](spark, sf_dir)
        t1 = time.perf_counter()
        counters.set_group(None)
        qe = df._jdf.queryExecution()
        if plan_path:
            mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
            with open(plan_path, "w") as fh:
                fh.write(qe.explainString(mode))
        counters.set_group(groups["execute"])
        t2 = time.perf_counter()
        qe.executedPlan().execute().count()
        t3 = time.perf_counter()
    finally:
        counters.set_group(None)
    jobs = {phase: sorted(counters.group_jobs(g)) for phase, g in groups.items()}
    plan = qe.executedPlan().toString()
    return {
        "build_s": round(t1 - t0, 3),
        "execute_s": round(t3 - t2, 3),
        "build_jobs": len(jobs["build"]),
        "execute_jobs": len(jobs["execute"]),
        "jobs": [_job(counters.store, j, phase) for phase, ids in jobs.items() for j in ids],
        "stage_totals": dict(counters.stage_totals(jobs["build"] + jobs["execute"])),
        # a plan without an exchange is not adaptive: final as built
        "final_plan": "isFinalPlan=false" not in plan,
        "plan_counts": plan_counts(df),
        "scans": table_scans(plan),
    }


def profile(spark, names: list[str], sf_dir: str, runs: int = 1,
            plans: str | None = None) -> dict[str, dict]:
    """The fastest of ``runs`` cold samples per query. A query that
    raises gets an ``error`` record and the sweep goes on."""
    counters = SparkCounters(spark)
    out: dict[str, dict] = {}
    for i, name in enumerate(names):
        if i % 8 == 0:
            _reclaim(spark)
        plan_path = plans and os.path.join(plans, f"{name}.txt")
        try:
            recs = [sample(spark, counters, name, sf_dir, f"prof-{name}-{r}", plan_path)
                    for r in range(runs)]
        except Exception:
            traceback.print_exc()
            out[name] = {"error": traceback.format_exc(limit=0).strip()}
            continue
        rec = out[name] = min(recs, key=_seconds)
        print(
            f"{name}: build {rec['build_s']}s/{rec['build_jobs']} jobs, "
            f"execute {rec['execute_s']}s/{rec['execute_jobs']} jobs, "
            f"{rec['plan_counts']}, scans {rec['scans']}",
            file=sys.stderr, flush=True,
        )
    return out


@contextlib.contextmanager
def toggled(mod, attr: str, value):
    """Set ``mod.attr`` for the block; the prior value comes back however
    the block exits."""
    old = getattr(mod, attr)
    setattr(mod, attr, value)
    try:
        yield
    finally:
        setattr(mod, attr, old)


def ab(spark, name: str, toggle: str, sf_dir: str, runs: int,
       plans: str | None = None) -> dict:
    """Interleaved same-session A/B of query ``name``: variant A runs with
    ``toggle`` (``module:attr``) set True, B with it False, ``runs`` cold
    samples each. The toggle must be read while the plan is built. Host
    throughput drifts between windows, so the variants alternate inside
    one session, and the order within each rep alternates too, so a
    monotone drift favours neither."""
    mod_name, attr = toggle.split(":")
    mod = importlib.import_module(mod_name)
    counters = SparkCounters(spark)
    # untimed: codegen and the query's imports in the Python workers
    sample(spark, counters, name, sf_dir, f"ab-{name}-warm")
    out: dict[str, list] = {"A": [], "B": []}
    for rep in range(runs):
        for v in ("A", "B") if rep % 2 == 0 else ("B", "A"):
            plan_path = plans and os.path.join(plans, f"{name}.{v}.txt")
            with toggled(mod, attr, v == "A"):
                out[v].append(sample(spark, counters, name, sf_dir, f"ab-{name}-{rep}{v}", plan_path))
    med = {f"{v}_med_s": statistics.median(map(_seconds, recs)) for v, recs in out.items()}
    print(f"{name}: {toggle} {med}", file=sys.stderr, flush=True)
    return {"toggle": toggle, **out, **med}


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0], formatter_class=argparse.RawDescriptionHelpFormatter
    )
    ap.add_argument("--runs", type=int, default=1,
                    help="cold samples per query, per variant with --ab (default 1); "
                         "without --ab the fastest is kept")
    ap.add_argument("--out", metavar="FILE", help="also write the JSON result to FILE")
    ap.add_argument("--plans", metavar="DIR",
                    help="write each query's explain('formatted'), taken before "
                         "execution, to DIR/<name>.txt (DIR/<name>.A.txt and .B.txt with --ab)")
    ap.add_argument("--ab", metavar="MODULE:ATTR",
                    help="interleaved A/B per query: ATTR True (A) against False (B)")
    ap.add_argument("names", nargs="*", help="registered queries (default: bench.HEADLINE)")
    args = ap.parse_args(argv)
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR")
    if not sf_dir:
        ap.error("set SPARK_GRAFT_SF_DIR to a scale-factor directory of generated tables")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    spark = get_spark(app_name="query-profile")
    # same warmup as bench.py: JVM, codegen and the Python worker pool
    for q in ("flagship_pricing_summary", "embedding_near_pairs_lsh"):
        QUERIES[q](spark, sf_dir).count()
    names = args.names or list(HEADLINE)
    if args.ab:
        result = {n: ab(spark, n, args.ab, sf_dir, args.runs, args.plans) for n in names}
    else:
        result = profile(spark, names, sf_dir, args.runs, args.plans)
    line = json.dumps(result, sort_keys=True)
    if args.out:
        with open(args.out, "w") as fh:
            fh.write(line)
    print(line)
    spark.stop()


if __name__ == "__main__":
    main()
