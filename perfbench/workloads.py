"""The two workloads. Each runs closed loop with one client: the next
query or micro-batch starts only after the previous one completes.

A workload run is: set-up (session start plus warm-up, repeated
``SETUP_REPS`` times in one process; the first start launches the JVM),
``WARM_PASSES`` untimed passes that compile the hot paths, then whole
timed passes, starting a new one until ``--seconds`` have passed, then
the correctness checks. A run reports the median
of its timed passes. With tracing on, the run records spans and Spark
counters and reports the time its own tracing calls took inside the
pass.
"""

from __future__ import annotations

import contextlib
import math
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback
from collections import Counter

from perfbench import check, gen
from perfbench.trace import MemSampler, SparkCounters, Tracer, alive, descendants, plan_counts

#: The corpus-curation family: MinHash dedup and LSH pairs (sharing the
#: LSH memo), text-quality Arrow kernels, BM25, exact top-k and
#: embedding dedup. Kernels, pins and jobs run while the plan is built.
CORPUS_CURATION = (
    "fuzzy_dedup_documents minhash_lsh_pairs text_quality_stats bm25_search "
    "cosine_topk semantic_dedup_embeddings"
).split()

#: Spark JVM heap. It is fixed and touched at start (initial = maximum,
#: pre-touched), so the memory metric reads what a deployment must
#: provision plus native and Python-worker memory, not how far the
#: collector happened to grow the heap. The sf0.01-sized tables need far
#: less; 2g keeps a run small on a 4-core, 15 GiB host.
JVM_HEAP = "2g"
SETUP_REPS = 3
#: untimed passes after set-up: the first pass of a JVM runs about twice
#: as long as later ones (JIT and code generation), and a run holds too
#: few passes for a median to absorb it
WARM_PASSES = 1
#: live loop: the backlog is drained in this many bursts; a
#: read-after-write of both tables follows each
TICK_SEGMENTS = 2
#: compaction folds the bar table's segment log once it exceeds this
MAX_SEGMENTS = 2


_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _pct(xs, q):
    """Nearest-rank percentile."""
    return sorted(xs)[max(0, math.ceil(q * len(xs)) - 1)] if xs else 0.0


def _dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _dir_files(path: str, suffix: str = "") -> set[str]:
    return {
        os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs if f.endswith(suffix)
    }


class Context:
    def __init__(self, root: str, workload: str, seed: int, seconds: float, trace: bool):
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.work = os.path.join(root, ".perfbench_work")
        self.run_dir = os.path.join(self.work, "run")
        shutil.rmtree(self.run_dir, ignore_errors=True)
        os.makedirs(self.run_dir)
        self.cores = len(os.sched_getaffinity(0))
        self.tables = self._tables()
        self.tracer = Tracer(trace)
        self.spark = None
        self.attempted = 0
        self.failed = 0
        self.layer: dict[str, float] = {}

    def _tables(self) -> str:
        """Generated tables, cached per table-generator source (they do
        not depend on ``--seed``)."""
        import hashlib
        import inspect

        src = inspect.getsource(gen.build_tables) + repr((gen.SF, gen.TABLE_SEED))
        tag = hashlib.sha256(src.encode()).hexdigest()[:12]
        path = os.path.join(self.work, f"tables-{tag}")
        if not os.path.exists(os.path.join(path, "COMPLETE")):
            tmp = f"{path}.{os.getpid()}.tmp"
            shutil.rmtree(tmp, ignore_errors=True)
            gen.write_tables(tmp)
            open(os.path.join(tmp, "COMPLETE"), "w").close()
            shutil.rmtree(path, ignore_errors=True)
            os.replace(tmp, path)
        return path

    def _start_session(self):
        from asset_prices_parquet_saver_spark.session import get_spark

        return get_spark(
            app_name="perfbench",
            cpus=self.cores,
            extra_conf={
                "spark.driver.memory": JVM_HEAP,
                "spark.local.dir": os.path.join(self.run_dir, "spark-local"),
                "spark.sql.warehouse.dir": os.path.join(self.run_dir, "warehouse"),
                "spark.driver.extraJavaOptions": f"-Xms{JVM_HEAP} -XX:+AlwaysPreTouch",
            },
        )

    def setup(self, warmup) -> None:
        """Session start plus ``warmup(spark, rep)``, ``SETUP_REPS`` times;
        the first start also launches the JVM."""
        starts, warms = [], []
        for _ in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            with self.tracer.span("setup"):
                t0 = time.perf_counter()
                with self.tracer.span("session.start"):
                    self.spark = self._start_session()
                t1 = time.perf_counter()
                with self.tracer.span("session.warmup"):
                    warmup(self.spark, len(starts))
                t2 = time.perf_counter()
            starts.append(t1 - t0)
            warms.append(t2 - t1)
        self.setup_s = _median([s + w for s, w in zip(starts, warms)])
        self.layer.update({
            "session.jvm_start_s": starts[0],
            "session.start_s": _median(starts),
            "session.warmup_s": _median(warms),
        })
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        log(f"setup done: {self.setup_s:.2f}s median of {SETUP_REPS}")
        self.counters = SparkCounters(self.spark) if self.trace else None

    def timed_passes(self, run_pass) -> tuple[list[dict], float]:
        """Run ``WARM_PASSES`` untimed passes, then whole timed passes
        ``run_pass(k)``, starting a new one until ``--seconds`` have
        passed; returns the timed passes' results and their peak memory
        in MB. A pass that starts before the deadline runs to its end, so
        the pass count stays the same over a wide range of pass times."""
        for k in range(WARM_PASSES):
            log(f"warm pass {k}: {run_pass(k)['pass_s']:.2f}s")
        passes: list[dict] = []
        with MemSampler(self.jvm_pid) as mem:
            t0 = time.perf_counter()
            while time.perf_counter() - t0 < self.seconds:
                passes.append(run_pass(WARM_PASSES + len(passes)))
                log(f"pass {len(passes) - 1}: {passes[-1]['pass_s']:.2f}s")
        return passes, mem.peak

    def close(self) -> None:
        if self.trace:
            self.tracer.write(
                os.path.join(self.work, "traces", f"{self.workload}-seed{self.seed}.json")
            )
        if self.spark is not None:
            self._stop_jvm()
        shutil.rmtree(self.run_dir, ignore_errors=True)

    def _stop_jvm(self) -> None:
        """Stop Spark, then end the JVM and its Python workers and wait
        for them: the JVM otherwise only exits once this process has."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc
        workers = descendants(proc.pid)
        self.spark.stop()
        gateway.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        proc.stdin.close()  # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
        deadline = time.monotonic() + 30
        for pid in workers:
            while alive(pid) and time.monotonic() < deadline:
                time.sleep(0.05)
            if alive(pid):
                with contextlib.suppress(ProcessLookupError):
                    os.kill(pid, signal.SIGKILL)


# ------------------------------------------------------------ reporting

E2E_UNITS = {"setup_s": "s", "pass_s": "s", "peak_mem_mb": "MB"}


def _end_to_end(ctx: Context, passes: list[dict], peak_mem: float) -> dict:
    values = {
        "setup_s": ctx.setup_s,
        "pass_s": _median([p["pass_s"] for p in passes]),
        "peak_mem_mb": peak_mem,
    }
    return {k: (v, E2E_UNITS[k]) for k, v in values.items()}


#: Per-layer metrics. Time spent in a layer that only some workloads run
#: is reported as a share of the traced pass (``*_share``; multiply by
#: ``trace.pass_s`` for seconds), so that a workload without the layer
#: reads a ratio of 0 rather than a constant time.
LAYER_UNITS = {
    "plans.build_share": "ratio", "plans.build_jobs": "count",
    "plans.execute_share": "ratio", "plans.execute_jobs": "count",
    "plans.exchanges": "count", "plans.checkpoint_scans": "count",
    "functions.kernel_nodes": "count",
    "operators.stages": "count", "operators.tasks": "count",
    "operators.shuffle_write_bytes": "bytes", "operators.shuffle_read_bytes": "bytes",
    "operators.task_cpu_s": "s", "operators.gc_share": "ratio",
    "operators.failed_tasks": "count", "operators.busy_ratio": "ratio",
    "sources.input_bytes": "bytes",
    "functions.offcpu_s": "s", "functions.pins.rdds": "count",
    "functions.pins.block_mb": "MB",
    "streaming.overhead_share": "ratio", "streaming.wal_share": "ratio",
    "streaming.state_rows": "count", "streaming.dedup_keep_ratio": "ratio",
    "streaming.ticks_per_s": "1/s",
    "sources.prices_daily.merge_share": "ratio", "sources.prices_daily.files_written": "count",
    "sources.fresh_read_share": "ratio", "sources.stored_bytes_per_input_byte": "ratio",
    "operators.incremental_agg.refresh_share": "ratio",
    "operators.incremental_agg.compact_share": "ratio",
    "operators.incremental_agg.compactions": "count", "sources.manifest.segments": "count",
    "sources.manifest.commit_bytes": "bytes",
    "session.jvm_start_s": "s", "session.start_s": "s", "session.warmup_s": "s",
    "ops.count": "count", "ops.p50_s": "s", "ops.p90_s": "s",
    "trace.pass_s": "s", "trace.overhead_ratio": "ratio", "error_rate": "ratio",
}


def _stage_layer(c: Counter, wall_s: float, cores: int) -> dict:
    run_s = c["run_ms"] / 1000
    return {
        "operators.stages": c["stages"],
        "operators.tasks": c["tasks"],
        "operators.shuffle_write_bytes": c["shuffle_write_bytes"],
        "operators.shuffle_read_bytes": c["shuffle_read_bytes"],
        "operators.task_cpu_s": c["cpu_ns"] / 1e9,
        "operators.gc_share": c["gc_ms"] / c["run_ms"] if c["run_ms"] else 0.0,
        "operators.failed_tasks": c["failed_tasks"],
        "operators.busy_ratio": run_s / (wall_s * cores) if wall_s else 0.0,
        "sources.input_bytes": c["input_bytes"],
        "functions.offcpu_s": max(run_s - c["cpu_ns"] / 1e9, 0.0),
    }


def _per_layer(ctx: Context, passes: list[dict]) -> dict:
    """Per-layer values are per-pass totals (medians over passes); a
    layer the workload does not exercise reads 0."""
    layer = {k: 0.0 for k in LAYER_UNITS}
    layer.update(ctx.layer)
    keys = set().union(*(p["layer"] for p in passes))
    layer.update({k: _median([p["layer"].get(k, 0.0) for p in passes]) for k in keys})
    # tracing cost: time spent in tracing calls inside the timed pass,
    # against the rest of the pass
    layer["trace.pass_s"] = _median([p["pass_s"] for p in passes])
    layer["trace.overhead_ratio"] = _median(
        [p["trace_s"] / (p["pass_s"] - p["trace_s"]) for p in passes]
    )
    # per-op latency: a query (plan-building call to collected rows) or a
    # micro-batch (triggerExecution); a pass has only a handful of ops
    ops = [x for p in passes for x in p["ops"]]
    layer["ops.count"] = len(ops)
    layer["ops.p50_s"] = _pct(ops, 0.5)
    layer["ops.p90_s"] = _pct(ops, 0.9)
    layer["error_rate"] = ctx.failed / max(ctx.attempted, 1)
    return {k: (v, LAYER_UNITS[k]) for k, v in layer.items()}


def report(ctx: Context, passes: list[dict], peak_mem: float) -> dict:
    if ctx.trace:
        return _per_layer(ctx, passes)
    return _end_to_end(ctx, passes, peak_mem)


# ---------------------------------------------------------- query mixes

def run_mix(ctx: Context, names: list[str]) -> dict:
    """One pass runs every query of ``names``, in a seeded order, from
    the plan-building call until its rows are collected here; the
    collected rows are then checked against the oracle, outside the
    timed region. Each pass scans its own copy of the tables: memo keys
    include the input file listing, so a pass starts cold like a new
    daily snapshot while queries inside the pass share memos, as in one
    curation run."""
    from asset_prices_parquet_saver_spark.plans import ORACLE, QUERIES

    oracle = check.oracle_results(ctx.tables, ORACLE, names)

    def warmup(spark, rep):
        # the package's entry query, outside both mixes, through
        # the same collect path as the timed queries
        QUERIES["flagship_pricing_summary"](spark, ctx.tables).collect()

    ctx.setup(warmup)
    spark, tracer, counters = ctx.spark, ctx.tracer, ctx.counters
    rng = random.Random(ctx.seed)
    results: list[tuple[str, list[dict], list[str]]] = []

    def run_pass(k: int) -> dict:
        data = os.path.join(ctx.run_dir, f"pass-{k}")
        shutil.copytree(ctx.tables, data, ignore=shutil.ignore_patterns("*.json", "COMPLETE"))
        order = rng.sample(names, len(names))
        ops, layer, groups = [], Counter(), []
        trace_s = 0.0
        first_job = counters.last_job() if ctx.trace else 0
        t0 = time.perf_counter()
        with tracer.span("pass", k=k):
            for i, name in enumerate(order):
                ctx.attempted += 1
                gb, gx = f"p{k}.q{i}.build", f"p{k}.q{i}.execute"
                try:
                    with tracer.span("query", name=name):
                        tq = time.perf_counter()
                        if counters:
                            counters.set_group(gb)
                        with tracer.span("plans.build"):
                            df = QUERIES[name](spark, data)
                        tb = time.perf_counter()
                        if counters:
                            counters.set_group(gx)
                        with tracer.span("plans.execute"):
                            rows = df.collect()
                        te = time.perf_counter()
                        ops.append(te - tq)
                        layer["build_s"] += tb - tq
                        layer["execute_s"] += te - tb
                except Exception:
                    ctx.failed += 1
                    log(f"FAILED {name}:\n{traceback.format_exc()}")
                    continue
                finally:
                    if counters:
                        counters.set_group(None)
                results.append((name, rows, df.columns))
                if counters:
                    tt = time.perf_counter()
                    groups.append((gb, gx))
                    layer.update(plan_counts(df))
                    rdds, mb = counters.cached_blocks()
                    layer["pins.rdds"] = max(layer["pins.rdds"], rdds)
                    layer["pins.block_mb"] = max(layer["pins.block_mb"], mb)
                    trace_s += time.perf_counter() - tt
        pass_s = time.perf_counter() - t0
        out = {"pass_s": pass_s, "ops": ops, "trace_s": trace_s, "layer": {}}
        if counters:
            stages = counters.stage_totals(counters.jobs_after(first_job))
            out["layer"] = {
                "plans.build_share": layer["build_s"] / pass_s,
                "plans.execute_share": layer["execute_s"] / pass_s,
                "plans.build_jobs": sum(len(counters.group_jobs(gb)) for gb, _ in groups),
                "plans.execute_jobs": sum(len(counters.group_jobs(gx)) for _, gx in groups),
                "plans.exchanges": layer["exchanges"],
                "plans.checkpoint_scans": layer["checkpoint_scans"],
                "functions.kernel_nodes": layer["kernel_nodes"],
                "functions.pins.rdds": layer["pins.rdds"],
                "functions.pins.block_mb": layer["pins.block_mb"],
                **_stage_layer(stages, pass_s, ctx.cores),
            }
        shutil.rmtree(data, ignore_errors=True)
        return out

    passes, peak = ctx.timed_passes(run_pass)
    for name, rows, cols in results:
        ctx.attempted += 1
        problems = check.result_problems([r.asDict() for r in rows], cols, oracle[name])
        if problems:
            ctx.failed += 1
            log(f"MISMATCH {name}: {'; '.join(problems)}")
    return report(ctx, passes, peak)


# ------------------------------------------------------------ live loop

def run_ticks(ctx: Context) -> dict:
    """Drain a backlog of tick files through the live upsert stream in
    ``TICK_SEGMENTS`` bursts (an availableNow run each, one file per
    micro-batch). Each batch also folds into the incremental OHLC bar
    table, compacting its segment log once it grows past
    ``MAX_SEGMENTS``. A read of both tables follows each burst. After
    the timed passes the tables of every drain are compared with a
    recompute over all generated ticks."""
    from pyspark.sql import functions as F

    from asset_prices_parquet_saver_spark.functions.portable_hash import md5_int60
    from asset_prices_parquet_saver_spark.operators import incremental_agg
    from asset_prices_parquet_saver_spark.schema import LIVE_TRADE_SCHEMA
    from asset_prices_parquet_saver_spark.sources import manifest
    from asset_prices_parquet_saver_spark.sources.prices_daily import (
        merge_ticks_incremental,
        read_prices_daily,
    )
    from asset_prices_parquet_saver_spark.streaming.live import run_live_upsert

    feed = gen.tick_feed(ctx.seed)
    expected = check.expected_tick_tables(feed)
    staging = os.path.join(ctx.run_dir, "ticks")
    os.makedirs(staging)
    files = []
    for b in range(feed.n_batches):
        files.append(os.path.join(staging, f"ticks-{b:03d}.parquet"))
        gen.write_tick_batch(feed, b, files[-1])
    input_bytes = sum(os.path.getsize(f) for f in files)
    n_ticks = len(feed.ts_us)

    def warmup(spark, rep):
        # one batch merge of the first tick file into a throwaway table
        merge_ticks_incremental(
            spark, os.path.join(ctx.run_dir, f"warmup-{rep}"), spark.read.parquet(files[0])
        )

    ctx.setup(warmup)
    spark, tracer, counters = ctx.spark, ctx.tracer, ctx.counters
    # same deterministic tick id as the CLI's bar mode
    tick_id = md5_int60(F.concat_ws(
        "|", F.col("symbol"), F.col("ts").cast("string"), F.col("price").cast("string")
    ))
    drained: list[tuple[str, str]] = []  # (prices, bars) of every finished drain

    def drain(k: int) -> dict:
        base = os.path.join(ctx.run_dir, f"pass-{k}")
        drop, prices, bars = (os.path.join(base, d) for d in ("drop", "prices", "bars"))
        os.makedirs(drop)
        hooks: list[dict] = []
        progress: list[dict] = []
        reads: list[float] = []
        listed = {"prices": set(), "bars": set()}

        def on_batch(batch, epoch_id):
            t0 = time.perf_counter()
            with tracer.span("operators.incremental_agg.refresh", epoch=epoch_id):
                incremental_agg.refresh_ohlc(
                    batch.withColumn("event_id", tick_id), bars, txn=("perfbench", epoch_id)
                )
            t1 = time.perf_counter()
            with tracer.span("operators.incremental_agg.compact", epoch=epoch_id):
                compacted = incremental_agg.maybe_compact(
                    spark, bars, incremental_agg.compact_ohlc, max_segments=MAX_SEGMENTS
                )
            t2 = time.perf_counter()
            h = {"refresh_s": t1 - t0, "compact_s": t2 - t1, "compacted": compacted}
            if counters:
                rdds, mb = counters.cached_blocks()
                now_p, now_b = _dir_files(prices, ".parquet"), _dir_files(bars)
                h.update(
                    rdds=rdds, block_mb=mb, rows_merged=batch.count(),
                    files_written=len(now_p - listed["prices"]),
                    commit_bytes=sum(os.path.getsize(f) for f in now_b - listed["bars"]),
                    trace_s=time.perf_counter() - t2,
                )
                listed.update(prices=now_p, bars=now_b)
            h["hook_s"] = time.perf_counter() - t0
            hooks.append(h)

        first_job = counters.last_job() if counters else 0
        per_seg = -(-feed.n_batches // TICK_SEGMENTS)
        t0 = time.perf_counter()
        with tracer.span("pass", k=k):
            for s0 in range(0, feed.n_batches, per_seg):
                for i in range(s0, min(s0 + per_seg, feed.n_batches)):
                    dst = os.path.join(drop, os.path.basename(files[i]))
                    shutil.copyfile(files[i], dst)
                    os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))
                with tracer.span("streaming.run"):
                    stream = (
                        spark.readStream.schema(LIVE_TRADE_SCHEMA)
                        .option("maxFilesPerTrigger", 1)
                        .parquet(drop)
                    )
                    q = run_live_upsert(
                        spark, stream, prices, checkpoint_dir=os.path.join(base, "ckpt"),
                        available_now=True, on_batch=on_batch, layout="daily",
                    )
                    q.awaitTermination()
                    progress.extend(p for p in q.recentProgress if p["numInputRows"] > 0)
                with tracer.span("sources.fresh_read"):
                    tr = time.perf_counter()
                    incremental_agg.read_ohlc(spark, bars).write.mode("overwrite").format("noop").save()
                    read_prices_daily(spark, prices).write.mode("overwrite").format("noop").save()
                    reads.append(time.perf_counter() - tr)
        pass_s = time.perf_counter() - t0
        if len(progress) != feed.n_batches or len(hooks) != feed.n_batches:
            raise RuntimeError(f"{len(progress)} batches for {feed.n_batches} files")
        drained.append((prices, bars))
        trace_s = sum(h.get("trace_s", 0.0) for h in hooks)
        out = {
            "pass_s": pass_s,
            "ops": [p["durationMs"]["triggerExecution"] / 1000 for p in progress],
            "trace_s": trace_s,
            "layer": {},
        }
        if counters:
            dur = [p["durationMs"] for p in progress]
            rows_in = sum(p["numInputRows"] for p in progress)
            stored = _dir_bytes(prices) + _dir_bytes(bars)
            stages = counters.stage_totals(counters.jobs_after(first_job))
            out["layer"] = {
                "streaming.overhead_share": sum(d["triggerExecution"] - d["addBatch"] for d in dur)
                / 1000 / pass_s,
                "streaming.wal_share": sum(d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur)
                / 1000 / pass_s,
                "streaming.state_rows": progress[-1]["stateOperators"][0]["numRowsTotal"],
                "streaming.dedup_keep_ratio": sum(h["rows_merged"] for h in hooks) / rows_in,
                "streaming.ticks_per_s": n_ticks / (pass_s - trace_s),
                "sources.prices_daily.merge_share": (
                    sum(d["addBatch"] for d in dur) / 1000 - sum(h["hook_s"] for h in hooks)
                ) / pass_s,
                "sources.prices_daily.files_written": sum(h["files_written"] for h in hooks),
                "sources.fresh_read_share": sum(reads) / pass_s,
                "sources.stored_bytes_per_input_byte": stored / input_bytes,
                "operators.incremental_agg.refresh_share": sum(h["refresh_s"] for h in hooks) / pass_s,
                "operators.incremental_agg.compact_share": sum(h["compact_s"] for h in hooks) / pass_s,
                "operators.incremental_agg.compactions": sum(h["compacted"] for h in hooks),
                "sources.manifest.segments": manifest.segment_count(bars),
                "sources.manifest.commit_bytes": sum(h["commit_bytes"] for h in hooks),
                "functions.pins.rdds": max(h["rdds"] for h in hooks),
                "functions.pins.block_mb": max(h["block_mb"] for h in hooks),
                **_stage_layer(stages, pass_s, ctx.cores),
            }
        return out

    def run_pass(k: int) -> dict:
        ctx.attempted += feed.n_batches
        t0 = time.perf_counter()
        try:
            return drain(k)
        except Exception:
            ctx.failed += feed.n_batches
            log(f"FAILED drain {k}:\n{traceback.format_exc()}")
            return {"pass_s": time.perf_counter() - t0, "ops": [], "trace_s": 0.0, "layer": {}}

    passes, peak = ctx.timed_passes(run_pass)
    for prices, bars in drained:
        ohlc = [r.asDict() for r in incremental_agg.read_ohlc(spark, bars).collect()]
        rows = [r.asDict() for r in read_prices_daily(spark, prices).collect()]
        got = check.actual_tick_tables(ohlc, rows)
        for name, a, e in zip(("read_ohlc", "read_prices_daily"), got, expected):
            ctx.attempted += 1
            bad = check.table_mismatches(a, e)
            if bad:
                ctx.failed += 1
                log(f"MISMATCH {name}: {bad} rows differ from the recompute")
    return report(ctx, passes, peak)
