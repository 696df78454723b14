"""The measured process of one benchmark run (started by ``run.py``).

Phases:

1. Set-up: ``get_spark`` plus ``bench.py``'s three warmups (JVM/codegen,
   Python worker pool, state store). ``setup_s`` runs from the moment
   ``run.py`` spawned this process.
2. Untraced: one cold operation, then warm operations until ``--seconds``
   have passed. An operation is one drain (``ingest_replay``) or one pass
   over the queries (``query_mix``). These give the end-to-end metrics.
3. Traced (``--trace 1`` only): the session restarts with the event log
   and a progress listener on, and public engine functions wrapped in
   spans; after one discarded operation, warm operations run for
   ``--seconds`` again. These give the per-layer metrics. A plain session
   then repeats that untraced, for the tracing overhead; ``ingest_replay``
   runs its coverage probe there, and the same drain at ``local[1]``.

The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import shutil
import statistics
import time
from dataclasses import dataclass
from datetime import datetime

from binance_data_ingestor_spark.session import get_spark

import tracing
import wl_ingest
import wl_queries

BASE_CONF = {"spark.ui.showConsoleProgress": "false"}
# The fixed test tables at sf0.01 (TESTDATA.md), shipped read-only with the
# benchmark (data/SHA256SUMS); sf0.001 is for the self-test.
QUERY_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.01")
# The replay source serves frames stream by stream, 10,000 a micro-batch:
# 10,000 frames per stream make three full micro-batches and no tail. They
# cycle over three symbols (3,334 / 3,333 / 3,333), and the limiter stops
# the query once every (stream, symbol) pair has passed SAMPLES frames.
FRAMES_PER_STREAM = 10_000
SAMPLES = 3333
# The limiter's stop races the last micro-batch's progress report, so only
# the batches before it are read: the first, which also starts the source
# and plans the new query, and the steady-state one after it.
BATCHES = len(wl_ingest.STREAMS) * FRAMES_PER_STREAM // wl_ingest.FULL_BATCH
PROBE_PER_PAIR = 20
BIG_PER_STREAM = 3700  # > maxFramesPerBatch (10,000) over three streams


def warmup(spark, sf_dir: str, tmp: str) -> None:
    """``bench.py``'s three warmups, in its order."""
    from binance_data_ingestor_spark.queries import registry

    qs, _ = registry()
    qs["q01_pricing_summary"](spark, sf_dir).write.format("noop").mode("overwrite").save()
    n = spark.sparkContext.defaultParallelism
    (
        spark.range(n).repartition(n).mapInPandas(lambda it: it, "id long")
        .write.format("noop").mode("overwrite").save()
    )
    wm = os.path.join(tmp, "warm_stream")
    try:
        spark.sql(
            "SELECT * FROM VALUES (1, timestamp'2030-01-01'),"
            " (1, timestamp'2030-01-01') AS t(k, ts)"
        ).write.parquet(f"{wm}/in")
        (
            spark.readStream.schema("k int, ts timestamp").parquet(f"{wm}/in")
            .withWatermark("ts", "1 minute")
            .dropDuplicatesWithinWatermark(["k"])
            .writeStream.format("noop")
            .option("checkpointLocation", f"{wm}/ckpt")
            .trigger(availableNow=True)
            .start()
            .awaitTermination(120)
        )
    finally:
        shutil.rmtree(wm, ignore_errors=True)


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM not found")


def geomean(xs) -> float:
    return math.exp(statistics.fmean(math.log(x) for x in xs))


def epoch(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp()


@dataclass
class Op:
    """Outcome of one operation (a drain or a query pass)."""

    wall_s: float
    items: int  # frames delivered, or queries run
    latencies_ms: list[float]  # full micro-batches, or queries in QUERIES order
    attempted: int
    failures: dict[str, str]  # {what: why}
    span: tracing.Span
    detail: dict


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class IngestReplay:
    def __init__(self, work: str, seed: int) -> None:
        self.work = work
        self.frames = os.path.join(work, "frames")
        self.out = os.path.join(work, "out")

    def op(self, spark, *, cold: bool, spans=None) -> Op:
        cfg = wl_ingest.ingest_config(
            self.frames, self.out, streams=wl_ingest.STREAMS,
            outputs=["parquet", "json"], samples=SAMPLES, redis=False,
        )
        d = wl_ingest.drain(spark, cfg, self.work)
        want = wl_ingest.expected(wl_ingest.STREAMS, SAMPLES)
        failures = {}
        if d.error:
            failures["drain"] = d.error
        for fmt in ("parquet", "json"):
            got = wl_ingest.sink_counts(os.path.join(self.out, fmt), fmt)
            if got != want:
                failures[fmt] = f"rows per (stream, symbol) {dict(got)} != {SAMPLES} each"
        if d.delivered != sum(want.values()):
            failures["limiter"] = f"delivered {d.delivered} of {sum(want.values())}"
        sizes = [wl_ingest.sink_size(os.path.join(self.out, f)) for f in ("parquet", "json")]
        span = tracing.Span("drain", d.ended_at - d.wall_s, d.ended_at)
        read = [p for p in d.progress if p["batchId"] < BATCHES - 1]
        steady = [p["durationMs"]["triggerExecution"] for p in read if p["batchId"] > 0]
        return Op(
            d.wall_s, d.delivered, steady,
            1, failures, span,
            {"drain": d, "progress": read,
             "bytes": sum(s for s, _ in sizes), "files": sum(f for _, f in sizes)},
        )

    @staticmethod
    def op_geomean_ms(warm: list[Op]) -> float:
        """Geometric mean of the steady-state micro-batch times of every
        warm drain."""
        return geomean(x for op in warm for x in op.latencies_ms)

    def patch(self, spans: tracing.Spans) -> None:
        from pyspark.sql.streaming.readwriter import DataStreamWriter

        from binance_data_ingestor_spark.streaming import jobs

        spans.patch(jobs, "normalize_multiplexed", "operators.normalize_multiplexed")
        spans.patch(jobs, "write_batch", lambda df, out, fmt, **kw: f"sinks.files.{fmt}")
        spans.patch(jobs.SampleLimiter, "take", "streaming.limiter_take")
        spans.patch(DataStreamWriter, "start", "streaming.start")

        def mark_done(orig):
            def check_done(limiter):
                orig(limiter)
                if limiter.done.is_set() and not getattr(limiter, "_traced_done", False):
                    limiter._traced_done = True
                    spans.mark("streaming.limiter_done")

            return check_done

        spans.replace(jobs.SampleLimiter, "check_done", mark_done)

    def layers(self, ops: list[Op], spans: tracing.Spans) -> dict:
        rows = []
        for op in ops:
            d, s, progress = op.detail["drain"], op.span, op.detail["progress"]
            dur = [p["durationMs"] for p in progress]
            started = [x.start for x in spans.items
                       if x.name == "streaming.start" and s.start <= x.start <= s.end]
            done = [x.start for x in spans.items
                    if x.name == "streaming.limiter_done" and s.start <= x.start <= s.end]
            rows.append({
                "sources.start_s": epoch(progress[0]["timestamp"]) - started[0],
                "sources.latest_offset_ms": sum(x.get("latestOffset", 0) for x in dur),
                "sources.rows_read": sum(p["numInputRows"] for p in progress),
                "sources.batches": sum(1 for x in spans.items if x.name == "streaming.limiter_take"
                                       and s.start <= x.start <= s.end),
                "sources.reads_per_frame": sum(p["numInputRows"] for p in progress)
                / (wl_ingest.FULL_BATCH * len(progress)),
                "operators.normalize_build_s": spans.total("operators.normalize_multiplexed", s.start, s.end),
                "streaming.query_planning_ms": sum(x.get("queryPlanning", 0) for x in dur),
                "streaming.add_batch_ms": sum(x.get("addBatch", 0) for x in dur),
                "streaming.limiter_s": spans.total("streaming.limiter_take", s.start, s.end),
                "streaming.wal_commit_ms": sum(x.get("walCommit", 0) for x in dur),
                "streaming.commit_offsets_ms": sum(x.get("commitOffsets", 0) for x in dur),
                "streaming.stop_lag_s": d.ended_at - done[0] if done else 0.0,
                "sinks.files.parquet_s": spans.total("sinks.files.parquet", s.start, s.end),
                "sinks.files.json_s": spans.total("sinks.files.json", s.start, s.end),
                "sinks.files.bytes": op.detail["bytes"],
                "sinks.files.files": op.detail["files"],
            })
        out = {k: statistics.median(r[k] for r in rows) for k in rows[0]}
        batches = [x for op in ops for x in op.latencies_ms]
        out["streaming.batch_p50_ms"] = statistics.median(batches)
        out["streaming.batch_samples"] = len(batches)
        return out


class QueryMix:
    def __init__(self, work: str, seed: int) -> None:
        self.sf_dir = QUERY_DATA
        self.rng = random.Random(seed)

    def op(self, spark, *, cold: bool, spans=None) -> Op:
        order = self.rng.sample(wl_queries.QUERIES, len(wl_queries.QUERIES))
        t0 = time.time()
        res = wl_queries.run_pass(spark, self.sf_dir, order, collect=cold, spans=spans)
        t1 = time.time()
        per_query = {n: b + e for n, (b, e, _) in res.items()}
        if cold:
            failures = wl_queries.oracle_failures(self.sf_dir, res)
        else:
            failures = {n: repr(r) for n, (_, _, r) in res.items() if isinstance(r, Exception)}
        return Op(
            sum(per_query.values()), len(res),
            [1000.0 * per_query[n] for n in wl_queries.QUERIES],
            len(res), failures, tracing.Span("pass", t0, t1), {"res": res},
        )

    @staticmethod
    def op_geomean_ms(warm: list[Op]) -> float:
        """Geometric mean over the queries of each one's median warm time."""
        return geomean(statistics.median(s) for s in zip(*(op.latencies_ms for op in warm)))

    def patch(self, spans: tracing.Spans) -> None:
        pass

    def layers(self, ops: list[Op], spans: tracing.Spans) -> dict:
        out = {}
        for name in wl_queries.QUERIES:
            for key in ("build_s", "exec_s"):
                out[f"queries.{name}.{key}"] = statistics.median(
                    s.attrs[key] for s in spans.items if s.name == name
                )
        return out


WORKLOADS = {"ingest_replay": IngestReplay, "query_mix": QueryMix}


def run_for(seconds: float, fn) -> list[Op]:
    """Closed loop, one client: operations back to back until ``seconds``
    have passed, at least one."""
    ops = []
    t0 = time.time()
    while not ops or time.time() - t0 < seconds:
        ops.append(fn())
    return ops


# ---------------------------------------------------------------------------
# Per-layer zero row: every per-layer metric exists on every workload, and
# is 0 where the workload bypasses the layer.
# ---------------------------------------------------------------------------

SPARK_KEYS = [
    "jobs", "stages", "tasks", "outside_jobs_s", "task_run_s", "task_cpu_s", "gc_s",
    "shuffle_read_mb", "shuffle_write_mb", "spill_mb", "result_mb", "peak_exec_mem_mb",
]
STATE_KEYS = [
    "batches", "rows_total", "memory_mb", "commit_ms", "update_ms",
    "rows_dropped_by_watermark", "add_batch_ms", "query_planning_ms",
]


def per_layer_names() -> list[str]:
    names = [
        "session.get_spark_s", "session.warmup_s", "memory.jvm_peak_rss_mb",
        "sources.start_s", "sources.latest_offset_ms", "sources.rows_read",
        "sources.batches", "sources.reads_per_frame",
        "operators.normalize_build_s",
        "streaming.query_planning_ms", "streaming.add_batch_ms", "streaming.limiter_s",
        "streaming.wal_commit_ms", "streaming.commit_offsets_ms", "streaming.stop_lag_s",
        "streaming.batch_p50_ms", "streaming.batch_samples",
        "sinks.files.parquet_s", "sinks.files.json_s", "sinks.files.bytes",
        "sinks.files.files", "sinks.redis.xadd", "sinks.redis.rejected",
    ]
    names += [f"spark.{k}" for k in SPARK_KEYS]
    for q in wl_queries.QUERIES:
        names += [f"queries.{q}.build_s", f"queries.{q}.exec_s", f"queries.{q}.jobs"]
        if q in wl_queries.ITERATIVE_OR_STREAMING:
            names.append(f"queries.{q}.outside_jobs_s")
    names += [f"state.{k}" for k in STATE_KEYS]
    names += [
        "trace.overhead_frac", "trace.misattributed_jobs",
        "scaling.ingest_local1_frames_per_s",
        "coverage.attempted", "coverage.failed",
    ]
    return names


def traced_phase(wl, args, work: str) -> tuple[dict, dict, list[Op]]:
    """A session with tracing on; returns (per-layer metrics, detail for
    the trace file, traced ops)."""
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir, exist_ok=True)
    spark = get_spark("perfbench", extra_conf={**BASE_CONF, **tracing.event_log_conf(log_dir)})
    app_id = spark.sparkContext.applicationId
    listener = tracing.ProgressListener()
    spark.streams.addListener(listener)
    spans = tracing.Spans()
    wl.patch(spans)
    try:
        wl.op(spark, cold=False)  # re-warm after the restart; discarded
        ops = run_for(args.seconds, lambda: wl.op(spark, cold=False, spans=spans))
        listener.settle()
    finally:
        spans.unpatch()
        spark.streams.removeListener(listener)
    spark.stop()
    log = tracing.read_event_log(tracing.find_event_log(log_dir, app_id))

    layer = wl.layers(ops, spans)
    passes = [tracing.engine_layer(log, op.span) for op in ops]
    for k in SPARK_KEYS:
        layer[f"spark.{k}"] = statistics.median(p[k] for p in passes)
    progress = [p for _, p in listener.events]
    states = [
        tracing.state_layer([p for p in progress
                             if op.span.start <= epoch(p["timestamp"]) <= op.span.end])
        for op in ops
    ]
    for k in STATE_KEYS:
        layer[f"state.{k}"] = statistics.median(s[k] for s in states)

    # the query spans of a pass must split its jobs exactly
    misattributed = 0
    per_query = {}
    for op in ops:
        parts = [s for s in spans.items
                 if s.name in wl_queries.QUERIES and op.span.start <= s.start <= op.span.end]
        if not parts:
            continue
        misattributed += tracing.split_jobs(log, op.span, parts)[1]
        for s in parts:
            per_query.setdefault(s.name, []).append(tracing.engine_layer(log, s, tag=s.name))
    for name, rows in per_query.items():
        layer[f"queries.{name}.jobs"] = statistics.median(r["jobs"] for r in rows)
        if name in wl_queries.ITERATIVE_OR_STREAMING:
            layer[f"queries.{name}.outside_jobs_s"] = statistics.median(
                r["outside_jobs_s"] for r in rows
            )
    layer["trace.misattributed_jobs"] = misattributed
    detail = {
        "passes": passes,
        "queries": per_query,
        "progress_events": len(progress),
        "spans": [[s.name, s.start, s.end, s.attrs] for s in spans.items],
    }
    return layer, detail, ops


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--spawned", type=float, required=True)
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    work = args.work

    t0 = time.time()
    spark = get_spark("perfbench", extra_conf=BASE_CONF)
    t1 = time.time()
    warmup(spark, QUERY_DATA, os.path.join(work, "tmp"))
    t2 = time.time()

    wl = WORKLOADS[args.workload](work, args.seed)
    cold = wl.op(spark, cold=True)
    warm = run_for(args.seconds, lambda: wl.op(spark, cold=False))
    ops = [cold] + warm
    wall = statistics.median(op.wall_s for op in warm)
    peak_rss_mb = jvm_peak_rss_mb(spark)
    result = {
        "end_to_end": {
            "setup_s": t2 - args.spawned,
            "cold_s": cold.wall_s,
            "wall_s": wall,
            "items_per_s": warm[0].items / wall,
            "op_geomean_ms": wl.op_geomean_ms(warm),
        },
        "warm_walls": [op.wall_s for op in warm],
        "warm_latencies_ms": [op.latencies_ms for op in warm],
    }

    if args.trace:
        layer = {name: 0.0 for name in per_layer_names()}
        layer["session.get_spark_s"] = t1 - t0
        layer["session.warmup_s"] = t2 - t1
        layer["memory.jvm_peak_rss_mb"] = peak_rss_mb
        spark.stop()
        traced, detail, traced_ops = traced_phase(wl, args, work)
        layer.update(traced)
        # untraced again after the traced operations, so that the warm-up
        # still going on between them weighs on both sides alike
        spark = get_spark("perfbench", extra_conf=BASE_CONF)
        if args.workload == "ingest_replay":
            # the probe's drains also warm the new session
            probe, detail["coverage_failures"] = coverage(spark, work)
            layer.update(probe)
        else:
            wl.op(spark, cold=False)  # warm the new session; discarded
        after = run_for(args.seconds, lambda: wl.op(spark, cold=False))
        spark.stop()
        ops += traced_ops + after
        untraced = statistics.median([wall, statistics.median(op.wall_s for op in after)])
        layer["trace.overhead_frac"] = (
            statistics.median(op.wall_s for op in traced_ops) / untraced - 1.0
        )
        if args.workload == "ingest_replay":
            layer["scaling.ingest_local1_frames_per_s"] = local1_frames_per_s(wl, work)
        result["per_layer"] = layer
        result["detail"] = detail
    else:
        spark.stop()

    result["attempted"] = sum(op.attempted for op in ops)
    # a drain fails as a whole; a pass fails per query
    result["failed"] = sum(min(op.attempted, len(op.failures)) for op in ops)
    result["failures"] = {
        f"op{i}.{k}": v for i, op in enumerate(ops) for k, v in op.failures.items()
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh, default=str)


def coverage(spark, work: str) -> tuple[dict, dict]:
    """The ingest coverage probe: (per-layer metrics, {failed case: why})."""
    probe = wl_ingest.coverage_probe(
        spark, os.path.join(work, "probe_frames"), os.path.join(work, "big_frames"),
        BIG_PER_STREAM, PROBE_PER_PAIR, work,
    )
    failed = {k: v for k, v in probe["cases"].items() if v}
    metrics = {
        "sinks.redis.xadd": probe["redis_xadd"],
        "sinks.redis.rejected": probe["redis_rejected"],
        "coverage.attempted": len(probe["cases"]),
        "coverage.failed": len(failed),
    }
    return metrics, failed


def local1_frames_per_s(wl: IngestReplay, work: str) -> float:
    """The same drain in a ``local[1]`` session, after a drain of the
    probe's few frames has warmed the session."""
    spark = get_spark("perfbench", cpus=1, extra_conf=BASE_CONF)
    cfg = wl_ingest.ingest_config(
        os.path.join(work, "probe_frames"), os.path.join(work, "warm_out"),
        streams=wl_ingest.STREAMS, outputs=["parquet", "json"],
        samples=PROBE_PER_PAIR, redis=False,
    )
    wl_ingest.drain(spark, cfg, work)
    one = wl.op(spark, cold=False)
    spark.stop()
    return one.items / one.wall_s


if __name__ == "__main__":
    main()
