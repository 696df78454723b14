"""Streaming jobs: the multiplexed ingestion dataflow and native klines.

The ingestion job is the reference's whole main program re-expressed
(SURVEY §3.1): multiplexed source → per-stream normalize → envelope →
union → fan-out to sinks, plus the ``--samples`` bounded-run semantics
(L1) and the graceful flush-on-stop contract (T6, which Spark's
micro-batch commit gives us atomically).

``--samples N`` is a source-side cap: the ``binance_ws`` reader admits at
most N frames per (stream, symbol), so the consumer never truncates.
Each micro-batch is one cached pass — read, parsed and normalized once —
and the sinks write that cached batch concurrently.
"""

from __future__ import annotations

import threading
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from functools import partial

from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..config import Config
from ..operators.projections import (
    NORMALIZERS,
    parse_raw,
    with_envelope_json,
)
from ..sinks import console as console_sink
from ..sinks.files import write_batch
from ..sinks.redis_sink import redis_writer
from ..sources.binance_ws import register as register_ws


def build_source(spark: SparkSession, cfg: Config) -> DataFrame:
    """Multiplexed raw-frame stream: (value, stream, symbol)."""
    register_ws(spark)
    reader = (
        spark.readStream.format("binance_ws")
        .option("symbols", ",".join(cfg.symbols))
        .option("streams", ",".join(cfg.streams))
        .option("interval", cfg.interval)
        .option("testnet", str(cfg.testnet).lower())
    )
    if cfg.samples is not None:
        reader = reader.option("samples", cfg.samples)
    if cfg.replay_dir:
        reader = reader.option("replay_dir", cfg.replay_dir)
    return reader.load()


def normalize_multiplexed(raw: DataFrame, streams: list[str]) -> DataFrame:
    """Fan the tagged raw stream through per-type normalizers and re-union
    as wire envelopes. Catalyst pushes the `stream` filters into each
    branch, so every branch scans only its own frames."""
    branches = []
    for stream_key in streams:
        branch = raw.filter(F.col("stream") == stream_key)
        parsed = parse_raw(branch, stream_key)
        norm = NORMALIZERS[stream_key](parsed, keep=["symbol"])
        branches.append(with_envelope_json(norm, stream_key))
    out = branches[0]
    for b in branches[1:]:
        out = out.unionByName(b)
    return out


class SampleLimiter:
    """--samples N: per-(stream, symbol) accounting and self-stop (SURVEY
    §2.3 L1).  The cap itself is source-side: the ``binance_ws`` reader
    admits at most N frames per pair, as the reference's producers
    self-terminate at N messages (binance-di.py:111-115).  ``take`` folds
    each micro-batch's per-pair counts into ``counts`` — one job over the
    cached batch, which also materialises the cache — and raises if a
    pair passes its cap, which the source guarantees cannot happen; it
    returns the batch unchanged.  Once every pair reached N,
    ``check_done`` signals the stop thread."""

    def __init__(self, limit: int | None, expected_pairs: int) -> None:
        self.limit = limit
        self.expected_pairs = expected_pairs
        self.counts: dict[tuple[str, str], int] = {}
        self.done = threading.Event()

    def take(self, df: DataFrame) -> DataFrame:
        if self.limit is None:
            return df
        # a batch holds at most the source's maxFramesPerBatch frames, so the
        # keys fit the driver; one job, where a groupBy would add a shuffle
        keys = df.select("stream", "symbol").collect()
        for pair, n in Counter(tuple(k) for k in keys).items():
            seen = self.counts.get(pair, 0) + n
            if seen > self.limit:
                raise RuntimeError(
                    f"{pair} delivered {seen} frames, over --samples {self.limit}"
                )
            self.counts[pair] = seen
        return df

    def check_done(self) -> None:
        """Signal completion — called AFTER the batch's sinks commit, so
        the stop thread never cancels in-flight sink writes."""
        if (
            self.limit is not None
            and len(self.counts) >= self.expected_pairs
            and all(v >= self.limit for v in self.counts.values())
        ):
            self.done.set()


def run_ingest(
    spark: SparkSession,
    cfg: Config,
    *,
    checkpoint_dir: str,
    available_now: bool = False,
    console_out=None,
    redis_client_factory=None,
):
    """Start the ingestion query (single foreachBatch consumer = the
    reference's multi-format tee, S11). Returns (query, limiter).

    Each micro-batch is one cached pass: the batch is persisted, the
    limiter's count materialises it, the console sink prints it, then the
    file and Redis sinks write it concurrently, one thread per sink,
    under the stream's job group (``query.stop()`` cancels them too).
    If one sink raises, the batch fails after every sink has ended; a
    sink that finished has already written it, and the restarted query
    replays the batch to all sinks — the same at-least-once redelivery a
    sequential tee has."""
    wire = normalize_multiplexed(build_source(spark, cfg), cfg.streams)
    limiter = SampleLimiter(cfg.samples, len(cfg.streams) * len(cfg.symbols))
    redis_fn = (
        redis_writer(cfg.redis_host, cfg.redis_port, client_factory=redis_client_factory)
        if cfg.redis_enabled
        else None
    )

    def _consume(batch_df: DataFrame, epoch_id: int) -> None:
        batch_df.persist()
        try:
            batch_df = limiter.take(batch_df)
            if cfg.console_enabled:
                if cfg.silent:
                    console_sink.print_machine(batch_df, out=console_out)
                else:
                    console_sink.print_human(batch_df, out=console_out)
            sinks = [partial(write_batch, batch_df, cfg.output_dir, fmt) for fmt in cfg.outputs]
            if redis_fn is not None:
                sinks.append(partial(redis_fn, batch_df, epoch_id))
            if sinks:
                # each thread gets its own copy of this thread's job group,
                # description and tags
                with ThreadPoolExecutor(len(sinks)) as pool:
                    running = [
                        pool.submit(inheritable_thread_target(batch_df.sparkSession)(s))
                        for s in sinks
                    ]
                for r in running:
                    r.result()
        finally:
            batch_df.unpersist()
        limiter.check_done()

    writer = (
        wire.writeStream.foreachBatch(_consume)
        .option("checkpointLocation", f"{checkpoint_dir}/ingest")
        .queryName("binance_ingest")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    query = writer.start()

    if cfg.samples is not None:
        def _stop_when_done() -> None:
            limiter.done.wait()
            query.stop()

        threading.Thread(target=_stop_when_done, daemon=True).start()
    return query, limiter


def run_kline_stream(
    spark: SparkSession,
    trades_wire: DataFrame,
    *,
    interval: str = "1m",
    watermark: str = "1 minute",
    checkpoint_dir: str,
    query_name: str = "native_klines",
    output_mode: str = "append",
):
    """Native kline aggregation from a raw trades stream (A1).

    ``update`` mode emits in-progress candles (is_kline_closed=False
    interim semantics); ``append`` emits only watermark-closed candles
    (is_kline_closed=True finals).
    """
    from ..operators.klines import klines_from_trades
    from ..operators.projections import case_sensitive, normalize_trades
    from ..schemas import DEC

    parsed = parse_raw(trades_wire, "trades")
    if "symbol" not in parsed.columns:
        # bare text replay: recover the symbol from the payload's `s` field
        with case_sensitive(spark):
            parsed = parsed.withColumn("symbol", F.col("__raw").getField("s"))
    norm = normalize_trades(parsed, keep=["symbol"])
    typed = norm.select(
        "symbol",
        F.col("trade_time").cast("long").alias("trade_time"),
        F.col("price").cast(DEC).alias("price"),
        F.col("quantity").cast(DEC).alias("quantity"),
    )
    kl = klines_from_trades(
        typed, interval, watermark=watermark, closed=(output_mode == "append")
    )
    return (
        kl.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .option("checkpointLocation", f"{checkpoint_dir}/{query_name}")
        .start()
    )
