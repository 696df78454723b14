"""The ``ingest_replay`` workload: the CLI's bounded fixture replay.

One drain is ``run_ingest(available_now=False)`` with the flags
``--replay-dir <frames> --samples N --load ticker,trades,order-book
--output parquet,json --no-redis``, run until the sample limiter stops
the query: multiplexed ``binance_ws`` source → ``normalize_multiplexed``
→ ``foreachBatch`` tee → partitioned file sinks. Every drain gets fresh
checkpoint and output directories, and its output is checked outside the
timed span.

``coverage_probe`` runs every stream type into every sink once on a few
frames, plus one replay without ``--samples``, and names each case that
does not deliver what it was offered.
"""

from __future__ import annotations

import fcntl
import json
import os
import re
import shutil
import time
from collections import Counter
from dataclasses import dataclass

import pyarrow.dataset as ds
import pyarrow.orc as orc

from binance_data_ingestor_spark.cli import config_from_args, parse_arguments
from binance_data_ingestor_spark.sources.fixtures import SYMBOLS, write_fixture_dir
from binance_data_ingestor_spark.streaming.jobs import run_ingest

STREAMS = ["ticker", "trades", "order-book"]
ALL_STREAMS = STREAMS + ["klines"]
FILE_SINKS = ["json", "csv", "parquet", "orc"]
DRAIN_TIMEOUT_S = 120
FULL_BATCH = 10_000  # the binance_ws reader's maxFramesPerBatch default


def write_frames(root: str, streams: list[str], per_stream: int, *, seed: int) -> None:
    """``per_stream`` raw wire frames for each stream type under
    ``root/<stream>``, made by the engine's own fixture generator from
    ``seed``; the frames cycle over the fixture symbols."""
    for key in streams:
        write_fixture_dir(root, key, per_stream, seed=seed)


@dataclass
class Drain:
    wall_s: float
    delivered: int  # frames the sample limiter passed to the sinks
    progress: list[dict]  # the micro-batches' progress reports
    error: str | None = None
    ended_at: float = 0.0


def ingest_config(frames: str, out: str, *, streams, outputs, samples, redis):
    argv = [
        "--symbol", ",".join(SYMBOLS), "--load", ",".join(streams),
        "--output", ",".join(outputs), "--output-dir", out,
        "--replay-dir", frames,
    ]
    if samples is not None:
        argv += ["--samples", str(samples)]
    if not redis:
        argv.append("--no-redis")
    return config_from_args(parse_arguments(argv))


def drain(spark, cfg, work: str, *, available_now=False, redis_factory=None) -> Drain:
    """Run one ingest query to its end. A query that fails is returned
    with ``error`` set, not raised."""
    ckpt = os.path.join(work, "ckpt")
    shutil.rmtree(ckpt, ignore_errors=True)
    shutil.rmtree(cfg.output_dir, ignore_errors=True)
    t0 = time.time()
    try:
        query, limiter = run_ingest(
            spark, cfg, checkpoint_dir=ckpt, available_now=available_now,
            redis_client_factory=redis_factory,
        )
    except Exception as e:  # plan-build failure: the case failed, the run goes on
        return Drain(time.time() - t0, 0, [], error=_short(e))
    error = None
    try:
        if not query.awaitTermination(DRAIN_TIMEOUT_S):
            query.stop()
            error = f"no end within {DRAIN_TIMEOUT_S} s"
    except Exception as e:  # the streaming query died in a batch
        error = _short(e)
    end = time.time()
    return Drain(
        wall_s=end - t0,
        delivered=sum(limiter.counts.values()),
        progress=[json.loads(p.json) for p in query.recentProgress],
        error=error,
        ended_at=end,
    )


def _short(e: Exception) -> str:
    """Exception type and every Spark error class in its message, outermost
    first: a failed batch surfaces as STREAM_FAILED wrapping the cause."""
    classes = list(dict.fromkeys(re.findall(r"\[([A-Z][A-Z_.]+)\]", str(e))))
    return f"{type(e).__name__}: {' < '.join(classes) or str(e).splitlines()[0][:200]}"


# ---------------------------------------------------------------------------
# Output checks (plain file reads, no Spark)
# ---------------------------------------------------------------------------


def _pair(path: str) -> tuple[str, str] | None:
    parts = dict(
        p.split("=", 1) for p in path.split(os.sep) if "=" in p
    )
    if "stream" in parts and "symbol" in parts:
        return parts["stream"], parts["symbol"]
    return None


def sink_counts(root: str, fmt: str) -> Counter:
    """Rows per (stream, symbol) in one partitioned sink directory."""
    counts: Counter = Counter()
    if not os.path.isdir(root):
        return counts
    if fmt == "parquet":
        dataset = ds.dataset(root, format="parquet", partitioning="hive")
        for frag in dataset.get_fragments():
            counts[_pair(frag.path)] += frag.count_rows()
        return counts
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.startswith((".", "_")):
                continue
            path = os.path.join(dirpath, f)
            if fmt == "orc":
                n = orc.ORCFile(path).nrows
            else:
                with open(path, "rb") as fh:
                    n = sum(1 for line in fh if line.strip())
                if fmt == "csv":
                    n -= 1  # header line
            counts[_pair(path)] += n
    return counts


def sink_size(root: str) -> tuple[int, int]:
    """(bytes, files) of the data files under one sink directory."""
    size = files = 0
    for dirpath, _, names in os.walk(root):
        for f in names:
            if not f.startswith((".", "_")):
                size += os.path.getsize(os.path.join(dirpath, f))
                files += 1
    return size, files


def expected(streams, per_pair: int) -> Counter:
    return Counter({(s, sym): per_pair for s in streams for sym in SYMBOLS})


# ---------------------------------------------------------------------------
# Redis through a fake client
# ---------------------------------------------------------------------------


class FileRedis:
    """Fake Redis for ``redis_client_factory``. The sink XADDs from Spark's
    Python worker processes, so the store is a directory per stream key
    holding the accepted entries and the last ID, updated under a file
    lock. As XADD does, an ID at or below the stream's last ID is
    rejected, and counted."""

    def __init__(self, root: str) -> None:
        self.root = root
        self.pending: list = []

    def pipeline(self, transaction=False):
        return self

    def xadd(self, key, fields, id=None):
        self.pending.append((key, id, fields))

    def execute(self, raise_on_error=True):
        for key, rid, fields in self.pending:
            d = os.path.join(self.root, key.replace(":", "_"))
            os.makedirs(d, exist_ok=True)
            with open(os.path.join(d, "lock"), "a") as lock:
                fcntl.flock(lock, fcntl.LOCK_EX)
                last = _read(os.path.join(d, "last"))
                if last and _stream_id(rid) <= _stream_id(last):
                    with open(os.path.join(self.root, "rejected"), "a") as fh:
                        fh.write("1")
                    continue
                with open(os.path.join(d, "entries"), "a") as fh:
                    fh.write(json.dumps([rid, fields]) + "\n")
                with open(os.path.join(d, "last"), "w") as fh:
                    fh.write(rid)
        self.pending.clear()


def _stream_id(rid: str) -> tuple[int, int]:
    ms, _, seq = rid.partition("-")
    return int(ms), int(seq or 0)


def _read(path: str) -> str:
    try:
        with open(path) as fh:
            return fh.read()
    except FileNotFoundError:
        return ""


class FileRedisFactory:
    def __init__(self, root: str) -> None:
        self.root = root

    def __call__(self, host, port):
        return FileRedis(self.root)


def redis_counts(root: str) -> tuple[Counter, int]:
    """Accepted XADDs per (stream, symbol), and the rejected count."""
    counts: Counter = Counter()
    rejected = 0
    if os.path.isdir(root):
        for key in os.listdir(root):
            if key == "rejected":
                rejected = len(_read(os.path.join(root, key)))
                continue
            _, stream, symbol = key.split("_", 2)
            entries = _read(os.path.join(root, key, "entries"))
            counts[(stream, symbol.upper())] = entries.count("\n")
    return counts, rejected


# ---------------------------------------------------------------------------
# Coverage probe (untimed)
# ---------------------------------------------------------------------------


def coverage_probe(spark, frames: str, big_frames: str, big_per_stream: int,
                   per_pair: int, work: str) -> dict:
    """Every stream type × every sink, and one replay without
    ``--samples``. Returns ``cases`` ({case name: None if it passed, else
    why}) and the fake Redis store's accepted and rejected XADD counts."""
    cases: dict[str, str | None] = {}
    out = os.path.join(work, "probe_out")

    # file sinks: the three default streams in one query, klines alone
    for streams in (STREAMS, ["klines"]):
        cfg = ingest_config(frames, out, streams=streams, outputs=FILE_SINKS,
                            samples=per_pair, redis=False)
        d = drain(spark, cfg, work)
        want = expected(streams, per_pair)
        for fmt in FILE_SINKS:
            got = sink_counts(os.path.join(out, fmt), fmt)
            for s in streams:
                cases[f"{s}.{fmt}"] = _verdict(d, got, want, s)

    # Redis through the fake client
    store = os.path.join(work, "redis_store")
    xadd = rejected = 0
    for streams in (STREAMS, ["klines"]):
        shutil.rmtree(store, ignore_errors=True)
        cfg = ingest_config(frames, out, streams=streams, outputs=[],
                            samples=per_pair, redis=True)
        d = drain(spark, cfg, work, redis_factory=FileRedisFactory(store))
        got, rej = redis_counts(store)
        xadd += sum(got.values())
        rejected += rej
        want = expected(streams, per_pair)
        for s in streams:
            cases[f"{s}.redis"] = _verdict(d, got, want, s)

    # the CLI's replay default: without --samples, cli.main picks the
    # availableNow trigger
    cfg = ingest_config(big_frames, out, streams=STREAMS, outputs=["parquet"],
                        samples=None, redis=False)
    d = drain(spark, cfg, work,
              available_now=cfg.replay_dir is not None and cfg.samples is None)
    got = sum(sink_counts(os.path.join(out, "parquet"), "parquet").values())
    offered = big_per_stream * len(STREAMS)
    cases["replay_without_samples"] = d.error or (
        None if got == offered else f"delivered {got} of {offered} frames"
    )
    shutil.rmtree(out, ignore_errors=True)
    return {"cases": cases, "redis_xadd": xadd, "redis_rejected": rejected}


def _verdict(d: Drain, got: Counter, want: Counter, stream: str) -> str | None:
    if d.error:
        return d.error
    bad = {
        sym: got.get((stream, sym), 0)
        for sym in SYMBOLS
        if got.get((stream, sym), 0) != want[(stream, sym)]
    }
    return None if not bad else f"rows per symbol {bad}, want {want[(stream, SYMBOLS[0])]}"
