"""End-to-end ingestion: WS source (replay) → normalize → multiplex →
sinks, incl. --samples bounded-run semantics and the native kline
streaming job."""

from __future__ import annotations

import glob
import io
import json
from collections import Counter

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from binance_data_ingestor_spark.config import Config
from binance_data_ingestor_spark.sources.binance_ws import (
    BinanceWSStreamReader,
    stream_url,
)
from binance_data_ingestor_spark.sources.fixtures import SYMBOLS, write_fixture_dir
from binance_data_ingestor_spark.streaming import jobs
from binance_data_ingestor_spark.streaming.jobs import (
    normalize_multiplexed,
    run_ingest,
    run_kline_stream,
)


def test_stream_url_parity():
    # reference: f"{base_url}/{symbol.lower()}{stream_type}" (binance-di.py:97)
    assert (
        stream_url("wss://stream.binance.com:9443/ws", "BTCUSDT", "trades")
        == "wss://stream.binance.com:9443/ws/btcusdt@aggTrade"
    )
    assert stream_url("x", "ETHUSDT", "klines", "5m") == "x/ethusdt@kline_5m"


def test_ws_reader_replay_offsets(tmp_path):
    root = str(tmp_path / "fx")
    write_fixture_dir(root, "trades", 10, files=2)
    r = BinanceWSStreamReader(
        {"symbols": "BTCUSDT,ETHUSDT,SOLUSDT", "streams": "trades",
         "replay_dir": root, "maxFramesPerBatch": "4"}
    )
    assert r.initialOffset() == {"seq": 0}
    it, off = r.read({"seq": 0})
    rows = list(it)
    assert len(rows) == 4 and off == {"seq": 4}
    # re-read between offsets (driver retry path) is stable pre-commit
    again = list(r.readBetweenOffsets({"seq": 0}, {"seq": 4}))
    assert [a[0] for a in again] == [a[0] for a in rows]
    it2, off2 = r.read(off)
    assert len(list(it2)) == 4 and off2 == {"seq": 8}
    r.commit(off2)
    assert len(r.buffer.range(0)) == 2  # committed prefix dropped


def test_ws_reader_samples_cap(tmp_path):
    root = str(tmp_path / "fx")
    for sk in ("ticker", "trades"):
        write_fixture_dir(root, sk, 10, files=2)  # 4 / 3 / 3 per symbol
    r = BinanceWSStreamReader(
        {"symbols": ",".join(SYMBOLS), "streams": "ticker,trades",
         "replay_dir": root, "samples": "2", "maxFramesPerBatch": "5"}
    )
    rows, off = [], {"seq": 0}
    while True:
        it, end = r.read(off)
        batch = list(it)
        if not batch:
            break
        # the driver retry path re-reads exactly what `read` served
        assert list(r.readBetweenOffsets(off, end)) == batch
        rows += batch
        off = end
    buffered = Counter((s, sym) for _, _, s, sym in r.buffer.range(0))
    assert buffered == Counter({(s, sym): 2 for s in ("ticker", "trades") for sym in SYMBOLS})
    assert Counter((s, sym) for _, s, sym in rows) == buffered
    assert off == {"seq": 12}


def test_live_mode_requires_websockets(tmp_path):
    r = BinanceWSStreamReader({"symbols": "BTCUSDT", "streams": "trades"})
    with pytest.raises(NotImplementedError, match="websockets"):
        r.read({"seq": 0})


def test_ingest_end_to_end_with_samples(spark, tmp_path):
    root = str(tmp_path / "fx")
    n_msgs = 12
    for sk in ("ticker", "trades"):
        write_fixture_dir(root, sk, n_msgs, files=1)
    cfg = Config(
        symbols=["BTCUSDT", "ETHUSDT", "SOLUSDT"],
        streams=["ticker", "trades"],
        outputs=["json", "parquet"],
        output_dir=str(tmp_path / "out"),
        samples=2,
        silent=True,
        print_console=True,
        redis_enabled=False,
        replay_dir=root,
    )
    buf = io.StringIO()
    query, limiter = run_ingest(
        spark, cfg, checkpoint_dir=str(tmp_path / "ckpt"),
        available_now=True, console_out=buf,
    )
    query.awaitTermination(120)
    # --samples 2 → exactly 2 per (stream, symbol): 2 streams × 3 symbols × 2
    assert all(v == 2 for v in limiter.counts.values())
    assert len(limiter.counts) == 6
    lines = [json.loads(line) for line in buf.getvalue().strip().splitlines()]
    assert len(lines) == 12
    assert {(d["stream"], d["symbol"]) for d in lines} == {
        (s, sym) for s in ("ticker", "trades")
        for sym in ("BTCUSDT", "ETHUSDT", "SOLUSDT")
    }
    back = spark.read.parquet(f"{cfg.output_dir}/parquet")
    assert back.count() == 12
    assert glob.glob(f"{cfg.output_dir}/json/stream=*/symbol=*/*")


def test_normalize_multiplexed_branch_filters(spark, tmp_path):
    root = str(tmp_path / "fx")
    for sk in ("ticker", "order-book"):
        write_fixture_dir(root, sk, 6, files=1)
    # batch-mode replay through the same transform (batch/stream unification)
    rows = []
    for sk in ("ticker", "order-book"):
        for f in glob.glob(f"{root}/{sk}/*"):
            with open(f) as fh:
                rows += [(line.strip(), sk, json.loads(line)["s"]) for line in fh]
    raw = spark.createDataFrame(rows, "value string, stream string, symbol string")
    wire = normalize_multiplexed(raw, ["ticker", "order-book"])
    counts = {r.stream: r["count"] for r in wire.groupBy("stream").count().collect()}
    assert counts == {"ticker": 6, "order-book": 6}
    ob = json.loads(
        wire.filter(F.col("stream") == "order-book").first().data_json
    )
    assert "lastUpdateId" in ob and isinstance(ob.get("bids", []), list)


def test_kline_stream_from_raw_trades(spark, tmp_path):
    root = str(tmp_path / "fx")
    write_fixture_dir(root, "trades", 30, files=3)
    raw = (
        spark.readStream.format("text")
        .option("maxFilesPerTrigger", 1)
        .load(f"{root}/trades")
        .withColumnRenamed("value", "value")
    )
    q = run_kline_stream(
        spark, raw, interval="1m", watermark="0 seconds",
        checkpoint_dir=str(tmp_path / "ckpt"), query_name="kl_e2e",
        output_mode="update",
    )
    try:
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM kl_e2e")
        assert got.count() > 0
        cols = set(got.columns)
        assert {"symbol", "kline_start_time", "open_price", "close_price",
                "number_of_trades"} <= cols
    finally:
        q.stop()


def _drain_cfg(tmp_path, streams, n_msgs, samples, outputs=("json", "parquet")):
    root = str(tmp_path / "fx")
    for sk in streams:
        write_fixture_dir(root, sk, n_msgs, files=2)
    return Config(
        symbols=list(SYMBOLS),
        streams=list(streams),
        outputs=list(outputs),
        output_dir=str(tmp_path / "out"),
        samples=samples,
        redis_enabled=False,
        replay_dir=root,
    )


def _pair_counts(spark, path: str, fmt: str) -> Counter:
    df = spark.read.format(fmt).load(path)
    return Counter({
        (r["stream"], r["symbol"]): r["count"]
        for r in df.groupBy("stream", "symbol").count().collect()
    })


def _persisted_rdds(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_samples_drain_is_one_cached_pass(spark, tmp_path):
    streams = ("ticker", "trades")
    # 2,000 frames per pair offered, 1,999 admitted: 11,994 frames are two
    # micro-batches (10,000 + 1,994), so the first batch's progress report
    # has arrived before the limiter's stop races the last one's
    cfg = _drain_cfg(tmp_path, streams, 6000, samples=1999)
    tracker = spark.sparkContext.statusTracker()
    ungrouped_before = set(tracker.getJobIdsForGroup(None))
    cached_before = _persisted_rdds(spark)
    query, limiter = run_ingest(spark, cfg, checkpoint_dir=str(tmp_path / "ckpt"))
    assert query.awaitTermination(120)
    # the sink threads run their jobs in the stream's job group
    batches = [p for p in query.recentProgress if p.numInputRows]
    assert batches
    group = tracker.getJobIdsForGroup(str(query.runId))
    assert len(group) >= len(batches) * len(cfg.outputs)
    assert set(tracker.getJobIdsForGroup(None)) <= ungrouped_before
    assert _persisted_rdds(spark) == cached_before
    want = Counter({(s, sym): 1999 for s in streams for sym in SYMBOLS})
    assert limiter.counts == want and limiter.done.is_set()
    for fmt in cfg.outputs:
        assert _pair_counts(spark, f"{cfg.output_dir}/{fmt}", fmt) == want, fmt
    # each batch's source rows are read once, by the one cached pass: every
    # normalize branch scans them one time
    assert sum(p.numInputRows for p in batches) <= len(streams) * sum(want.values())


def test_failing_sink_fails_batch_and_releases_cache(spark, tmp_path, monkeypatch):
    cfg = _drain_cfg(tmp_path, ("ticker",), 6, samples=2)
    write_batch = jobs.write_batch

    def json_fails(df, output_dir, fmt, **kw):
        if fmt == "json":
            raise RuntimeError("json sink down")
        write_batch(df, output_dir, fmt, **kw)

    monkeypatch.setattr(jobs, "write_batch", json_fails)
    cached_before = _persisted_rdds(spark)
    query, limiter = run_ingest(spark, cfg, checkpoint_dir=str(tmp_path / "ckpt"))
    with pytest.raises(StreamingQueryException, match="json sink down"):
        query.awaitTermination(120)
    assert not limiter.done.is_set()
    # the sink that finished has written the failed batch (at-least-once)
    want = Counter({("ticker", sym): 2 for sym in SYMBOLS})
    assert _pair_counts(spark, f"{cfg.output_dir}/parquet", "parquet") == want
    assert _persisted_rdds(spark) == cached_before


def test_klines_ingest_drain(spark, tmp_path):
    cfg = _drain_cfg(tmp_path, ("klines",), 10, samples=3, outputs=("parquet",))
    query, limiter = run_ingest(spark, cfg, checkpoint_dir=str(tmp_path / "ckpt"))
    assert query.awaitTermination(120)
    want = Counter({("klines", sym): 3 for sym in SYMBOLS})
    assert _pair_counts(spark, f"{cfg.output_dir}/parquet", "parquet") == want
    row = spark.read.parquet(f"{cfg.output_dir}/parquet").first()
    assert "symbol" not in json.loads(row.data_json)  # symbol only in the envelope
