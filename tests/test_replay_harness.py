"""The streaming-replay harness (queries/util.replay_to_memory): every
exit path — success, timeout, a stream failing at runtime — stops the
query, restores the session conf (unsetting keys that were unset),
drops the memory-sink view and removes the checkpoint scratch. Plus a
source census that keeps the replay boilerplate in util.py alone."""

from __future__ import annotations

import inspect
import os
import re
from contextlib import contextmanager
from pathlib import Path

import pytest
from pyspark.errors import StreamingQueryException
from pyspark.sql import functions as F

from binance_data_ingestor_spark.queries import registry, util
from binance_data_ingestor_spark.queries.util import replay_to_memory

from conftest import temp_views

NO_DATA = "spark.sql.streaming.noDataMicroBatches.enabled"

CERTIFICATES = [
    "q26_stream_sessions",
    "q187_stream_heavy_hitters",
    "q191_stream_asof_enrich",
    "q192_stream_klines",
    "q193_stream_rolling_24h",
    "q194_stream_dedup",
    "q195_stream_transitions",
    "q199_stream_kmv",
    "q211_stream_digest",
    "q225_stream_countmin",
    "q251_stream_vpin",
    "q279_stream_wilson",
    "q289_stream_gk_quantiles",
]


@pytest.fixture(scope="module")
def src(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("replay_src"))
    spark.range(10).coalesce(1).write.mode("overwrite").parquet(path)
    return path


@pytest.fixture
def scratch(tmp_path, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", str(tmp_path))
    return tmp_path


def _stream(spark, src):
    return spark.readStream.schema("id long").parquet(src)


def _failing(spark, src):
    return _stream(spark, src).select(
        F.when(F.col("id") >= 0, F.raise_error(F.lit("replay boom")))
        .otherwise(F.col("id"))
        .alias("id")
    )


@contextmanager
def _leaves_no_trace(spark, scratch):
    views, conf = temp_views(spark), spark.conf.getAll
    yield
    assert spark.streams.active == []
    assert temp_views(spark) == views
    assert spark.conf.getAll == conf
    assert os.listdir(scratch) == []


def test_timeout_stops_and_cleans_up(spark, src, scratch, monkeypatch):
    monkeypatch.setattr(util, "REPLAY_TIMEOUT_S", 0.001)
    with _leaves_no_trace(spark, scratch):
        with pytest.raises(RuntimeError, match="timed out"):
            replay_to_memory(spark, _stream(spark, src), "t_")


def test_runtime_failure_cleans_up(spark, src, scratch):
    with _leaves_no_trace(spark, scratch):
        with pytest.raises(StreamingQueryException, match="replay boom"):
            replay_to_memory(spark, _failing(spark, src), "t_")


def test_unset_no_data_flag_is_unset_again(spark, src, scratch):
    spark.conf.unset(NO_DATA)
    assert NO_DATA not in spark.conf.getAll
    with _leaves_no_trace(spark, scratch):
        with pytest.raises(StreamingQueryException, match="replay boom"):
            replay_to_memory(spark, _failing(spark, src), "t_")
    with _leaves_no_trace(spark, scratch):
        out = replay_to_memory(spark, _stream(spark, src), "t_")
    # the returned frame outlives the dropped view
    assert sorted(r.id for r in out.collect()) == list(range(10))
    assert NO_DATA not in spark.conf.getAll


def test_replay_census_only_util():
    """The memory-sink start, the timeout wait and the shuffle-partition
    override live in util.py alone, and every streaming certificate
    goes through replay_to_memory — the hand-rolled copies stay gone."""
    pat = re.compile(
        r'format\("memory"\)|awaitTermination\('
        r'|conf\.set\(\s*"spark\.sql\.shuffle\.partitions"'
    )
    qdir = Path(util.__file__).parent
    rogue = sorted(
        p.name
        for p in qdir.glob("*.py")
        if p.name != "util.py" and pat.search(p.read_text())
    )
    assert not rogue, f"replay boilerplate outside util.py: {rogue}"
    qs, _ = registry()
    bypass = [
        n for n in CERTIFICATES if "replay_to_memory(" not in inspect.getsource(qs[n])
    ]
    assert not bypass, f"certificates not using replay_to_memory: {bypass}"
