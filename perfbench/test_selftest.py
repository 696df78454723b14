"""Self-test of the benchmark's tracing, on the fixed sf0.001 test tables.

    python -m pytest perfbench -q

It pins the per-layer metric schema against ``BENCHMARK.json``. On a
traced pass of one batch query and one streaming replay it checks that
the query spans claim every job of the pass exactly once, with the
streaming micro-batch jobs counted to the replay, and that for each query
the time with one of its jobs active plus the time outside its jobs
equals its wall time within ``TOLERANCE_S`` plus ``TOLERANCE_FRAC`` of
the wall (no claimed job runs past its span). A made-up event log checks
that a missed or wrongly claimed job is counted.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import run  # noqa: E402
import tracing  # noqa: E402
import worker  # noqa: E402
import wl_queries  # noqa: E402

TOLERANCE_S = 0.05
TOLERANCE_FRAC = 0.02
SF0001 = os.path.join(HERE, "data", "sf0.001")


def test_per_layer_schema_matches_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    declared = [(m["name"], m["unit"]) for m in spec["per_layer"]]
    assert declared == [(n, run.unit_of(n)) for n in worker.per_layer_names()]
    assert [m["name"] for m in spec["end_to_end"]] == [
        "setup_s", "cold_s", "wall_s", "items_per_s", "op_geomean_ms",
    ]
    assert {w["name"] for w in spec["workloads"]} == set(worker.WORKLOADS)


def test_union_seconds_merges_overlaps():
    assert tracing.union_seconds([(0, 2), (1, 3), (5, 6)]) == pytest.approx(4.0)
    assert tracing.union_seconds([]) == 0.0


def test_shipped_tables_match_their_checksums():
    run.check_data()


def test_split_jobs_counts_missed_and_doubly_claimed_jobs():
    def job(i, t, desc, streaming=False):
        return tracing.Job(i, t, t + 0.5, desc, streaming)

    log = tracing.EventLog(
        jobs=[
            job(0, 1.0, "a"),
            job(1, 2.0, "stream-batch", streaming=True),  # inside a's span
            job(2, 5.0, "b"),
            job(3, 5.5, "a"),  # a's description, but b's window
        ],
        stage_starts=[], tasks=[],
    )
    whole = tracing.Span("pass", 0.0, 10.0)
    a, b = tracing.Span("a", 0.5, 4.0), tracing.Span("b", 4.5, 9.0)
    claimed, bad = tracing.split_jobs(log, whole, [a, b])
    assert claimed == {"a": [0, 1], "b": [2]} and bad == 1
    # overlapping spans claim the streaming job twice
    claimed, bad = tracing.split_jobs(log, whole, [a, tracing.Span("b", 1.5, 9.0)])
    assert bad == 2  # job 1 twice, job 3 never


def test_one_traced_pass_splits_its_jobs_and_wall(tmp_path, monkeypatch):
    from binance_data_ingestor_spark.session import get_spark

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "2g")
    monkeypatch.setenv("SPARK_GRAFT_STREAM_TMP", str(tmp_path))
    queries = ["q01_pricing_summary", "q194_stream_dedup"]
    log_dir = str(tmp_path / "eventlog")
    os.makedirs(log_dir)
    spark = get_spark("perfbench-selftest", cpus=2,
                      extra_conf=tracing.event_log_conf(log_dir))
    app_id = spark.sparkContext.applicationId
    spans = tracing.Spans()
    try:
        with spans.span("pass"):
            res = wl_queries.run_pass(spark, SF0001, queries, collect=True, spans=spans)
    finally:
        spark.stop()
    assert wl_queries.oracle_failures(SF0001, res) == {}

    log = tracing.read_event_log(tracing.find_event_log(log_dir, app_id))
    *parts, whole = spans.items
    claimed, misattributed = tracing.split_jobs(log, whole, parts)
    assert misattributed == 0
    assert sum(map(len, claimed.values())) == tracing.engine_layer(log, whole)["jobs"]
    stream_jobs = {j.job_id for j in log.jobs if j.streaming}
    assert stream_jobs and stream_jobs <= set(claimed["q194_stream_dedup"])
    for span in parts:
        layer = tracing.engine_layer(log, span, tag=span.name)
        assert set(layer) == {"active_jobs_s", *worker.SPARK_KEYS}
        assert layer["jobs"] >= 1 and layer["tasks"] >= 1
        gap = abs(layer["active_jobs_s"] + layer["outside_jobs_s"] - span.seconds)
        assert gap <= TOLERANCE_S + TOLERANCE_FRAC * span.seconds
