"""The ``query_mix`` workload: the downstream query layer over ingested data.

One pass runs each query once, closed loop, in an order the seed
permutes. Per-query time is the query function's build (planning, and
for streaming or iterative queries most of the work) plus its execution.
The cold pass collects each result so it can be compared with the
query's DuckDB oracle outside the timed spans; warm passes execute into
the noop sink, as ``bench.py`` does.
"""

from __future__ import annotations

import gc
import os
import sys
import time

import duckdb

from binance_data_ingestor_spark.queries import registry
from tracing import Span

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)
from verify_strict import canon_frame  # noqa: E402

# market-data and relational sentinels, one iterative graph operator and
# one stateful Structured Streaming replay (state store)
QUERIES = [
    "q01_pricing_summary",
    "q13_cube",
    "q21_tumbling_ohlcv",
    "q30_ticker_normalize",
    "q35_vwap",
    "q36_orderflow_imbalance",
    "q99_pagerank",
    "q194_stream_dedup",
]
ITERATIVE_OR_STREAMING = {"q99_pagerank", "q194_stream_dedup"}
TABLES = ["region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events"]


def run_pass(spark, sf_dir: str, order: list[str], *, collect: bool, spans=None) -> dict:
    """Run each query once. Returns {name: (build_s, exec_s, result)};
    ``result`` is a pandas frame when ``collect`` is set, else None. A
    query that raises is returned as (build_s, exec_s, exception)."""
    qs, _ = registry()
    sc = spark.sparkContext
    out = {}
    for name in order:
        sc.setJobDescription(name)
        t0 = time.time()
        result = None
        t1 = None
        try:
            df = qs[name](spark, sf_dir)
            t1 = time.time()
            if collect:
                result = df.toPandas()
            else:
                df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # counted as a failed operation
            result = e
        t2 = time.time()
        sc.setJobDescription(None)
        t1 = t1 or t2
        out[name] = (t1 - t0, t2 - t1, result)
        if spans is not None:
            spans.items.append(Span(name, t0, t2, {"build_s": t1 - t0, "exec_s": t2 - t1}))
        # release localCheckpoint references between queries, outside the
        # timed span, as bench.py does
        gc.collect()
    return out


def oracle_failures(sf_dir: str, results: dict) -> dict[str, str]:
    """Compare each collected result with its DuckDB oracle at full float
    precision (``scripts/verify_strict.py``'s ``canon_frame``)."""
    _, oracles = registry()
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS FROM '{sf_dir}/{t}.parquet'")
        bad = {}
        for name, (_, _, got) in results.items():
            if isinstance(got, Exception):
                bad[name] = f"{type(got).__name__}: {str(got).splitlines()[0][:200]}"
                continue
            want = con.execute(oracles[name]).fetchdf()
            if canon_frame(got) != canon_frame(want):
                bad[name] = f"differs from oracle ({len(got)} vs {len(want)} rows)"
        return bad
    finally:
        con.close()
