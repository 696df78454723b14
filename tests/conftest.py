from __future__ import annotations

import os
import sys

import pytest

_TESTS = os.path.dirname(os.path.abspath(__file__))
_REPO = os.path.dirname(_TESTS)
sys.path.insert(0, _REPO)

# executor Python workers unpickle closures by module reference — they need
# the repo and tests dirs on their own sys.path
os.environ["PYTHONPATH"] = os.pathsep.join(
    [_REPO, _TESTS, os.environ.get("PYTHONPATH", "")]
)

SF_SMOKE = "/root/testdata/sf0.001"


def temp_views(spark) -> set[str]:
    """Names of the session's temporary views."""
    return {t.name for t in spark.catalog.listTables() if t.isTemporary}


@pytest.fixture(scope="session")
def spark():
    from binance_data_ingestor_spark.session import get_spark

    s = get_spark("tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def duck():
    import duckdb

    con = duckdb.connect()
    for t in (
        "region nation customer supplier part orders lineitem events documents embeddings"
    ).split():
        con.execute(f"CREATE VIEW {t} AS FROM '{SF_SMOKE}/{t}.parquet'")
    yield con
    con.close()
