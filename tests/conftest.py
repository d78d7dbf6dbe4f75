from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from portfolio1_etl_spark import get_spark

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cpus=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def registry_oracle(spark, sf_dir):
    """``check(name)`` runs registered query ``name`` at ``sf_dir`` and
    compares it with its DuckDB oracle, once per session: the parity
    suite covers every query and the demoted-tail suite re-asserts the
    tail, so the second asks for an outcome already computed instead of
    re-running the same query on the same data. Returns
    ``(is_frame, ncols, ok, msg)``; ``ok``/``msg`` are None for
    rows-only queries (no oracle SQL)."""
    import duckdb
    import pandas as pd

    from portfolio1_etl_spark.plans import REGISTRY
    from portfolio1_etl_spark.schemas import DRIVER_TABLES
    from tools.check_oracle import _compare

    con = duckdb.connect()
    for t in DRIVER_TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    outcomes = {}

    def check(name):
        if name not in outcomes:
            q = REGISTRY[name]
            sdf = q.fn(spark, sf_dir).toPandas()
            ok, msg = (None, None) if q.sql is None else _compare(sdf, con.sql(q.sql).df())
            outcomes[name] = (isinstance(sdf, pd.DataFrame), sdf.shape[1], ok, msg)
        return outcomes[name]

    yield check
    con.close()
