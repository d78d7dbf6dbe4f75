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


@pytest.fixture()
def restore_checkpoint_dir(spark):
    """Put the context's checkpoint directory back (none in a plain
    session) after a test that sets one. A directory left set would
    turn every ``checkpointing.materialize`` of the later tests in the
    shared session into a reliable checkpoint. PySpark has no public
    unset, so the JVM field is restored directly."""
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.checkpointDir()
    yield
    getattr(jsc, "checkpointDir_$eq")(before)


@pytest.fixture()
def ckpt_dir(spark, tmp_path, restore_checkpoint_dir):
    """A fresh checkpoint directory on the context for one test: every
    ``checkpointing.materialize`` in it writes a reliable checkpoint
    there."""
    d = str(tmp_path / "ckpt")
    spark.sparkContext.setCheckpointDir(d)
    return d


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
