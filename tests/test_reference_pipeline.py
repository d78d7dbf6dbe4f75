"""The reference pipeline (q40–q44) on typed part keys.

The queries join and group on the integral ``l_partkey`` and render the
sku string and the month name only above their aggregate, while their
oracle SQL keeps the reference's cleaned string keys. These tests pin
that equivalence on hand-built edge cases, pin the plan shape that makes
it fast, and pin the load-time type check the equivalence rests on.
"""

from __future__ import annotations

import datetime as dt
import re

import duckdb
import pytest
from pyspark.sql import types as T

from portfolio1_etl_spark import catalog, schemas
from portfolio1_etl_spark.plans import REGISTRY
from tools.check_oracle import _compare

PIPELINE = [
    "q40_canonical_sales",
    "q41_soldvalue_retail",
    "q42_wholesale_multiplier",
    "q43_enriched_sales",
    "q44_brand_report",
]

SUPPLIER = [
    (1, "  Supplier#A ", 1, 0.0),
    (2, "SUPPLIER#b", 1, 0.0),
]

PART = [
    (1, "p1", "Brand#1", "t", 2, 10.5),
    (2, "p2", "Brand#2", "t", 3, 7.25),
    (-5, "negative key", "Brand#3", "t", 4, 3.0),
    (7, "never sold", "Brand#1", "t", 5, 1.0),
    (8, "never sold, own brand", "Brand#9", "t", 1, 2.0),
]


def _li(orderkey, partkey, suppkey, qty, shipdate):
    return (orderkey, partkey, suppkey, 1, qty, 1.0, 0.0, 0.0, "N", "O", shipdate)


LINEITEM = [
    _li(1, 1, 1, 5.0, dt.datetime(1995, 1, 15)),
    _li(1, 2, 2, 3.0, dt.datetime(1995, 2, 1)),
    _li(2, 1, 2, 2.5, dt.datetime(1996, 1, 31, 23, 59)),
    _li(2, None, 1, 4.0, dt.datetime(1995, 1, 2)),  # NULL part key
    _li(3, 99, 1, 6.0, dt.datetime(1995, 3, 3)),  # no part row: NULL brand
    _li(3, -5, 2, 1.0, dt.datetime(1997, 12, 31)),  # negative key
    _li(4, 1, 42, 9.0, dt.datetime(1995, 1, 15)),  # no supplier: dropped
    _li(4, 2, 1, 2.0, None),  # NULL ship date: NULL year and month
]


@pytest.fixture(scope="module")
def edge_tables(spark, tmp_path_factory):
    sf = str(tmp_path_factory.mktemp("reference_pipeline"))
    for name, rows in (("supplier", SUPPLIER), ("part", PART), ("lineitem", LINEITEM)):
        spark.createDataFrame(rows, schemas.DRIVER_TABLES[name]).coalesce(1).write.parquet(
            catalog.path_for(sf, name)
        )
    con = duckdb.connect()
    for name in ("supplier", "part", "lineitem"):
        con.sql(
            f"CREATE VIEW {name} AS SELECT * FROM "
            f"read_parquet('{catalog.path_for(sf, name)}/*.parquet')"
        )
    return sf, con


@pytest.mark.parametrize("name", PIPELINE)
def test_edge_cases_match_string_key_oracle(spark, edge_tables, name):
    sf, con = edge_tables
    got = REGISTRY[name].fn(spark, sf).toPandas()
    ok, msg = _compare(got, con.sql(REGISTRY[name].sql).df())
    assert ok, f"{name}: {msg}"


def test_edge_cases_are_exercised(spark, edge_tables):
    """The parity above is only as good as its cases: check by hand that
    each one reaches the output it is meant to reach."""
    sf, _ = edge_tables
    run = {n: REGISTRY[n].fn(spark, sf).toPandas() for n in PIPELINE}

    # q40: the NULL key and the supplier-less line are gone; site is cleaned.
    q40 = run["q40_canonical_sales"].set_index("site")
    assert q40.to_dict() == {
        "n_rows": {"supplier#a": 3, "supplier#b": 3},
        "qty": {"supplier#a": 13.0, "supplier#b": 6.5},
    }
    # q41: the negative key renders with its sign, the NULL key is stripped.
    q41 = dict(zip(run["q41_soldvalue_retail"].sku, run["q41_soldvalue_retail"].qty))
    assert q41 == {"1": 7.5, "2": 5.0, "99": 6.0, "-5": 1.0}
    # q42: the right join keeps map rows that sold nothing.
    q42 = run["q42_wholesale_multiplier"].set_index("sku").qty
    assert set(q42.index) == {"Brand#1", "Brand#2", "Brand#3", "Brand#9"}
    assert q42.isna()["Brand#9"]
    assert q42["Brand#3"] == 4.0
    # q43: the unmatched key (March) and the NULL key (January) give NULL
    # brand groups; NULL ship date gives NULL year and month name.
    q43 = run["q43_enriched_sales"]
    assert sorted(q43[q43.brand.isna()].month_name) == ["January", "March"]
    assert q43[q43.yr.isna()].month_name.isna().all()
    assert set(q43.month_name.dropna()) == {"January", "February", "March", "December"}
    # q44: the negative key survives the brand filter; unknown keys do not.
    assert set(run["q44_brand_report"].sku) == {"1", "2", "-5"}


def _executed_tree(df) -> str:
    df.collect()
    plan = df._jdf.queryExecution().executedPlan()
    if plan.getClass().getSimpleName() == "AdaptiveSparkPlanExec":
        plan = plan.executedPlan()
    return plan.treeString()


def _call_args(text: str, fn: str) -> list[str]:
    """The argument text of every ``fn(...)`` call in ``text``."""
    args = []
    for m in re.finditer(rf"(?<![A-Za-z_]){fn}\(", text):
        depth = 0
        for k in range(m.end() - 1, len(text)):
            depth += {"(": 1, ")": -1}.get(text[k], 0)
            if depth == 0:
                args.append(text[m.end() : k])
                break
    return args


@pytest.mark.parametrize(
    "name", ["q41_soldvalue_retail", "q43_enriched_sales", "q44_brand_report"]
)
def test_no_per_lineitem_string_below_the_aggregate(spark, sf_dir, name):
    """Below the first (final) HashAggregate of the executed plan: no
    ``cast(l_partkey as string)``, no lower/trim of a lineitem column and
    no ``date_format`` — the wide values are built per group, above it."""
    tree = _executed_tree(REGISTRY[name].fn(spark, sf_dir))
    lines = tree.splitlines()
    first = next(i for i, ln in enumerate(lines) if "HashAggregate(" in ln)
    below = "\n".join(lines[first + 1 :])
    assert "HashAggregate(" in below, tree  # the partial aggregate
    assert not re.search(r"cast\(l_partkey#\d+L as string\)", below), tree
    for fn in ("lower", "trim", "ltrim", "rtrim", "btrim"):
        for arg in _call_args(below, fn):
            assert not re.search(r"(?<![A-Za-z_])l_\w+#", arg), f"{fn}({arg}) in\n{tree}"
    assert "date_format(" not in below, tree
    if name != "q41_soldvalue_retail":
        assert re.search(r"\[l_partkey#\d+L\], \[p_partkey#\d+L\]", below), tree


def test_load_rejects_a_string_part_key(spark, tmp_path):
    sf = str(tmp_path)
    drifted = T.StructType(
        [
            T.StructField(f.name, T.StringType()) if f.name == "p_partkey" else f
            for f in schemas.PART.fields
        ]
    )
    spark.createDataFrame(
        [(str(r[0]),) + r[1:] for r in PART], drifted
    ).coalesce(1).write.parquet(catalog.path_for(sf, "part"))
    with pytest.raises(ValueError, match=r"part\.p_partkey.*bigint.*string"):
        catalog.load(spark, sf, "part")
    assert catalog.load(spark, sf, "part", validate=False).count() == len(PART)
