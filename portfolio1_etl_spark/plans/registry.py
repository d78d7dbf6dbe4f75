"""The query/oracle registry behind ``__spark_entry__``.

Each registered query is a named pair:
- ``fn(spark, sf_dir) -> DataFrame`` — the PySpark implementation;
- ``sql`` — the equivalent ANSI SQL the DuckDB oracle runs over the
  same parquet tables (None for genuinely non-SQL-expressible ops —
  the driver then records a weaker rows-only check).

Determinism contract (so order-insensitive value-hashes agree):
- alias every computed column identically in both implementations;
- round floating aggregates in BOTH engines — coarse enough that the
  ~1e-15-relative error from differing summation orders cannot cross a
  rounding boundary, fine enough to stay meaningful (money → 2 dp,
  ratios/averages → 4-6 dp);
- break ties explicitly wherever a LIMIT / row_number picks rows.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


@dataclass
class Query:
    name: str
    fn: QueryFn
    sql: str | None = None
    #: operator IDs from SURVEY.md §2 this query exercises (for the coverage map)
    operators: tuple[str, ...] = field(default_factory=tuple)
    doc: str = ""


REGISTRY: dict[str, Query] = {}


def query(name: str, sql: str | None = None, operators: tuple[str, ...] = ()):
    """Decorator: register ``fn`` as a named query with its oracle SQL."""

    def deco(fn: QueryFn) -> QueryFn:
        if name in REGISTRY:
            raise ValueError(f"duplicate query name: {name}")
        REGISTRY[name] = Query(name=name, fn=fn, sql=sql, operators=operators, doc=fn.__doc__ or "")
        return fn

    return deco


def resolve(name: str) -> str:
    """The registered name ``name`` stands for: itself when registered,
    else the one query named ``{name}_*`` (``q46`` →
    ``q46_scd2_intervals``). An unknown or ambiguous name raises
    ``KeyError`` naming the candidates."""
    if name in REGISTRY:
        return name
    hits = [n for n in REGISTRY if n.startswith(f"{name}_")]
    if not hits:
        raise KeyError(f"query {name!r} is not registered")
    if len(hits) > 1:
        raise KeyError(f"query {name!r} is ambiguous: {', '.join(hits)}")
    return hits[0]
