"""The Python UDF surface (SURVEY.md §2.12) — the engine's *slow
path*, kept Arrow-vectorized and used only where built-ins genuinely
cannot express the logic.

The reference's "UDFs" were plain Python row loops (the whole-frame
lowercase lambda portfolio-etl.py:605, per-row XML extraction
:129-133, ``apply(pd.Series)`` :327) — all of those became built-in
expressions in this engine. What remains Python-worthy is logic that
needs a real Python library or stateful per-group computation:

- ``scalar pandas_udf``  — batch-vectorized column function
- ``grouped-agg pandas_udf`` (UDAF) — Series in, scalar out per group
- ``applyInPandas``      — grouped-map (whole group in, whole group out)
- ``mapInArrow``         — per-partition batch stream (see
  ``multimodal.map_rows``)
- ``applyInPandasWithState`` — streaming state (see streaming.jobs)

Each demo here has a built-in twin; tests assert equality so the UDF
path is pinned to the declarative semantics it must mimic.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@F.pandas_udf(T.LongType())
def token_count_udf(text: pd.Series) -> pd.Series:
    """Vectorized token counter (Arrow batch in/out). Equivalent to the
    built-in ``size(split(text, ' '))`` — exists to exercise/measure the
    pandas_udf path; prefer the built-in in production plans."""
    return text.str.split(" ").str.len().astype("int64")


@F.pandas_udf(T.DoubleType())
def geometric_mean_udaf(values: pd.Series) -> float:
    """Grouped-agg pandas UDF — the UDAF shape of §2.12: each group's
    column arrives as ONE pandas Series, a scalar returns. Geometric
    mean is a genuine UDAF example (no built-in equivalent as a single
    aggregate); the test pins it to the exp(avg(ln(x))) expression
    twin. Works in ``groupBy().agg()`` and as an unbounded window
    aggregate. Scale note: grouped-agg buffers one group's column per
    task — right for bounded groups, wrong for power-law keys (use the
    expression twin there, which runs map-side partial aggregation)."""
    import numpy as np

    pos = values[values > 0]
    if len(pos) == 0:
        return float("nan")
    return float(np.exp(np.log(pos.astype("float64")).mean()))


def zscore_per_group(df: DataFrame, group_col: str, value_col: str) -> DataFrame:
    """Grouped-map normalization via applyInPandas: each group arrives
    as one pandas DataFrame (so the group's mean/std are computable in
    one place), returns the rows with a ``zscore`` column.

    Scale note: a group must fit in one task's memory — correct tool
    for bounded groups (per-user, per-sku), wrong tool for power-law
    keys (use built-in window mean/stddev there, which this function's
    test is pinned against)."""
    out_schema = T.StructType(
        df.schema.fields + [T.StructField("zscore", T.DoubleType())]
    )

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        mu = pdf[value_col].mean()
        sd = pdf[value_col].std(ddof=1)
        z = (pdf[value_col] - mu) / sd if sd and sd > 0 else pdf[value_col] * 0.0
        return pdf.assign(zscore=z)

    return df.groupBy(group_col).applyInPandas(fn, out_schema)


def ngram_udtf():
    """Python UDTF (Spark 4): one input row → many output rows — the
    table-function shape of the shingle generator. The engine's
    production path is the expression form (``transform(sequence(...))``
    in operators.dedup, codegen'd); this UDTF exists as the §2.12
    surface for logic that genuinely needs Python per-row expansion
    (e.g. a real tokenizer library). Registered per-call (UDTFs bind to
    a session)."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="pos int, ngram string")
    class NgramUDTF:
        def eval(self, text: str, n: int):
            if text is None:
                return
            toks = text.split(" ")
            for i in range(max(len(toks) - n + 1, 0)):
                yield i + 1, " ".join(toks[i : i + n])

    return NgramUDTF


def _jaro_winkler_py(s1: str, s2: str) -> float:
    """Pure-Python Jaro-Winkler, calibrated BIT-EXACTLY against
    DuckDB's ``jaro_winkler_similarity`` (6000-pair fuzz in
    tests/test_udfs.py::test_jaro_winkler_matches_duckdb): empty
    strings score 0.0 even when both are empty; match window is
    ``max(n1,n2)//2 - 1`` (no clamp to 1, so 'ab'/'ba' -> 0.0);
    the Winkler prefix boost (p=0.1, prefix capped at 4) applies only
    when jaro > 0.7 (DuckDB's boost threshold); the jaro fold is
    ``(m/n1 + m/n2 + (m-t)/m) / 3`` in exactly that IEEE order.
    Cross-engine float determinism: identical double ops in identical
    order -> identical bits, so a 6-dp round can't straddle engines."""
    n1, n2 = len(s1), len(s2)
    if n1 == 0 or n2 == 0:
        return 0.0
    if s1 == s2:
        return 1.0
    win = max(n1, n2) // 2 - 1
    m1 = [False] * n1
    m2 = [False] * n2
    m = 0
    for i in range(n1):
        for j in range(max(0, i - win), min(n2, i + win + 1)):
            if not m2[j] and s1[i] == s2[j]:
                m1[i] = m2[j] = True
                m += 1
                break
    if m == 0:
        return 0.0
    t = 0
    k = 0
    for i in range(n1):
        if m1[i]:
            while not m2[k]:
                k += 1
            if s1[i] != s2[k]:
                t += 1
            k += 1
    t //= 2
    j = (m / n1 + m / n2 + (m - t) / m) / 3.0
    if j <= 0.7:
        return j
    pref = 0
    for a, b in zip(s1, s2):
        if a == b and pref < 4:
            pref += 1
        else:
            break
    return j + pref * 0.1 * (1.0 - j)


@F.pandas_udf(T.DoubleType())
def jaro_winkler_udf(a: pd.Series, b: pd.Series) -> pd.Series:
    """Arrow-vectorized Jaro-Winkler similarity (see _jaro_winkler_py
    for the DuckDB-exact semantics). Spark has no built-in JW (only
    levenshtein), so this is a genuine pandas-UDF use: a per-pair
    string metric in the record-linkage hot path, batched through
    Arrow rather than row-at-a-time. NULL in either side -> NULL."""
    out = [
        None if (x is None or y is None) else _jaro_winkler_py(x, y)
        for x, y in zip(a, b)
    ]
    return pd.Series(out, dtype="float64")
