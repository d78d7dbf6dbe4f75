"""Differential test: every registered query vs its DuckDB oracle at
sf0.001 (the driver runs the same comparison at sf0.01). This is the
primary correctness gate — SURVEY.md §5.2."""

from __future__ import annotations

import pytest

from portfolio1_etl_spark.plans import REGISTRY


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, registry_oracle):
    is_frame, ncols, ok, msg = registry_oracle(name)
    assert is_frame
    if REGISTRY[name].sql is None:
        # rows-only check (non-SQL-expressible op): plan runs, schema stable
        assert ncols > 0
        return
    assert ok, f"{name}: {msg}"
