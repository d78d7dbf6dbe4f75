"""Oracle check for every query DEMOTED past the 50-entry PRIORITY
window. The external harness samples only the window prefix, so this
suite is the automated correctness gate for the tail — without it,
"CI covers the demoted queries" would be an unbacked claim. The
comparison itself is the session-shared ``registry_oracle`` outcome
(conftest.py), so a query is run once whichever suite asks first."""

from __future__ import annotations

import pytest

from portfolio1_etl_spark.plans import REGISTRY

WINDOW = 50

_TAIL = list(REGISTRY)[WINDOW:]


@pytest.mark.parametrize("name", _TAIL)
def test_demoted_query_matches_oracle(name, registry_oracle):
    assert REGISTRY[name].sql is not None, f"{name} demoted without oracle SQL"
    _, _, ok, msg = registry_oracle(name)
    assert ok, f"{name}: {msg}"
