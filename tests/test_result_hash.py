"""``tools/result_hash.py`` and ``tools/check_oracle.py`` must not pass
on failures: a query that fails is a mismatch, and a query name that
does not resolve to exactly one registered query aborts the run."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from portfolio1_etl_spark.plans import REGISTRY
from portfolio1_etl_spark.plans.registry import resolve
from tools import result_hash

_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_short_names_resolve_to_the_one_registered_query(monkeypatch):
    assert resolve("q46") == "q46_scd2_intervals"
    assert resolve("q46_scd2_intervals") == "q46_scd2_intervals"
    with pytest.raises(KeyError, match="not registered"):
        resolve("q99999")
    monkeypatch.setitem(REGISTRY, "q46_copy", REGISTRY["q46_scd2_intervals"])
    with pytest.raises(KeyError, match="ambiguous"):
        resolve("q46")


def _compare(tmp_path, monkeypatch, a: dict, b: dict) -> int:
    fa, fb = tmp_path / "a.json", tmp_path / "b.json"
    fa.write_text(json.dumps(a))
    fb.write_text(json.dumps(b))
    monkeypatch.setattr(sys, "argv", ["result_hash.py", "--compare", str(fa), str(fb)])
    with pytest.raises(SystemExit) as e:
        result_hash.main()
    return e.value.code


def test_compare_counts_errors_as_mismatches(tmp_path, monkeypatch, capsys):
    ok = {"cols": ["x"], "n": 1, "md5": "0" * 32}
    err = {"error": "KeyError: 'q46'"}
    assert _compare(tmp_path, monkeypatch, {"q1": ok}, {"q1": ok}) == 0
    assert _compare(tmp_path, monkeypatch, {"q1": ok, "q2": err}, {"q1": ok, "q2": err}) == 1
    assert "ERROR q2" in capsys.readouterr().out
    assert _compare(tmp_path, monkeypatch, {"q1": ok}, {"q1": err}) == 1


@pytest.mark.parametrize("tool", ["result_hash.py", "check_oracle.py"])
def test_unknown_name_aborts_before_running(tool, tmp_path):
    args = [f"--out={tmp_path / 'h.json'}"] if tool == "result_hash.py" else []
    done = subprocess.run(
        [sys.executable, os.path.join(_ROOT, "tools", tool), *args, "q99999"],
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert done.returncode != 0
    assert "not registered" in done.stderr
    assert not (tmp_path / "h.json").exists()
