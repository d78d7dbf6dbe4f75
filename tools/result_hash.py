"""Canonical per-query result digests — the optimization round's
"results identical" gate.

For each named query (default: every registered query) run the Spark
implementation at ``sf_dir`` and compute an ORDER-INSENSITIVE digest:
sorted column names, row count, and an md5 over the sorted row tuples
with floats rendered at full precision (%.17g — bit-exact doubles,
stricter than the oracle's tolerance compare, so partition-layout
drift in a double fold is caught even when DuckDB would still agree).

Usage:
    python tools/result_hash.py --out=FILE [--sf=DIR] [q1 q2 ...]
    python tools/result_hash.py --compare A.json B.json

Names may be short (``q46`` for ``q46_scd2_intervals``); an unknown or
ambiguous name aborts before anything runs. A query that raises is
recorded as ``{"error": ...}`` and makes the run exit 1; ``--compare``
counts an entry with an error on either side as a mismatch, so two
identical failures never pass as identical results.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _canon(v) -> str:
    import datetime

    import numpy as np

    if v is None:
        return "NULL"
    if isinstance(v, float) or isinstance(v, np.floating):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return "%.17g" % f
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, (np.bool_, bool)):
        return str(bool(v))
    if isinstance(v, np.ndarray):
        return "[" + ",".join(_canon(x) for x in v.tolist()) + "]"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(v[k])}" for k in sorted(v)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return "0x" + bytes(v).hex()
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    if v != v:  # pandas NaT / NaN fallthrough
        return "NULL"
    return str(v)


def digest(df) -> dict:
    cols = sorted(df.columns)
    pdf = df.toPandas()[cols]
    lines = sorted(
        "\x1f".join(_canon(v) for v in row) for row in pdf.itertuples(index=False)
    )
    h = hashlib.md5()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return {"cols": cols, "n": len(lines), "md5": h.hexdigest()}


def main() -> None:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    opts = dict(
        a.split("=", 1) if "=" in a else (a, "")
        for a in sys.argv[1:]
        if a.startswith("--")
    )
    if "--compare" in opts:
        a, b = args
        da, db = json.load(open(a)), json.load(open(b))
        bad = 0
        for name in sorted(set(da) & set(db)):
            if "error" in da[name] or "error" in db[name]:
                bad += 1
                print(f"ERROR {name}: {da[name]} vs {db[name]}")
            elif da[name] != db[name]:
                bad += 1
                print(f"MISMATCH {name}: {da[name]} != {db[name]}")
        only = set(da) ^ set(db)
        if only:
            print(f"# only in one file: {sorted(only)}")
        print(f"# compared {len(set(da) & set(db))}, mismatches {bad}")
        sys.exit(1 if bad else 0)

    from portfolio1_etl_spark import get_spark
    from portfolio1_etl_spark.plans import REGISTRY
    from portfolio1_etl_spark.plans.registry import resolve

    sf_dir = opts.get("--sf", os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    out = opts.get("--out") or "/tmp/result_hash.json"
    names = [resolve(a) for a in args] or list(REGISTRY)
    spark = get_spark(app_name="result-hash")
    res: dict[str, dict] = {}
    for name in names:
        spark.sparkContext.setJobDescription(f"hash:{name}")
        try:
            res[name] = digest(REGISTRY[name].fn(spark, sf_dir))
            print(f"ok   {name} {res[name]['n']} rows {res[name]['md5']}")
        except Exception as e:  # noqa: BLE001 — record, keep going
            res[name] = {"error": f"{type(e).__name__}: {e}"[:300]}
            print(f"FAIL {name}: {res[name]['error']}")
        spark.catalog.clearCache()
    with open(out, "w") as f:
        json.dump(res, f, indent=1, sort_keys=True)
    failed = sum("error" in r for r in res.values())
    print(f"# wrote {out} ({len(res)} queries, {failed} failed)")
    spark.stop()
    sys.exit(1 if failed else 0)


if __name__ == "__main__":
    main()
