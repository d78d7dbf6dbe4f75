"""Seeded inputs of the three workloads.

The committed base tables (``data/base``, the TPC-H-ish star schema
plus ``events``, ``documents`` and ``embeddings``, 60 k lineitem rows)
are amplified once per checkout with ``tools.gen_scale.amplify`` and
then varied per seed: a seeded 1-2 % of the fact rows is dropped, so
every seed gives different results but the same amount of work. The
package only ever sees the generated directories.

Tables are rewritten with small row groups so that ``local[N]`` scans
split across all cores, as multi-file inputs would.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

HERE = os.path.dirname(os.path.abspath(__file__))
BASE = os.path.join(HERE, "data", "base")
TABLES = (
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
)
ROW_GROUP = 32_768

#: per workload: amplification factor of the base, and the share of
#: rows each seed drops from the named tables
PLANS = {
    "etl_batch": (20, {"lineitem": 0.01}),
    "llm_prep": (1, {"documents": 0.02, "embeddings": 0.02}),
    "chain_rw": (10, {}),
}


def _amplified(work: str, factor: int) -> str:
    from tools.gen_scale import amplify

    if factor == 1:
        return BASE
    dst = os.path.join(work, "inputs", f"x{factor}")
    if os.path.exists(os.path.join(dst, ".done")):
        return dst
    shutil.rmtree(dst, ignore_errors=True)
    with contextlib.redirect_stdout(sys.stderr):  # keep stdout for the result
        amplify(BASE, dst, factor)
    open(os.path.join(dst, ".done"), "w").close()
    return dst


def _rng(seed: int, table: str) -> np.random.Generator:
    return np.random.default_rng([seed, TABLES.index(table)])


def make(work: str, workload: str, seed: int) -> str:
    """Directory of ``workload``'s tables for ``seed``."""
    factor, drops = PLANS[workload]
    dst = os.path.join(work, "inputs", f"{workload}-{seed}")
    if os.path.exists(os.path.join(dst, ".done")):
        return dst
    src = _amplified(work, factor)
    shutil.rmtree(dst, ignore_errors=True)
    os.makedirs(dst)
    for t in TABLES:
        table = pq.read_table(os.path.join(src, f"{t}.parquet"))
        share = drops.get(t, 0.0)
        if share:
            keep = _rng(seed, t).random(len(table)) >= share
            table = table.filter(pa.array(keep))
        pq.write_table(table, os.path.join(dst, f"{t}.parquet"), row_group_size=ROW_GROUP)
    open(os.path.join(dst, ".done"), "w").close()
    return dst


def chain_ops(orders: pa.Table, seed: int, rounds: int) -> list[dict]:
    """The seeded write schedule of ``chain_rw``: per round, an upsert of
    about 1 % of the keys (updated prices and statuses of live keys plus
    a few new keys) and a delete of about 0.5 % of the live keys."""
    rng = np.random.default_rng([seed, 1000])
    live = orders.column("o_orderkey").to_numpy().copy()
    next_key = int(live.max()) + 1
    n = len(live)
    ops = []
    for _ in range(rounds):
        upd = rng.choice(live, size=n // 100, replace=False)
        new = np.arange(next_key, next_key + n // 500)
        next_key += len(new)
        gone = rng.choice(np.setdiff1d(live, upd), size=n // 200, replace=False)
        ops.append(
            {
                "update": upd,
                "insert": new,
                "delete": gone,
                "price_factor": float(rng.uniform(0.9, 1.1)),
                "status": str(rng.choice(["F", "O", "P"])),
            }
        )
        live = np.setdiff1d(np.concatenate([live, new]), gone)
    return ops


def upsert_rows(state: pa.Table, op: dict) -> pa.Table:
    """Source rows of one upsert: the updated live rows with a changed
    price and status, plus the new keys cloned from updated rows."""
    keys = pa.array(op["update"])
    upd = state.filter(pc.is_in(state.column("o_orderkey"), value_set=keys))
    price = pc.round(
        pc.multiply(upd.column("o_totalprice"), op["price_factor"]), 2
    )
    upd = upd.set_column(upd.schema.get_field_index("o_totalprice"), "o_totalprice", price)
    upd = upd.set_column(
        upd.schema.get_field_index("o_orderstatus"),
        "o_orderstatus",
        pa.array([op["status"]] * len(upd), pa.string()),
    )
    new = upd.slice(0, len(op["insert"]))
    new = new.set_column(0, "o_orderkey", pa.array(op["insert"][: len(new)], pa.int64()))
    return pa.concat_tables([upd, new])


def event_slices(events: pa.Table, seed: int, n: int, size: int) -> list[pa.Table]:
    """``n`` disjoint seeded slices of ``size`` events each; slices wrap
    around the table with fresh event ids when ``n * size`` exceeds it."""
    rng = np.random.default_rng([seed, 2000])
    order = rng.permutation(len(events))
    out = []
    for i in range(n):
        idx = np.take(order, np.arange(i * size, (i + 1) * size), mode="wrap")
        s = events.take(pa.array(idx))
        lap = (i * size) // len(events)
        if lap:
            ids = pc.add(s.column("event_id"), pa.scalar(lap * 10_000_000, pa.int64()))
            s = s.set_column(s.schema.get_field_index("event_id"), "event_id", ids)
        out.append(s)
    return out
