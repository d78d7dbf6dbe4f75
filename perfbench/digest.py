"""Order-insensitive digest of a pandas frame: the multiset of its rows,
over columns sorted by name, with timestamps as integer microseconds,
integers as int64, floats by bit pattern and everything else as text.

Used for the chain reads of ``chain_rw``: ``tools.check_oracle._compare``
sorts and stringifies every column, about 0.4 s per 150 k-row read,
which at a dozen reads a run would cost more than a round of the
workload; hashing rows takes a few milliseconds.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd


def _canon(df: pd.DataFrame) -> pd.DataFrame:
    out = {}
    for c in sorted(df.columns):
        s = df[c].reset_index(drop=True)
        if pd.api.types.is_datetime64_any_dtype(s):
            if getattr(s.dt, "tz", None) is not None:
                s = s.dt.tz_convert("UTC").dt.tz_localize(None)
            s = s.astype("datetime64[us]").astype("int64")
        elif pd.api.types.is_integer_dtype(s):
            s = s.astype("int64")
        elif pd.api.types.is_float_dtype(s):
            s = pd.Series(s.to_numpy(dtype="float64").view("int64"))
        else:
            s = s.astype(str)
        out[c] = s
    return pd.DataFrame(out)


def frame_digest(df: pd.DataFrame) -> str:
    canon = _canon(df)
    rows = np.sort(pd.util.hash_pandas_object(canon, index=False).to_numpy())
    h = hashlib.md5(",".join(canon.columns).encode())
    h.update(rows.tobytes())
    return h.hexdigest()
