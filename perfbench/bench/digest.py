"""Order-insensitive digests of query results.

Both sides of a check go through `frame_digest`: the engine's parquet
output here, and the DuckDB oracle's result when the expected digests
were derived (`derive_digests.py`). Columns are taken in name order,
floats by their exact bits, timestamps as integers, nested values as
JSON; the rows are then sorted, so row order never matters.
"""
import hashlib
import json
import math

import numpy as np
import pandas as pd


def _plain(v):
    if isinstance(v, np.ndarray):
        return [_plain(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_plain(x) for x in v]
    if isinstance(v, dict):
        return {str(k): _plain(x) for k, x in v.items()}
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, np.generic):
        return v.item()
    if isinstance(v, float) and math.isnan(v):
        return None
    return v


def _canon(series):
    kind = series.dtype.kind
    if kind == "M":
        series = series.astype("int64")
        kind = "i"
    if kind in "iu":
        return series.map(str)
    if kind == "f":
        return series.astype("float64").map(lambda v: "N" if v != v else v.hex())
    if kind == "b":
        return series.map(lambda v: "1" if v else "0")

    def obj(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "N"
        if isinstance(v, float):
            return v.hex()
        if isinstance(v, (bool, np.bool_)):
            return "1" if v else "0"
        if isinstance(v, (int, np.integer)):
            return str(int(v))
        if isinstance(v, str):
            return "s" + v
        if isinstance(v, pd.Timestamp):
            return str(v.value)
        return "j" + json.dumps(_plain(v), sort_keys=True, default=str)
    return series.map(obj)


def frame_digest(df):
    """(sha256 hex, row count) of a result, independent of row order."""
    cols = sorted(df.columns)
    h = hashlib.sha256()
    h.update(("\x1e".join(cols) + "\n").encode())
    if len(df) == 0:
        return h.hexdigest(), 0
    canon = [_canon(df[c].reset_index(drop=True)) for c in cols]
    rows = ["\x1f".join(vals) for vals in zip(*canon)]
    rows.sort()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def parquet_digest(path):
    return frame_digest(pd.read_parquet(path))
