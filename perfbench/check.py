"""Order-insensitive value hashing of result frames.

Two results are equal when they have the same column names, the same
row count and the same multiset of rows. Numbers compare by value
(an int and an equal float hash alike), NaN and None are both null,
timestamps compare by ISO text."""

from __future__ import annotations

import decimal
import hashlib
import math
import numbers

import numpy as np


def _canon(v):
    if v is None:
        return None
    if isinstance(v, (bool, np.bool_)):
        return bool(v)
    if isinstance(v, (numbers.Number, decimal.Decimal, np.number)):
        f = float(v)
        return None if math.isnan(f) else f
    if hasattr(v, "isoformat"):  # date, datetime, pandas Timestamp
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    return str(v)


def value_hash(df) -> tuple[tuple[str, ...], int, int]:
    """(sorted column names, row count, order-insensitive row hash)
    of a pandas frame."""
    cols = tuple(sorted(df.columns))
    acc = 0
    for row in df[list(cols)].itertuples(index=False, name=None):
        digest = hashlib.blake2b(repr(tuple(_canon(v) for v in row)).encode(), digest_size=8)
        acc = (acc + int.from_bytes(digest.digest(), "little")) % (1 << 64)
    return cols, len(df), acc


def mismatch(got, want) -> str | None:
    """None when two frames hash equal, else a one-line reason."""
    g, w = value_hash(got), value_hash(want)
    if g == w:
        return None
    if g[0] != w[0]:
        return f"columns {list(g[0])} != {list(w[0])}"
    if g[1] != w[1]:
        return f"rows {g[1]} != {w[1]}"
    return "values differ"
