"""Shared helpers for the hypothesis oracle-contract suites
(test_round{9,10,11,12}_property*.py): the md5-h32 python twin, the
octave bucket key, and the in-memory events/documents table builders.
One copy here so a change to the events schema or the h32/octave
encoding propagates to every property suite at once.
"""

from __future__ import annotations

import hashlib

import duckdb
import pandas as pd
from hypothesis import strategies as st

HOUR_US = 3_600 * 1_000_000
DAY_US = 24 * HOUR_US
#: 2024-01-01 00:00:00 UTC
T0 = 1_704_067_200_000_000


def h32(s: str) -> int:
    """Python twin of functions/hashing.h32: first 8 md5 hex digits."""
    return int(hashlib.md5(s.encode()).hexdigest()[:8], 16)


def octave_bucket(v: int) -> int:
    """The engine's shared integer octave key (ext_binning /
    ext_sketch / ext_drift): identity below 8, else
    (bitlen << 3) | top-3-bits."""
    if v < 8:
        return v
    bl = v.bit_length()
    return (bl << 3) | (v >> (bl - 3))


def events_df(rows, props=None, user_null_mask=None) -> pd.DataFrame:
    """rows: (event_id, ts_us, user_id, event_type, value)"""
    users = [r[2] for r in rows]
    if user_null_mask:
        users = [None if m else u for u, m in zip(users, user_null_mask)]
    return pd.DataFrame(
        {
            "event_id": pd.Series([r[0] for r in rows], dtype="int64"),
            "ts": pd.Series(
                [pd.Timestamp(r[1], unit="us") for r in rows],
                dtype="datetime64[us]",
            ),
            "user_id": pd.Series(users, dtype="Int64"),
            "event_type": pd.Series([r[3] for r in rows], dtype="object"),
            "value": pd.Series([r[4] for r in rows], dtype="float64"),
            "props": pd.Series(
                props if props is not None else [None] * len(rows),
                dtype="object",
            ),
        }
    )


def events_con(rows, props=None, user_null_mask=None):
    con = duckdb.connect()
    con.register("events", events_df(rows, props, user_null_mask))
    return con


def mk_rows(raw):
    """(hour, second, user, type, cents) tuples -> events rows"""
    return [
        (i + 1, T0 + h * HOUR_US + s * 1_000_000, u, t, cents / 100.0)
        for i, (h, s, u, t, cents) in enumerate(raw)
    ]


def events_strategy(
    *,
    max_hour: int = 72,
    max_user: int = 5,
    types=("click", "view"),
    min_cents: int = 1,
):
    return st.lists(
        st.tuples(
            st.integers(0, max_hour),
            st.integers(0, 3_599),
            st.integers(1, max_user),
            st.sampled_from(list(types)),
            st.integers(min_cents, 9_999),
        ),
        min_size=1,
        max_size=40,
    )


def day_str(us: int) -> str:
    return pd.Timestamp(us // 1_000_000, unit="s").strftime("%Y-%m-%d")
