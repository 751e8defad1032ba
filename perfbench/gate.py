"""Correctness gate: the engine's output against the replay oracle.

Rows are compared as whole tuples after normalising nulls, timestamps (to
integer microseconds) and integer widths, so a wrong payload, a missing or
resurrected key, a stale LWW winner or a duplicated changelog row all count.
Each check returns the number of rows that differ; 0 means the check passed.
"""

from __future__ import annotations

from collections import Counter

import pandas as pd

TABLE_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
CHANGE_COLS = TABLE_COLS + ["_change_type"]


def _tuples(df: pd.DataFrame, cols: list[str]) -> Counter:
    out = df[cols].copy()
    out["ts"] = pd.to_datetime(out["ts"]).astype("datetime64[us]").astype("int64")
    out["turn_idx"] = out["turn_idx"].astype("int64")
    out = out.astype(object).where(out.notna(), None)
    return Counter(out.itertuples(index=False, name=None))


def _diff(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> int:
    a, b = _tuples(got, cols), _tuples(want, cols)
    return sum(((a - b) + (b - a)).values())


def table_diff(got: pd.DataFrame, oracle: pd.DataFrame) -> int:
    """Rows in which a table read and ``replay_oracle`` disagree."""
    return _diff(got, oracle, TABLE_COLS)


def changelog_diff(got: pd.DataFrame, expected: pd.DataFrame) -> int:
    """Rows in which a changelog read and its committed window disagree."""
    return _diff(got, expected, CHANGE_COLS)
