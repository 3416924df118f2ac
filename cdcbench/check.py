"""Correctness gate: the lake's live rows against the pandas reference replay."""

from __future__ import annotations

import hashlib

import pandas as pd

KEY_COLS = ("repo", "path", "commit")


def fingerprint(df: pd.DataFrame, key_cols=KEY_COLS) -> str:
    """Same digest as ``oracle.table_fingerprint``, built column-wise.

    The reference walks rows with ``iloc``, which takes minutes at 10^5
    rows; here the per-row strings come from vectorized concatenation
    and only the sha256 of ``content`` is a per-value call."""
    if "content" in df.columns:
        sha = pd.Series(
            [
                hashlib.sha256(s.encode()).hexdigest() if isinstance(s, str) else "None"
                for s in df["content"]
            ],
            index=df.index,
            dtype=object,
        )
    else:
        sha = pd.Series("", index=df.index, dtype=object)
    row = df[key_cols[0]].astype(str)
    for c in key_cols[1:]:
        row = row + "|" + df[c].astype(str)
    rows = sorted(row + "|" + sha)
    return hashlib.sha256("\n".join(rows).encode()).hexdigest()

