"""The correctness gate: an in-memory pandas model of each store table that
applies every mutation, and comparisons of what the store returns against
it (all columns, keyed by ``_rowid``). A comparison returns ``None`` when
the result matches and a one-line description of the first difference
otherwise; the runner counts every difference as a failed op.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

ROWID = "_rowid"


class TableModel:
    """Live rows of one positional table, in position order."""

    def __init__(self, df: pd.DataFrame) -> None:
        self.df = df.reset_index(drop=True)

    @property
    def n(self) -> int:
        return len(self.df)

    def rows(self, positions) -> pd.DataFrame:
        """The expected read result at ``positions`` (ascending, unique)."""
        pos = np.asarray(positions, dtype=np.int64)
        out = self.df.iloc[pos].reset_index(drop=True)
        out.insert(0, ROWID, pos)
        return out

    def append(self, rows: pd.DataFrame) -> None:
        self.df = pd.concat([self.df, rows], ignore_index=True)

    def insert(self, i: int, rows: pd.DataFrame) -> None:
        self.df = pd.concat(
            [self.df.iloc[:i], rows, self.df.iloc[i:]], ignore_index=True
        )

    def update(self, a: int, rows: pd.DataFrame) -> None:
        df = self.df.copy()
        for c in df.columns:
            col = df[c].to_numpy(copy=True)
            col[a:a + len(rows)] = rows[c].to_numpy()
            df[c] = col
        self.df = df

    def delete(self, a: int, b: int) -> None:
        self.df = pd.concat(
            [self.df.iloc[:a], self.df.iloc[b + 1:]], ignore_index=True
        )


def _norm(s: pd.Series) -> np.ndarray:
    if pd.api.types.is_datetime64_any_dtype(s):
        return s.astype("datetime64[us]").to_numpy().astype(np.int64)
    return s.to_numpy()


def compare(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """Compare a read result with the expected rows, order-independent:
    both sides are keyed by ``_rowid``."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows != expected {len(want)}"
    got = got.sort_values(ROWID, kind="stable").reset_index(drop=True)
    want = want.sort_values(ROWID, kind="stable").reset_index(drop=True)
    for c in want.columns:
        g, w = _norm(got[c]), _norm(want[c])
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            bad = ~((g == w) | (np.isnan(g.astype(float)) & np.isnan(w.astype(float))))
        else:
            bad = g != w
        if np.any(bad):
            k = int(np.argmax(bad))
            return (f"column {c} at _rowid {want[ROWID][k]}: "
                    f"got {g[k]!r}, expected {w[k]!r}")
    return None
