"""Positional read algebra → ``_rowid`` predicates.

The reference's entire query surface is positional (SURVEY §2.2): point read
(nimtables.nim:149-152), backwards index (:154-157), inclusive slice
(:159-171), strided hyperslab (nimhdf5/datasets.nim:1601-1645), and explicit
coordinate sets (datasets.nim:806-860). Each compiles here to a Catalyst
predicate on the ``_rowid`` column; because store tables are written sorted by
``_rowid``, these predicates push down to Parquet row-group min/max pruning —
the exact analog of HDF5 reading only the chunks intersecting a selection.

Each selection also has an Arrow/numpy form (``*_mask``): the same
semantics as a boolean mask over an array of LOGICAL ``_rowid`` values, used
by the Store's driver-local read path (``Table._read_local``), which selects
rows in Arrow before building a LocalRelation. Keeping both forms side by
side makes this module the single owner of the selection semantics.

All functions are pure: they build ``Column`` predicates / projections or
numpy masks and never collect. Negative indices follow the reference's
BackwardsIndex semantics (``^k`` = ``nrecords - k``) and need the caller to
supply ``nrows``.
"""

from __future__ import annotations

from collections.abc import Sequence

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from nimhdfstore_spark.rowid import ROWID


def _resolve(i: int, nrows: int) -> int:
    """Python-style negative index → absolute position (reference ``^k``)."""
    return i + nrows if i < 0 else i


def point(i: int, nrows: int) -> Column:
    """Single row at position ``i`` (P1/P2, nimtables.nim:149-157)."""
    return F.col(ROWID) == F.lit(_resolve(i, nrows))


def point_mask(r: np.ndarray, i: int, nrows: int) -> np.ndarray:
    return r == _resolve(i, nrows)


def slice_range(a: int, b: int, nrows: int) -> Column:
    """Inclusive slice ``a..b`` (P3, nimtables.nim:159-171)."""
    lo, hi = _resolve(a, nrows), _resolve(b, nrows)
    return F.col(ROWID).between(F.lit(lo), F.lit(hi))


def slice_mask(r: np.ndarray, a: int, b: int, nrows: int) -> np.ndarray:
    lo, hi = _resolve(a, nrows), _resolve(b, nrows)
    return (r >= lo) & (r <= hi)


def check_block(stride: int, block: int) -> None:
    if block > stride:
        raise ValueError("hyperslab block must be <= stride")


def hyperslab(
    offset: int,
    count: int,
    stride: int = 1,
    block: int = 1,
) -> Column:
    """Strided rectangular selection on the row axis (P4).

    Mirrors HDF5's (offset, count, stride, block) 1-D hyperslab
    (nimhdf5/datasets.nim:1371-1448): ``count`` blocks of ``block`` rows,
    block starts ``stride`` apart, beginning at ``offset``.
    """
    check_block(stride, block)
    r = F.col(ROWID)
    upper = offset + (count - 1) * stride + block
    cond = (r >= F.lit(offset)) & (r < F.lit(upper))
    return cond & (((r - F.lit(offset)) % F.lit(stride)) < F.lit(block))


def hyperslab_mask(
    i: np.ndarray, offset: int, count: int, stride: int = 1, block: int = 1
) -> np.ndarray:
    """The 1-D hyperslab condition on an integer array ``i`` (a ``_rowid``
    or, for n-dim datasets, one coordinate). Spark's ``%`` is a truncated
    remainder and yields null (row dropped) for a zero divisor; ``np.fmod``
    with the zero case masked out reproduces both."""
    check_block(stride, block)
    upper = offset + (count - 1) * stride + block
    cond = (i >= offset) & (i < upper)
    if stride == 0:
        return np.zeros_like(cond)
    return cond & (np.fmod(i - offset, stride) < block)


def element_set(coords: Sequence[int], nrows: int) -> Column:
    """Explicit coordinate-set selection (P5, nimhdf5/datasets.nim:806-860)."""
    resolved = [_resolve(int(c), nrows) for c in coords]
    return F.col(ROWID).isin(resolved)


def element_mask(r: np.ndarray, coords: Sequence[int], nrows: int) -> np.ndarray:
    resolved = np.array([_resolve(int(c), nrows) for c in coords], dtype=np.int64)
    return np.isin(r, resolved)


def read_as(df: DataFrame, casts: dict[str, str], keep_rowid: bool = True) -> DataFrame:
    """Type-cast projection (P9, nimhdf5/datasets.nim:775-804,922-971)."""
    cols = []
    if keep_rowid and ROWID in df.columns:
        cols.append(F.col(ROWID))
    for name, dtype in casts.items():
        cols.append(F.col(name).cast(dtype).alias(name))
    return df.select(*cols)
