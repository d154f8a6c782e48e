"""N-dimensional datasets on the positional store (reference nimhdf5 dataset
layer: create/read/write/hyperslab/resize, nimhdf5/datasets.nim).

Spark-first representation: an n-dim dataset of shape ``(d0, …, dk)`` is a
positional table whose ``_rowid`` is the **row-major linear index** and whose
single ``value`` column holds the cell. Coordinates are never stored — they
are arithmetic on ``_rowid`` (``i_j = (_rowid div stride_j) % d_j``), exactly
the offset math HDF5 performs when it maps a dataspace selection onto the
chunk grid (nimhdf5/dataspaces.nim:1-14, datasets.nim:1371-1448). Every
per-dimension hyperslab therefore compiles to a conjunction of ``_rowid``
modular predicates that push down to Parquet row-group pruning, and all the
store machinery — file-pruned mutation, codecs, attributes, snapshots —
applies unchanged.

Covered reference ops: S6 create_dataset (datasets.nim:347-535), S7
write_dataset (:537-541), S8 full read (:973-1021), P4 n-dim hyperslab
(:1601-1645), P5/P6 coordinate reads (:806-920), P9 readAs (:775-804),
M10 resize (:1299-1336), M11 append-along-axis (:1338-1369), M12 hyperslab
write (:1450-1528), M13 coordinate write (:1117-1275), M14 whole overwrite
(:566-646).
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from typing import Any

import numpy as np
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from nimhdfstore_spark.operators import positional
from nimhdfstore_spark.rowid import ROWID
from nimhdfstore_spark.store import Store, StoreError, Table

VALUE = "value"


def _strides(shape: Sequence[int]) -> list[int]:
    """Row-major linear strides: stride_j = prod(shape[j+1:])."""
    out, acc = [], 1
    for d in reversed(shape):
        out.append(acc)
        acc *= d
    return list(reversed(out))


def coord_cols(shape: Sequence[int]) -> list[Column]:
    """Coordinate expressions ``i0..ik`` derived from ``_rowid``.

    Integer division (``div``), not float: ``/`` goes through double and
    loses integer precision above 2^53 — linear indices at 100 TB scale
    exceed that."""
    return [
        (F.expr(f"{ROWID} div {int(s)}") % F.lit(d)).alias(f"i{j}")
        for j, (d, s) in enumerate(zip(shape, _strides(shape)))
    ]


def _checked(
    shape: Sequence[int],
    offset: Sequence[int],
    count: Sequence[int],
    stride: Sequence[int] | None,
    block: Sequence[int] | None,
) -> tuple[list[int], list[int]]:
    """(stride, block) with their defaults of 1, after checking the
    selection's rank and that no block exceeds its stride."""
    k = len(shape)
    stride = list(stride) if stride else [1] * k
    block = list(block) if block else [1] * k
    if not (len(offset) == len(count) == len(stride) == len(block) == k):
        raise ValueError("hyperslab selection rank != dataset rank")
    for st, b in zip(stride, block):
        positional.check_block(st, b)
    return stride, block


def hyperslab_predicate(
    shape: Sequence[int],
    offset: Sequence[int],
    count: Sequence[int],
    stride: Sequence[int] | None = None,
    block: Sequence[int] | None = None,
) -> Column:
    """N-dim (offset, count, stride, block) selection → one ``_rowid``
    predicate: the conjunction over dimensions of the 1-D hyperslab condition
    applied to that dimension's coordinate (parseHyperslabSelection analog,
    nimhdf5/datasets.nim:1395-1419; stride/block default to 1)."""
    stride, block = _checked(shape, offset, count, stride, block)
    cond = F.lit(True)
    for d, s, o, c, st, b in zip(shape, _strides(shape), offset, count, stride, block):
        i = F.expr(f"{ROWID} div {int(s)}") % F.lit(d)
        upper = o + (c - 1) * st + b
        cond = cond & (i >= o) & (i < upper) & (((i - o) % F.lit(st)) < b)
    return cond


def hyperslab_mask(
    r,
    shape: Sequence[int],
    offset: Sequence[int],
    count: Sequence[int],
    stride: Sequence[int],
    block: Sequence[int],
):
    """numpy form of :func:`hyperslab_predicate` over an array of
    ``_rowid`` values (the driver-local read path)."""
    sel = True
    for d, s, o, c, st, b in zip(shape, _strides(shape), offset, count, stride, block):
        sel = sel & positional.hyperslab_mask((r // s) % d, o, c, st, b)
    return sel


def _hyperslab_span(
    shape: Sequence[int],
    offset: Sequence[int],
    count: Sequence[int],
    stride: Sequence[int],
    block: Sequence[int],
) -> list[tuple[int, int]]:
    """The linear ``_rowid`` range holding every cell of an n-dim
    hyperslab ([] when some dimension selects nothing): per dimension the
    first and last selectable index, clamped to the extent."""
    lo = hi = 0
    for d, s, o, c, st, b in zip(shape, _strides(shape), offset, count, stride, block):
        first, last = max(o, 0), min(o + (c - 1) * st + b - 1, d - 1)
        if first > last:
            return []
        lo, hi = lo + first * s, hi + last * s
    return [(lo, hi)]


def _flatten(data: Any) -> tuple[list, list[int]]:
    """Nested lists / numpy array → (row-major flat list, shape)."""
    try:
        import numpy as np

        if isinstance(data, np.ndarray):
            return data.reshape(-1).tolist(), list(data.shape)
    except ImportError:
        pass
    shape = []
    probe = data
    while isinstance(probe, (list, tuple)):
        shape.append(len(probe))
        probe = probe[0] if probe else None
    flat = data
    for _ in range(len(shape) - 1):
        flat = [x for sub in flat for x in sub]
    return list(flat), shape


class Dataset:
    """Handle over an n-dim dataset table (shape in table attrs)."""

    def __init__(self, table: Table) -> None:
        self.table = table
        shape = table.attrs.get("shape")
        if shape is None:
            raise StoreError(f"{table.name!r} is not a dataset (no shape attr)")
        self.shape: list[int] = [int(d) for d in shape]

    # -- introspection (readShape analog, datasets.nim:81-112) --------------

    @property
    def size(self) -> int:
        return math.prod(self.shape)

    @property
    def dtype(self) -> str:
        # the persisted catalog schema: plans nothing
        return self.table.schema[VALUE].dataType.simpleString()

    def df(self) -> DataFrame:
        """(i0..ik, value) coordinate view."""
        return self.table.df().select(
            *coord_cols(self.shape), F.col(VALUE), F.col(ROWID)
        )

    # -- reads (S8, P4-P6, P9) ----------------------------------------------

    def read(self):
        """Whole-dataset read → nested numpy array (reference ``dset[T]``,
        datasets.nim:973-1021). Collects — for small/driver-side use, like
        the reference's full-read-to-seq."""
        import numpy as np

        rows = self.table.df().select(VALUE).orderBy(ROWID).collect()
        return np.array([r[VALUE] for r in rows]).reshape(self.shape)

    def hyperslab(
        self,
        offset: Sequence[int],
        count: Sequence[int],
        stride: Sequence[int] | None = None,
        block: Sequence[int] | None = None,
    ) -> DataFrame:
        """P4 strided n-dim selection (datasets.nim:1601-1645) as a
        (coords, value) frame. The selection is pure ``_rowid`` arithmetic:
        the catalog prunes files to its linear span, like HDF5 chunk
        intersection, and the rows come back through the Table's read paths
        (see ``_select``)."""
        stride, block = _checked(self.shape, offset, count, stride, block)
        spans = _hyperslab_span(self.shape, offset, count, stride, block)
        n_max = math.prod(max(c, 0) * b for c, b in zip(count, block))
        return self._select(
            spans, n_max,
            lambda r: hyperslab_mask(r, self.shape, offset, count, stride, block),
            lambda: hyperslab_predicate(self.shape, offset, count, stride, block),
        )

    def elements(self, coords: Sequence[Sequence[int]]) -> DataFrame:
        """P5 explicit coordinate-set read (datasets.nim:806-860)."""
        lin = sorted({self._linear(c) for c in coords})
        return self._select(
            [(x, x) for x in lin], len(lin),
            lambda r: np.isin(r, np.array(lin, dtype=np.int64)),
            lambda: F.col(ROWID).isin(lin),
        )

    def _select(self, spans, n_max: int, mask, pred) -> DataFrame:
        """(coords, value) rows of a selection, sorted by ``_rowid``:
        driver-local through ``Table._read_local`` when it fits, with the
        coordinates computed in numpy; else a scan filtered by ``pred()``."""
        got = self.table._read_local(spans, n_max, mask, columns=[VALUE])
        if got is None:
            return (
                self.table._span_base(spans)
                .where(pred())
                .select(*coord_cols(self.shape), F.col(VALUE), F.col(ROWID))
                .orderBy(ROWID)
            )
        import pyarrow as pa
        from pyspark.sql.types import LongType, StructField, StructType

        tbl, schema = got
        r = tbl.column(ROWID).to_numpy()
        names = [f"i{j}" for j in range(len(self.shape))]
        cols = [
            pa.array((r // s) % d, pa.int64())
            for d, s in zip(self.shape, _strides(self.shape))
        ]
        out = pa.Table.from_arrays(
            [*cols, tbl.column(VALUE), tbl.column(ROWID)],
            names=[*names, VALUE, ROWID],
        )
        schema = StructType(
            [StructField(nm, LongType(), True) for nm in names]
            + [schema[VALUE], schema[ROWID]]
        )
        return self.table.store.spark.createDataFrame(out, schema=schema)

    def __getitem__(self, key):
        """Per-dim int/slice indexing broadcast over dims (P6,
        datasets.nim:862-920)."""
        if not isinstance(key, tuple):
            key = (key,)
        if len(key) > len(self.shape):
            raise IndexError("too many indices")
        offset, count = [], []
        for j, d in enumerate(self.shape):
            k = key[j] if j < len(key) else slice(None)
            if isinstance(k, int):
                k = k + d if k < 0 else k
                offset.append(k)
                count.append(1)
            else:
                start = k.start or 0
                stop = k.stop if k.stop is not None else d
                offset.append(start)
                count.append(max(0, stop - start))
        return self.hyperslab(offset, count)

    def read_as(self, dtype: str) -> DataFrame:
        """P9 type-cast read (datasets.nim:775-804)."""
        return self.df().withColumn(VALUE, F.col(VALUE).cast(dtype))

    def _linear(self, coord: Sequence[int]) -> int:
        if len(coord) != len(self.shape):
            raise ValueError("coordinate rank != dataset rank")
        lin = 0
        for c, d, s in zip(coord, self.shape, _strides(self.shape)):
            c = c + d if c < 0 else c
            if not 0 <= c < d:
                raise StoreError(f"coordinate {coord} out of shape {self.shape}")
            lin += c * s
        return lin

    # -- mutation (M10-M14) --------------------------------------------------

    def _value_frame(self, spark: SparkSession, rowids: list[int], values: list):
        dtype = self.dtype
        from nimhdfstore_spark.tables import local_frame

        rows = list(zip(rowids, values))
        schema = f"{ROWID} long, {VALUE} {dtype}"
        try:
            # LocalRelation (job-free) for the numeric dtypes every HDF5
            # dataset uses; local_frame refuses exotic value types loudly —
            # fall back to the classic conversion for those
            return local_frame(spark, rows, schema)
        except ValueError:
            return spark.createDataFrame(rows, schema)

    def write_coords(self, coords: Sequence[Sequence[int]], values: Sequence) -> None:
        """M13 coordinate write (datasets.nim:1117-1275): scatter-update the
        cells at explicit coordinates; only containing files rewrite."""
        lin = [self._linear(c) for c in coords]
        if len(lin) != len(values):
            raise ValueError("coords and values differ in length")
        spark = self.table.store.spark
        self.table.update_rows(self._value_frame(spark, lin, list(values)))

    def write_hyperslab(
        self,
        offset: Sequence[int],
        count: Sequence[int],
        data: Any,
        stride: Sequence[int] | None = None,
    ) -> None:
        """M12 hyperslab write (datasets.nim:1450-1528): overwrite the
        selected region with row-major ``data``.

        The target ``_rowid`` set is pure arithmetic on (offset, count,
        stride) — enumerated driver-side, NO cluster job. (Earlier versions
        ran a scan to collect matching rowids; the selection never needed
        the data.)"""
        import itertools

        flat, _ = _flatten(data)
        k = len(self.shape)
        stride = list(stride) if stride else [1] * k
        if not (len(offset) == len(count) == len(stride) == k):
            raise ValueError("hyperslab selection rank != dataset rank")
        per_dim = []
        for o, c, st, d in zip(offset, count, stride, self.shape):
            idxs = [o + i * st for i in range(c)]
            if idxs and not (0 <= idxs[0] and idxs[-1] < d):
                raise StoreError(
                    f"hyperslab (offset={list(offset)}, count={list(count)}, "
                    f"stride={stride}) exceeds shape {self.shape}"
                )
            per_dim.append(idxs)
        strides = _strides(self.shape)
        # itertools.product iterates the last dim fastest, so with ascending
        # per-dim indices the linear targets come out in row-major (ascending
        # _rowid) order — the same order `data` flattens in.
        targets = [
            sum(c * s for c, s in zip(combo, strides))
            for combo in itertools.product(*per_dim)
        ]
        if len(targets) != len(flat):
            raise StoreError(
                f"hyperslab selects {len(targets)} cells but data has {len(flat)}"
            )
        spark = self.table.store.spark
        self.table.update_rows(self._value_frame(spark, targets, flat))

    def overwrite(self, data: Any) -> None:
        """M14 whole-dataset overwrite, shape-checked (datasets.nim:566-646)."""
        flat, shape = _flatten(data)
        if shape != self.shape:
            raise StoreError(f"shape {shape} != dataset shape {self.shape}")
        spark = self.table.store.spark
        self.table.store.put(
            self.table.name,
            self._value_frame(spark, list(range(len(flat))), flat),
            overwrite=True,
            attrs={"shape": self.shape},
        )
        self.table = self.table.store[self.table.name]

    def add(self, data: Any, axis: int = 0) -> None:
        """M11 append along axis 0 (datasets.nim:1338-1369): grows the
        outermost dimension — a pure file append, nothing rewrites. Inner
        axes re-interleave every row-major position (a full rewrite), so
        inner-axis growth composes as ``resize`` (general-axis, zero-fill)
        + ``write_hyperslab`` of the new region instead."""
        if axis != 0:
            raise NotImplementedError("append supported along axis 0 only")
        flat, shape = _flatten(data)
        if [int(d) for d in shape[1:]] != self.shape[1:]:
            raise StoreError(f"inner shape {shape[1:]} != {self.shape[1:]}")
        spark = self.table.store.spark
        start = self.size
        new = self._value_frame(spark, list(range(start, start + len(flat))), flat)
        self.table.append(new, n=len(flat))
        self.shape[0] += shape[0]
        self.table.set_attrs(shape=self.shape)

    def resize(self, shape: Sequence[int]) -> None:
        """M10 resize (datasets.nim:1299-1336): grow (zero-fill) or shrink
        any dimension.

        Axis-0 changes keep the row-major linearization of every surviving
        element, so they are a pure file append (grow) or suffix delete
        (shrink) — no data rewrite. Changing an INNER dimension
        re-interleaves every row-major position (exactly as HDF5 rewrites
        chunks), so it relinearizes in one distributed pass: decode each
        element's coordinates from ``_rowid`` with the old strides (integer
        ``div``/``%`` only — float division loses exactness past 2^53),
        drop out-of-bounds elements, re-encode with the new strides, and
        zero-fill the uncovered positions via an anti-join."""
        shape = [int(d) for d in shape]
        if len(shape) != len(self.shape):
            raise StoreError(
                f"resize cannot change rank {len(self.shape)} -> {len(shape)}"
            )
        if any(d <= 0 for d in shape):
            raise StoreError(f"resize to non-positive dim: {shape}")
        if shape[1:] != self.shape[1:]:
            self._resize_general(shape)
            return
        d0_old, d0_new = self.shape[0], shape[0]
        inner = math.prod(self.shape[1:]) if len(self.shape) > 1 else 1
        if d0_new > d0_old:
            n = (d0_new - d0_old) * inner
            spark = self.table.store.spark
            zero = "0.0" if self.dtype in ("double", "float") else "0"
            new = spark.range(self.size, self.size + n).select(
                F.col("id").alias(ROWID),
                F.expr(f"CAST({zero} AS {self.dtype})").alias(VALUE),
            )
            self.table.append(new, n=n)
        elif d0_new < d0_old:
            self.table.delete(d0_new * inner, d0_old * inner - 1)
        self.shape = shape
        self.table.set_attrs(shape=self.shape)

    def _resize_general(self, shape: list[int]) -> None:
        """Inner-dimension resize: full relinearization (see resize)."""
        old_strides, new_strides = _strides(self.shape), _strides(shape)
        df = self.table.df()
        coords = [
            (F.expr(f"{ROWID} div {st}") % F.lit(d)).alias(f"__c{i}")
            for i, (st, d) in enumerate(zip(old_strides, self.shape))
        ]
        decoded = df.select(F.col(VALUE), *coords)
        in_bounds = decoded
        for i, d in enumerate(shape):
            in_bounds = in_bounds.where(F.col(f"__c{i}") < d)
        new_rowid = sum(
            (F.col(f"__c{i}") * F.lit(st) for i, st in enumerate(new_strides)),
            F.lit(0),
        ).cast("long")
        kept = in_bounds.select(new_rowid.alias(ROWID), F.col(VALUE))
        spark = self.table.store.spark
        zero = "0.0" if self.dtype in ("double", "float") else "0"
        allpos = spark.range(math.prod(shape)).select(F.col("id").alias(ROWID))
        fill = allpos.join(kept.select(ROWID), ROWID, "left_anti").select(
            F.col(ROWID), F.expr(f"CAST({zero} AS {self.dtype})").alias(VALUE)
        )
        self.table.store.put(
            self.table.name,
            kept.unionByName(fill),
            overwrite=True,
            attrs={**self.table.attrs, "shape": shape},
        )
        self.table = self.table.store[self.table.name]
        self.shape = shape


def create_dataset(
    store: Store,
    name: str,
    data: Any = None,
    shape: Sequence[int] | None = None,
    dtype: str = "double",
    codec: str | None = None,
    overwrite: bool = False,
) -> Dataset:
    """S6/S7 — create an n-dim dataset from driver data or zero-filled shape
    (create_dataset/write_dataset, nimhdf5/datasets.nim:347-541). For
    datasets too large to build driver-side, ``put`` a (``_rowid``, value)
    frame directly and set the ``shape`` attr."""
    spark = store.spark
    if data is not None:
        flat, dshape = _flatten(data)
        if shape is not None and [int(d) for d in shape] != dshape:
            raise StoreError(f"data shape {dshape} != declared {list(shape)}")
        shape = dshape
        from nimhdfstore_spark.tables import local_frame

        rows = list(zip(range(len(flat)), flat))
        schema = f"{ROWID} long, {VALUE} {dtype}"
        try:
            df = local_frame(spark, rows, schema)
        except ValueError:
            df = spark.createDataFrame(rows, schema)
    else:
        if shape is None:
            raise StoreError("need data or shape")
        shape = [int(d) for d in shape]
        zero = "0.0" if dtype in ("double", "float") else "0"
        df = spark.range(math.prod(shape)).select(
            F.col("id").alias(ROWID),
            F.expr(f"CAST({zero} AS {dtype})").alias(VALUE),
        )
    t = store.put(
        name, df, codec=codec, overwrite=overwrite, attrs={"shape": list(shape)}
    )
    return Dataset(t)


def open_dataset(store: Store, name: str) -> Dataset:
    return Dataset(store[name])


# --------------------------------------------------------------------------
# A6 — dimension scales (hl/H5DSpublic.nim:36-56): named coordinate scales
# attached to dataset axes. A scale IS another (1-d) dataset in the same
# store; the attachment is pure metadata on the target's attrs, so it costs
# nothing at read time and survives snapshots/copies like every attr.
# --------------------------------------------------------------------------

def set_scale(ds: Dataset, name: str) -> None:
    """Mark a 1-d dataset as a dimension scale (H5DSset_scale analog)."""
    if len(ds.shape) != 1:
        raise StoreError("a dimension scale must be a 1-d dataset")
    ds.table.set_attrs(dimension_scale=name)


def attach_scale(target: Dataset, axis: int, scale: Dataset) -> None:
    """Attach ``scale`` to ``target``'s ``axis`` (H5DSattach_scale analog).
    The scale's length must equal the axis extent — the invariant the
    reference leaves to the caller, checked here."""
    if not 0 <= axis < len(target.shape):
        raise StoreError(f"axis {axis} out of range for shape {target.shape}")
    if "dimension_scale" not in scale.table.attrs:
        raise StoreError(f"{scale.table.name!r} is not a dimension scale "
                         "(call set_scale first)")
    if scale.shape[0] != target.shape[axis]:
        raise StoreError(
            f"scale length {scale.shape[0]} != axis extent "
            f"{target.shape[axis]}"
        )
    scales = dict(target.table.attrs.get("dim_scales", {}))
    scales[str(axis)] = scale.table.name
    target.table.set_attrs(dim_scales=scales)


def get_scales(target: Dataset) -> dict[int, str]:
    """axis → scale-table-name map (H5DSget_label/iterate analog)."""
    return {
        int(k): v for k, v in target.table.attrs.get("dim_scales", {}).items()
    }


def detach_scale(target: Dataset, axis: int) -> None:
    """H5DSdetach_scale analog; detaching an unattached axis is an error
    (unlike the reference's silent no-ops — SURVEY §2.9 stance)."""
    scales = dict(target.table.attrs.get("dim_scales", {}))
    if str(axis) not in scales:
        raise StoreError(f"no scale attached to axis {axis}")
    del scales[str(axis)]
    target.table.set_attrs(dim_scales=scales)
