"""The benchmark's workloads, all closed loop with one client thread.

Every workload has a ``setup`` (store build), a ``warmup`` that runs every
op type, and ``cycle(k)``, which runs the k-th fixed cycle of ops. Op
parameters come from an RNG seeded with ``(seed, k)``, so a seed always
gives the same op sequence. Every op's result is checked against the pandas
model (model.py); a mismatch is a failed op.

- ``positional_read``: read-only over lineitem. Read planning, file pruning
  and Spark's per-job cost do the work; the commit path does none, and every
  read hits the store's per-snapshot plan cache.
- ``mutation_mix``: every mutation type over orders, each followed by a read
  of the range it touched. The commit path does the work, and every read
  lands on a new snapshot, so the plan cache misses.

The bulk legs run once each, during set-up: ``put`` with ``order_by`` and a
full scan of lineitem (positional_read), and ``put`` and the HDF5 export of
orders (mutation_mix). Their times count in ``setup_s`` and show as
per-layer metrics in the traced run. The traced run's set-up also runs what
no timed run does: the HDF5 import and scan of that export (mutation_mix)
and the operator pipeline of corpus.py (positional_read).
"""

from __future__ import annotations

import os
import time

import numpy as np
import pandas as pd

from perfbench import corpus, gen
from perfbench.measure import inodes
from perfbench.model import ROWID, TableModel, compare

LINEITEM_KEYS = ["l_orderkey", "l_linenumber"]


class CheckFailed(Exception):
    """A result differed from the model."""


class Bench:
    """What every workload shares: the session, the store, the tracer and
    job accounting, and the op log the runner turns into metrics."""

    def __init__(self, spark, work: str, seed: int, scale: float,
                 tracer, jobs) -> None:
        from nimhdfstore_spark import Store

        self.spark = spark
        self.work = work
        self.seed = seed
        self.scale = scale
        self.tracer = tracer
        self.jobs = jobs
        self.root = os.path.join(work, "store")
        self.Store = Store
        #: phase -> op kind -> list of (seconds, rows)
        self.samples: dict[str, dict[str, list[tuple[float, int]]]] = {
            "setup": {}, "warmup": {}, "measure": {}}
        self.phase = "setup"
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.seq = 0
        #: the ops run after set-up, as (kind, parameters): the
        #: reproducibility witness (the traced set-up runs more ops)
        self.log: list[tuple] = []
        self.written_bytes = 0
        self.payload_bytes = 0
        self._inodes: dict = {}
        #: a deliberately wrong expectation (self-test of the gate)
        self.corrupt_next = False

    # -- timing ---------------------------------------------------------

    def call(self, kind: str, rows: int, fn, params=()):
        """Run one API call as an op of ``kind``: time it (tracing off or
        on), record it, and return its result."""
        self.seq += 1
        if self.phase != "setup":
            self.log.append((kind, *params))
        op_id = f"{self.seq}:{kind}"
        self.tracer.op_id = op_id
        t0 = time.perf_counter()
        self.jobs.begin(op_id, kind, self.phase)
        self.tracer.overhead_s += time.perf_counter() - t0
        t1 = time.perf_counter()
        with self.tracer.span(kind):
            out = fn()
        dt = time.perf_counter() - t1
        t2 = time.perf_counter()
        self.jobs.end()
        self.tracer.overhead_s += time.perf_counter() - t2
        self.samples[self.phase].setdefault(kind, []).append((dt, rows))
        return out

    def enter(self, phase: str) -> None:
        self.phase = self.tracer.phase = phase

    def traced(self, fn):
        """Run instrumentation that only the traced run does, counting its
        time as tracing overhead."""
        if not self.tracer.enabled:
            return None
        t0 = time.perf_counter()
        try:
            return fn()
        finally:
            self.tracer.overhead_s += time.perf_counter() - t0

    def expect(self, what: str, got: pd.DataFrame, want: pd.DataFrame) -> None:
        if self.corrupt_next:
            self.corrupt_next = False
            want = want.copy()
            c = [c for c in want.columns if c != ROWID][0]
            want.loc[0, c] = want.loc[0, c] + 1
        diff = compare(got, want)
        if diff is not None:
            raise CheckFailed(f"{what}: {diff}")

    def require(self, what: str, ok: bool, detail: str = "") -> None:
        if not ok:
            raise CheckFailed(f"{what}: {detail}")

    def require_same(self, what: str, got, want) -> None:
        """Row count and order-independent checksum of the Spark frame
        ``got`` over ``want``'s columns equal those of ``want``."""
        g, w = _sums(got, want.columns), _sums(want, want.columns)
        self.require(what, g == w, f"{g} != {w}")

    def run_op(self, fn) -> None:
        """One logical op (a call plus its checks); an exception or a
        mismatch counts as one failed op and the loop goes on."""
        self.attempted += 1
        try:
            fn()
        except Exception as e:  # noqa: BLE001 - counted, reported, run goes on
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{type(e).__name__}: {str(e)[:300]}")
            self.jobs.end()

    # -- storage accounting ----------------------------------------------

    def storage_after_commit(self, table) -> None:
        """New inodes since the previous commit feed write amplification;
        the traced run also records per-commit file counts."""
        before = self._inodes
        after = inodes(self.root)
        new = [k for k in after if k not in before]
        self.written_bytes += sum(after[k][0] for k in new)
        self._inodes = after

        def counts():
            snap = table.snapshot_path
            in_snap = [
                k for k, (_, p) in after.items()
                if os.path.dirname(p) == snap and p.endswith(".parquet")
            ]
            tdir = os.path.dirname(snap)
            self.tracer.count("store.files_written_per_commit",
                              sum(1 for k in new if after[k][1].endswith(".parquet")))
            self.tracer.count("store.files_linked_per_commit",
                              sum(1 for k in in_snap if k in before))
            self.tracer.count("store.bytes_written_per_commit",
                              sum(after[k][0] for k in new))
            self.tracer.count("store.snapshot_files", len(in_snap))
            self.tracer.count("store.meta_bytes", sum(
                b for b, p in after.values()
                if p.startswith(tdir + os.sep) and not p.endswith(".parquet")
            ))

        self.traced(counts)

    def reset_storage_baseline(self) -> None:
        self._inodes = inodes(self.root)
        self.written_bytes = 0
        self.payload_bytes = 0

    # -- reads shared by positional_read and mutation_mix ------------------

    def read_table(self, kind: str, name: str, plan, positions, model,
                   params=()) -> None:
        """Open ``name``, plan a positional read with ``plan(table)``,
        collect it and compare every column with the model."""
        tr = self.tracer
        box = {}

        def go():
            with tr.span("store.open"):
                t = self.store.table(name)
            with tr.span("store.read_plan"):
                df = plan(t)
            with tr.span("spark.read_exec"):
                res = df.toArrow()
            box["t"], box["df"] = t, df
            return res

        res = self.call(kind, len(positions), go, params)

        def files():
            t, df = box["t"], box["df"]
            n = len([f for f in os.listdir(t.snapshot_path)
                     if f.endswith(".parquet")])
            k = len(df.inputFiles())
            tr.count("store.read_files_per_op", k)
            tr.count("store.read_prune_ratio", k / max(n, 1))

        self.traced(files)
        self.expect(kind, res.to_pandas(), model.rows(positions))

    def read_pyds(self, kind: str, name: str, a: int, b: int, model) -> None:
        """A ``_rowid``-range read through the ``nimhdfstore`` Python
        DataSource."""
        from pyspark.sql import functions as F

        from nimhdfstore_spark.sources.pyds import ensure_registered

        box = {}

        def go():
            ensure_registered(self.spark)
            df = (self.spark.read.format("nimhdfstore")
                  .option("store", self.root).option("table", name).load()
                  .where(F.col(ROWID).between(a, b)))
            box["df"] = df
            return df.toArrow()

        res = self.call(kind, b - a + 1, go, (a, b))
        self.traced(lambda: self.tracer.count(
            "pyds.partitions_per_read", box["df"].rdd.getNumPartitions()))
        self.expect(kind, res.to_pandas(), model.rows(range(a, b + 1)))

    def read_grid(self, kind: str, name: str, grid: np.ndarray,
                  offset, count, stride) -> None:
        """A strided 2-d ``Dataset.hyperslab``, checked cell by cell."""
        from nimhdfstore_spark.datasets import open_dataset

        def go():
            return open_dataset(self.store, name).hyperslab(
                offset, count, stride).toArrow()

        res = self.call(kind, count[0] * count[1], go,
                        (*offset, *count, *stride))
        r = offset[0] + stride[0] * np.arange(count[0])
        c = offset[1] + stride[1] * np.arange(count[1])
        ii, jj = np.meshgrid(r, c, indexing="ij")
        want = pd.DataFrame({
            "i0": ii.ravel().astype(np.int64),
            "i1": jj.ravel().astype(np.int64),
            "value": grid[ii, jj].ravel(),
            ROWID: (ii * grid.shape[1] + jj).ravel().astype(np.int64),
        })
        self.expect(kind, res.to_pandas(), want)

    def write_grid(self, name: str, grid: np.ndarray, rng, count) -> None:
        """``Dataset.write_hyperslab`` of a random block, then a read of the
        block it wrote."""
        from nimhdfstore_spark.datasets import open_dataset

        r0 = int(rng.integers(0, grid.shape[0] - count[0] + 1))
        c0 = int(rng.integers(0, grid.shape[1] - count[1] + 1))
        data = np.round(rng.normal(0.0, 100.0, count), 3)
        ds = open_dataset(self.store, name)
        self.call("datasets.write", 0,
                  lambda: ds.write_hyperslab([r0, c0], list(count), data),
                  (r0, c0))
        grid[r0:r0 + count[0], c0:c0 + count[1]] = data
        self.payload_bytes += data.nbytes
        self.storage_after_commit(ds.table)
        self.read_grid("read.grid", name, grid, [r0, c0], list(count), [1, 1])

    def put_grid(self, name: str, grid: np.ndarray) -> None:
        import pyarrow as pa

        flat = grid.ravel()
        tbl = pa.table({ROWID: np.arange(flat.size, dtype=np.int64),
                        "value": flat})
        self.store.put(name, self.spark.createDataFrame(tbl),
                       attrs={"shape": list(grid.shape)})

    def live_bytes(self) -> int:
        raise NotImplementedError


def _arrow_bytes(df: pd.DataFrame) -> int:
    import pyarrow as pa

    return pa.Table.from_pandas(df, preserve_index=False).nbytes


def _position(rng, n: int, newest: bool) -> int:
    """Uniform, or favouring the newest rows (exponential distance from the
    end, mean 1% of the table)."""
    if newest:
        return n - 1 - min(n - 1, int(rng.exponential(n * 0.01)))
    return int(rng.integers(0, n))


def _stepped(rng, k: int, j: int, hi: int) -> int:
    """A position in ``[0, hi)`` for cycle ``k`` and op ``j``: the golden-
    ratio sequence over cycles plus a small seeded jitter. Insert and eager
    delete rewrite every file from their position on, so their cost follows
    the position; stepping through the table covers it evenly over cycles,
    where uniform draws would give some seeds only cheap or only dear ops."""
    u = (0.5 + 0.618034 * k + 0.37 * j + rng.uniform(-0.02, 0.02)) % 1.0
    return int(u * hi)


class PositionalRead(Bench):
    """Six read types per cycle over lineitem (``rows_per_file`` 20 000
    gives 32 files at full scale) and a 500x400 dataset."""

    name = "positional_read"
    primary = "read"
    GRID = (500, 400)

    def setup(self) -> None:
        """lineitem is bulk-loaded with ``put`` (which assigns ``_rowid`` by
        ``(l_orderkey, l_linenumber)``), then scanned once in full to check
        it against its source by row count and checksum."""
        from nimhdfstore_spark.rowid import with_rowid

        li = gen.lineitem(self.seed, self.scale)
        path = os.path.join(self.work, "lineitem.parquet")
        li.to_parquet(path, index=False)
        self.model = TableModel(li.sort_values(LINEITEM_KEYS))
        self.store = self.Store(self.spark, self.root,
                                rows_per_file=max(200, int(20_000 * self.scale)))
        src = self.spark.read.parquet(path)
        n = len(li)
        t = self.call("store.put", n, lambda: self.store.put(
            "lineitem", src, order_by=LINEITEM_KEYS))
        self.traced(lambda: self.tracer.count("store.put_files", len([
            f for f in os.listdir(t.snapshot_path) if f.endswith(".parquet")])))
        self.require("put nrows", t.nrows == n, f"{t.nrows} != {n}")
        # the full scan computes the checksum the put is checked by
        got = self.call("store.scan", n, lambda: _sums(t.df(), src.columns))
        want = _sums(src, src.columns)
        self.require("put checksum", got == want, f"{got} != {want}")
        self.traced(lambda: self.tracer.count("rowid.assign_s", _seconds(
            lambda: with_rowid(src, LINEITEM_KEYS).write.format("noop")
            .mode("overwrite").save())))
        if self.tracer.enabled:
            corpus.run(self)
            self.store.drop("corpus")
        self.grid = gen.grid(self.seed, self.GRID)
        self.put_grid("grid", self.grid)
        self.reset_storage_baseline()

    def warmup(self) -> None:
        # read latency keeps falling over the first three cycles (the JIT
        # and Spark's codegen warm up; the second and third take ~30% and
        # ~15% longer than later ones), so timing starts at the fourth
        for k in (-3, -2, -1):
            self.cycle(k)

    def cycle(self, k: int) -> None:
        """Every read type twice: at uniform positions, then at positions
        near the newest rows. Both halves in every cycle keep each type's
        median independent of how many cycles a run completes."""
        rng = np.random.default_rng([self.seed, 10, k + 3])
        for newest in (False, True):
            self._reads(rng, newest)

    def _reads(self, rng, newest: bool) -> None:
        m = self.model
        n = m.n
        # Table.row, addressed from the end (negative) for the newest rows
        i = _position(rng, n, newest)
        ix = i - n if newest else i
        self.run_op(lambda: self.read_table(
            "read.row", "lineitem", lambda t: t.row(ix), [i], m, (ix,)))
        # Table.slice of 1k rows
        a = min(_position(rng, n, newest), max(0, n - 1000))
        b = min(n - 1, a + 999)
        self.run_op(lambda: self.read_table(
            "read.slice", "lineitem", lambda t: t.slice(a, b),
            range(a, b + 1), m, (a, b)))
        # strided Table.hyperslab: 50 rows, stride 2..40
        st = int(rng.integers(2, 41))
        cnt = min(50, n // st)
        off = min(_position(rng, n, newest), n - 1 - (cnt - 1) * st)
        self.run_op(lambda: self.read_table(
            "read.hyperslab", "lineitem",
            lambda t: t.hyperslab(off, cnt, stride=st),
            range(off, off + cnt * st, st), m, (off, cnt, st)))
        # Table.elements over 16 positions
        pos = sorted({_position(rng, n, newest) for _ in range(16)})
        self.run_op(lambda: self.read_table(
            "read.elements", "lineitem", lambda t: t.elements(pos), pos, m,
            tuple(pos)))
        # _rowid-range read through the Python DataSource
        a2 = min(_position(rng, n, newest), max(0, n - 1000))
        b2 = min(n - 1, a2 + 999)
        self.run_op(lambda: self.read_pyds("read.pyds", "lineitem", a2, b2, m))
        # strided 2-d Dataset.hyperslab (8x8 cells, strides 3 and 5)
        rows, cols = self.GRID
        r0 = min(_position(rng, rows, newest), rows - 1 - 7 * 3)
        c0 = int(rng.integers(0, cols - 7 * 5))
        self.run_op(lambda: self.read_grid(
            "read.grid", "grid", self.grid, [r0, c0], [8, 8], [3, 5]))

    def live_bytes(self) -> int:
        return _arrow_bytes(self.model.df) + self.grid.nbytes


class MutationMix(Bench):
    """Seven mutations per cycle over orders, and a compact every second
    cycle; each is followed by a read of the range it touched. Per cycle the
    rows appended and inserted (1 100) equal the rows deleted, so the table
    stays at its starting size."""

    name = "mutation_mix"
    primary = "write"
    GRID = (200, 100)

    def setup(self) -> None:
        """orders is loaded with ``put`` and checked against its source by
        row count and checksum, then exported with ``store_to_hdf5`` to an
        HDF5 compound table, the reference store's format; the export is
        checked by its row count and 1k rows read back from the file."""
        from pyspark.sql.types import StructType

        from nimhdfstore_spark.sources import h5lite
        from nimhdfstore_spark.sources.hdf5 import store_to_hdf5

        od = gen.orders(self.seed, self.scale)
        n = self.next_key = len(od)
        self.model = TableModel(od)
        self.store = self.Store(self.spark, self.root,
                                rows_per_file=max(100, int(10_000 * self.scale)))
        src = self._frame(od)
        t = self.call("store.put", n, lambda: self.store.put(
            "orders", src, order_by=["o_orderkey"]))
        self.require("put nrows", t.nrows == n, f"{t.nrows} != {n}")
        self.require_same("put checksum", t.df(), src)
        h5 = os.path.join(self.work, "orders.h5")
        self.call("hdf5.export", n, lambda: store_to_hdf5(t, h5, "orders"))

        def cat():
            t0 = time.perf_counter()
            h5lite.catalog(h5)
            self.tracer.count("h5lite.catalog_ms",
                              (time.perf_counter() - t0) * 1e3)
            self.tracer.count("h5lite.bytes_written", os.path.getsize(h5))

        self.traced(cat)
        nrows = h5lite.catalog(h5)["orders"]["nrows"]
        self.require("export nrows", nrows == n, f"{nrows} != {n}")
        a, b = n // 2, min(n, n // 2 + 1000)
        rec = h5lite.read_range(h5, "orders", a, b)
        back = pd.DataFrame({
            c: [v.decode() if isinstance(v, bytes) else v for v in rec[c]]
            if rec[c].dtype.kind in "SO" else rec[c]
            for c in rec.dtype.names
        })
        back.insert(0, ROWID, np.arange(a, b, dtype=np.int64))
        self.expect("export", back, self.model.rows(range(a, b)))
        if self.tracer.enabled:
            self._h5_import(h5, src)
        self.schema = StructType(
            [f for f in t.schema.fields if f.name != ROWID])
        self.grid = gen.grid(self.seed, self.GRID)
        self.put_grid("grid", self.grid)
        self.reset_storage_baseline()
        self.batch = max(10, int(1000 * self.scale))
        self.small = max(2, int(100 * self.scale))

    def _h5_import(self, h5: str, src) -> None:
        """``hdf5_to_store`` of the export into a second table and a
        ``read_hdf5_table`` scan of it, each checked against the source by
        row count and checksum."""
        from nimhdfstore_spark.sources.hdf5 import hdf5_to_store, read_hdf5_table

        n = self.model.n
        back = self.call("hdf5.import", n, lambda: hdf5_to_store(
            self.store, h5, "orders", name="orders_h5",
            order_by=["o_orderkey"]))
        self.require("import nrows", back.nrows == n, f"{back.nrows} != {n}")
        self.require_same("import checksum", back.df(), src)
        got = self.call("hdf5.scan", n, lambda: _sums(
            read_hdf5_table(self.spark, h5, "orders"), src.columns))
        want = _sums(src, src.columns)
        self.require("hdf5 scan checksum", got == want, f"{got} != {want}")
        self.store.drop("orders_h5")

    def _frame(self, pdf: pd.DataFrame, schema=None):
        return self.spark.createDataFrame(pdf, schema=schema)

    def _payload(self, n: int) -> pd.DataFrame:
        p = gen.orders(self.seed, start_key=self.next_key, n=n)
        self.next_key += n
        return p

    def warmup(self) -> None:
        self.cycle(-1)

    def _commit(self, kind: str, rows: int, fn, params, payload=None):
        t = self.store.table("orders")
        self.call(kind, rows, lambda: fn(t), params)
        if payload is not None:
            self.payload_bytes += _arrow_bytes(payload)
        return t

    def _after(self, t, a: int, b: int) -> None:
        """The checks every commit gets: nrows, the catalog, the new
        snapshot's storage, and a read of the touched range."""
        tr = self.tracer
        self.require("nrows", t.nrows == self.model.n,
                     f"{t.nrows} != model {self.model.n}")
        with tr.span("store.keys"):
            keys = self.store.keys()
        self.require("keys", "orders" in keys and "grid" in keys, str(keys))
        self.storage_after_commit(t)
        n = self.model.n
        a, b = max(0, min(a, n - 1)), max(0, min(b, n - 1))
        self.read_table("read.slice", "orders", lambda t2: t2.slice(a, b),
                        range(a, b + 1), self.model, (a, b))

    def cycle(self, k: int) -> None:
        rng = np.random.default_rng([self.seed, 20, k + 1])
        m = self.model
        big, small = self.batch, self.small

        def append():
            p = self._payload(big)
            n0 = m.n
            t = self._commit("store.append", big,
                             lambda t: t.append(self._frame(p, self.schema)),
                             (n0,), p)
            m.append(p)
            self._after(t, n0, m.n - 1)

        def update(rows):
            def op():
                a = int(rng.integers(0, m.n - rows + 1))
                p = self._payload(rows)
                t = self._commit(
                    "store.update", rows,
                    lambda t: t.update(a, self._frame(p, self.schema),
                                       a + rows - 1),
                    (a, rows), p)
                m.update(a, p)
                self._after(t, a, a + rows - 1)
            return op

        def insert():
            i = _stepped(rng, k, 0, m.n + 1)
            p = self._payload(small)
            t = self._commit("store.insert", small,
                             lambda t: t.insert(i, self._frame(p, self.schema)),
                             (i,), p)
            m.insert(i, p)
            self._after(t, i, i + small - 1)

        def delete(kind, rows):
            def op():
                if kind == "store.delete":
                    a, method = _stepped(rng, k, 1, m.n - rows + 1), "delete"
                else:
                    a = int(rng.integers(0, m.n - rows + 1))
                    method = "delete_deferred"
                t = self._commit(
                    kind, rows,
                    lambda t: getattr(t, method)(a, a + rows - 1), (a, rows))
                m.delete(a, a + rows - 1)
                self._after(t, a, a + min(rows, big) - 1)
            return op

        def compact():
            a = int(rng.integers(0, m.n))
            t = self._commit("store.compact", 0, lambda t: t.compact(), ())
            self._after(t, a, a + big - 1)

        ops = [append, update(1), update(small), insert,
               delete("store.delete", small),
               delete("store.delete_deferred", big),
               lambda: self.write_grid("grid", self.grid, rng, (10, 10))]
        # the periodic compact: every second cycle, the warm-up (-1) included
        if k % 2:
            ops.append(compact)
        for op in ops:
            self.run_op(op)

    def live_bytes(self) -> int:
        return _arrow_bytes(self.model.df) + self.grid.nbytes


def _sums(df, cols) -> tuple:
    """``(rows, xor, sum)`` of per-row hashes over ``cols``:
    ``fused_agg``'s order-independent checksum."""
    from nimhdfstore_spark.queries._fused import fused_agg

    return tuple(fused_agg("", "", df.select(*cols)).collect()[0])[2:]


def _seconds(fn) -> float:
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


WORKLOADS = {w.name: w for w in (PositionalRead, MutationMix)}
