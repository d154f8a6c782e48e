"""Keyed store of positional tables on Parquet — the reference's HDFStore
surface (nimtables.nim:13-236) re-expressed Spark-first.

Layout (one store = one root directory; one table = one subdirectory):

    root/
      <table>/
        _meta.json            # catalog entry: current snapshot, count, codec,
                              # attributes, canonical order, link target
        snap-00000000/        # immutable Parquet snapshot, sorted by _rowid
        snap-00000001/        # produced by a mutation; pointer swap in meta

Mutations (append / insert / update / delete, reference nimtables.nim:173-233)
are deterministic rewrites: build the mutated DataFrame with *arithmetic*
``_rowid`` shifts (no global re-rank), write a new snapshot sorted by
``_rowid``, then atomically swap the ``_meta.json`` pointer (poor-man's ACID;
readers of the old snapshot are unaffected). Because files are written sorted
by ``_rowid``, Parquet row-group min/max stats on ``_rowid`` let Catalyst
prune untouched row groups for every positional predicate — the Spark analog
of HDF5 touching only intersecting chunks.

Scale notes (100 TB): mutations are file-pruned (SURVEY §7.1 M8). Stored
``_rowid`` is always global, so a mutation only has to rewrite the files whose
``_rowid`` range it touches: append rewrites nothing, update rewrites just the
file(s) containing the overwritten range, and insert/delete rewrite the suffix
from the splice point (positions after it shift — that data movement is
inherent to positional semantics). Untouched files are *hardlinked* into the
new snapshot directory — the local-FS stand-in for an object-store manifest
that would list reused files by reference; per-file ``_rowid`` ranges live in
``_meta.json`` so pruning needs no footer reads on the hot path.
"""

from __future__ import annotations

import json
import math
import os
import re
import shutil
from collections.abc import Sequence
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, MapType, StructField, StructType

from nimhdfstore_spark.operators import positional
from nimhdfstore_spark.rowid import ROWID, with_rowid

_VALID_KEY = re.compile(r"^[A-Za-z0-9_\-./]+$")
_SNAP = "snap-{:08d}"
_GMETA = "_gmeta.json"


def _file_zone_stats(path: str, column: str, name: str):
    """(name, lo, hi, ok) from one Parquet file's footer for ``column``.
    ``ok=False`` (no pruning, always scan — safe) when stats are absent."""
    import pyarrow.parquet as pq

    md = pq.ParquetFile(path).metadata
    idx = next(
        (i for i in range(md.num_columns) if md.schema.column(i).name == column),
        None,
    )
    if idx is None:
        return (name, None, None, False)
    lo = hi = None
    for rg in range(md.num_row_groups):
        st = md.row_group(rg).column(idx).statistics
        if st is None or not st.has_min_max:
            return (name, None, None, False)
        lo = st.min if lo is None else min(lo, st.min)
        hi = st.max if hi is None else max(hi, st.max)
    return (name, lo, hi, lo is not None)


def _encode_stat(v) -> str | None:
    """Type-tagged string transport for footer stats through an Arrow batch
    (file stats are heterogeneous: int, float, str — a uniform string
    column keeps the job schema fixed). Exact for int/str; exact for float
    via repr (shortest round-trip). Unsupported types encode as None and
    the file is marked un-prunable (safe)."""
    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, float):
        return f"f:{v!r}"
    if isinstance(v, str):
        return f"s:{v}"
    return None


def _parse_stat(t: str | None):
    if t is None:
        return None
    tag, val = t[:2], t[2:]
    if tag == "i:":
        return int(val)
    if tag == "f:":
        return float(val)
    if tag == "s:":
        return val
    return None


def _check_key(name: str) -> None:
    """Validate a table/group key. Beyond the character class, every
    path segment must be a real name — '', '.' and '..' segments would
    let a key resolve outside its store root (and ``drop``/``put`` rmtree
    that path)."""
    if not _VALID_KEY.match(name) or any(
        seg in ("", ".", "..") for seg in name.split("/")
    ):
        raise StoreError(f"bad table name: {name!r}")

#: rows per output file for snapshot writes; at 100 TB this bounds task/file
#: size (~a few hundred MB of parquet per file for typical row widths).
DEFAULT_ROWS_PER_FILE = 4_000_000

CODECS = {"none", "uncompressed", "snappy", "gzip", "zstd", "lz4"}


def _merge_ranges(ranges: list[tuple[int, int]]) -> list[tuple[int, int]]:
    """Sort inclusive ranges and merge overlapping/adjacent ones."""
    out: list[tuple[int, int]] = []
    for a, b in sorted(ranges):
        if out and a <= out[-1][1] + 1:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def _logical_to_raw(
    dv: list[tuple[int, int]], a: int, b: int, raw_total: int
) -> list[tuple[int, int]]:
    """Map the LOGICAL inclusive range [a, b] to raw-position ranges, given
    the already-deleted raw ranges ``dv``. Kept raw segments map to
    contiguous logical spans in order; intersect [a, b] with each span."""
    kept: list[tuple[int, int]] = []
    pos = 0
    for da, db in sorted(dv):
        if da > pos:
            kept.append((pos, da - 1))
        pos = max(pos, db + 1)
    if pos < raw_total:
        kept.append((pos, raw_total - 1))
    out: list[tuple[int, int]] = []
    log_start = 0
    for ka, kb in kept:
        span = kb - ka + 1
        lo, hi = max(a, log_start), min(b, log_start + span - 1)
        if lo <= hi:
            out.append((ka + (lo - log_start), ka + (hi - log_start)))
        log_start += span
    return out


def _raw_positions(dv, pos) -> np.ndarray:
    """RAW file positions of the LOGICAL positions ``pos`` under the sorted,
    disjoint deletion vector ``dv``: walking the ranges in order, a position
    at or past a range's start moves past it. Strictly increasing, so sorted
    disjoint logical spans map to sorted disjoint raw spans."""
    raw = np.array(pos, dtype=np.int64)
    for a, b in dv:
        raw += np.where(raw >= a, b - a + 1, 0)
    return raw


def _dv_renumber(r: np.ndarray, dv) -> tuple[np.ndarray, np.ndarray]:
    """numpy form of ``Table._dv_overlay`` over raw ``_rowid`` values:
    (alive mask, logical position). A live row is shifted down by the total
    length of the ranges before it."""
    a = np.array([x[0] for x in dv], dtype=np.int64)
    b = np.array([x[1] for x in dv], dtype=np.int64)
    k = np.searchsorted(a, r, side="right")  # ranges starting at or before r
    dead = (k > 0) & (r <= b[np.maximum(k - 1, 0)])
    before = np.concatenate([[0], np.cumsum(b - a + 1)])
    return ~dead, r - before[k]


def _as_nullable(dt: DataType) -> DataType:
    """``dt`` with every level nullable — the schema Spark's Parquet reader
    reports for a file, whatever nullability the writer declared."""
    if isinstance(dt, StructType):
        return StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in dt.fields
        ])
    if isinstance(dt, ArrayType):
        return ArrayType(_as_nullable(dt.elementType), True)
    if isinstance(dt, MapType):
        return MapType(_as_nullable(dt.keyType), _as_nullable(dt.valueType), True)
    return dt


def scan_rowid_ranges(
    snap_dir: str, skip: frozenset | set = frozenset()
) -> list[dict]:
    """Per-file ``_rowid`` (lo, hi, rows) from the Parquet footers under
    ``snap_dir``, sorted by ``lo`` — the file-catalog scan shared by the
    Store commit path and the Python DataSource's legacy-meta fallback."""
    import glob

    import pyarrow.parquet as pq

    out = []
    for f in sorted(glob.glob(os.path.join(snap_dir, "*.parquet"))):
        if os.path.basename(f) in skip:
            continue
        md = pq.ParquetFile(f).metadata
        if md.num_rows == 0:
            continue
        idx = next(
            (i for i in range(md.num_columns)
             if md.schema.column(i).name == ROWID),
            None,
        )
        if idx is None:
            # foreign parquet (no _rowid) pointed at a store path must be a
            # diagnosable error, not a bare StopIteration (ADVICE r9)
            raise StoreError(f"{f} has no {ROWID} column")
        lo = hi = None
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(idx).statistics
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        out.append(
            {"name": os.path.basename(f), "lo": int(lo), "hi": int(hi),
             "rows": md.num_rows}
        )
    out.sort(key=lambda e: e["lo"])
    return out


_SNAP_SCHEMA = "_schema.json"


def _write_snap_schema(snap_dir: str, schema_json: str) -> None:
    """Persist the schema AT a snapshot inside its (immutable) directory —
    the authority for time-travel handles, which must not inherit the
    table's current (possibly evolved) schema."""
    try:
        with open(os.path.join(snap_dir, _SNAP_SCHEMA), "w") as f:
            f.write(schema_json)
    except OSError:
        pass  # sidecar is an optimization for hist reads; meta still has it


def _read_snap_schema(snap_dir: str) -> str | None:
    try:
        with open(os.path.join(snap_dir, _SNAP_SCHEMA)) as f:
            return f.read()
    except OSError:
        return None


class StoreError(Exception):
    pass


class StoreConflictError(StoreError):
    """Optimistic-concurrency conflict: another handle committed to the same
    table after this handle planned its change. Nothing was lost — the other
    writer's snapshot is current and this handle's staged files were
    discarded; ``Table.refresh()`` and re-apply, or let ``Table.append``
    retry automatically."""


class TransientBackendError(StoreError):
    """A catalog request failed AMBIGUOUSLY (the 5xx / connection-reset
    shape a real object store serves): the server may or may not have
    applied the conditional PUT. Raised by backends; resolved by the
    committer's GET-and-match-txn loop (ConditionalPutCommitter.flip) —
    never by blind retry, which would double-commit an applied PUT."""


#: mutation/merge payloads are driver-sized by contract (the reference's
#: mutation APIs take an in-memory seq, nimtables.nim:173-233); this bounds
#: the silent driver materialization of a distributed payload
PAYLOAD_MAX_ROWS = 1_000_000


def _racer_prune_errors() -> tuple:
    """Error classes a concurrent commit's snapshot prune can surface as
    mid-plan/mid-job: Spark analysis/execution errors (missing input files)
    plus local IO errors (the driver-direct write path and footer scans).
    Only these are candidates for conflict reclassification in
    ``Table.append`` — a StoreError, assertion, or arbitrary Python failure
    is never swallowed. The classes are still broad families (ENOSPC is an
    OSError too): the stale-handle check remains the real gate, and the
    original exception is chained into the StoreConflictError so a
    misclassified failure stays diagnosable after the retries drain."""
    from pyspark.errors import PySparkException

    classes: list[type] = [PySparkException, OSError]
    try:
        from py4j.protocol import Py4JError

        classes.append(Py4JError)
    except ImportError:
        pass
    return tuple(classes)


_RACER_PRUNE_ERRORS = _racer_prune_errors()


def _flock_held(path: str, timeout_s: float, timeout_msg: str,
                write_pid: bool = False):
    """Context manager: kernel-owned ``flock(2)`` on ``path`` with a bounded
    non-blocking acquire loop. Crash-safe by construction — a dead holder's
    lock evaporates with its process, so there is no stale-lock breaking
    path. Shared by LockfileCommitter (the catalog flip) and
    FileCatalogBackend (the modeled object-store server)."""
    import contextlib
    import fcntl
    import time

    @contextlib.contextmanager
    def _held():
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        fd = os.open(path, os.O_CREAT | os.O_RDWR, 0o644)
        try:
            deadline = time.monotonic() + timeout_s
            while True:
                try:
                    fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
                    break
                except (BlockingIOError, InterruptedError):
                    if time.monotonic() > deadline:
                        raise StoreError(timeout_msg)
                    time.sleep(0.005)
            try:
                if write_pid:
                    os.ftruncate(fd, 0)
                    os.write(fd, str(os.getpid()).encode())  # debuggability
                yield
            finally:
                fcntl.flock(fd, fcntl.LOCK_UN)
        finally:
            os.close(fd)

    return _held()


def _collect_payload(df: DataFrame, what: str) -> list:
    """Collect a driver-sized payload, refusing unbounded frames: a
    distributed payload routed through a mutation API would otherwise
    silently ``collect()`` the cluster onto the driver. Driver-local plans
    skip the gate (their size is bounded by construction and the extra
    count job would double tiny-mutation latency)."""
    if df.isLocal():
        return df.collect()
    # ONE bounded job: limit(N+1).collect(), then check the length. The
    # earlier count-then-collect shape executed the payload plan twice —
    # a nondeterministic payload (sample(), rand()-derived filters) could
    # pass the gate with one row set and collect a different one, and every
    # distributed mutation paid an extra Spark job.
    rows = df.limit(PAYLOAD_MAX_ROWS + 1).collect()
    if len(rows) > PAYLOAD_MAX_ROWS:
        raise StoreError(
            f"{what} payload exceeds {PAYLOAD_MAX_ROWS} rows; mutation "
            "payloads are driver-sized by contract — bulk-load with "
            "Store.put, or attach _rowid positions and use update_rows"
        )
    return rows


def _codec_name(codec: str) -> str:
    codec = codec.lower()
    if codec not in CODECS:
        raise StoreError(f"unsupported codec {codec!r}; pick from {sorted(CODECS)}")
    return "uncompressed" if codec == "none" else codec


# -- catalog committers (writer-writer optimistic concurrency) ---------------
#
# The commit primitive is ONE operation: atomically publish a table's new
# catalog entry iff the entry is still at the version the handle planned
# against (plus the per-creation uid check closing the drop-recreate ABA
# hole). Everything above it — staging, conflict retries, snapshot pruning —
# is committer-independent. Two interchangeable implementations
# (round-8 verdict ask #7):
#
#   LockfileCommitter     — local FS: an flock(2)-held per-table lockfile
#                           serializes compare + rename + meta write.
#   ConditionalPutCommitter — object store: data objects land under UNIQUE
#                           snapshot names, then the catalog entry flips
#                           with one conditional PUT (If-Match). No lock
#                           exists at any point; the S3/GCS contract.
#
# Both run the same property suite (tests/test_round13.py parametrizes the
# OCC interleaves over committers).


def _crash_point(tag: str) -> None:
    """Crash-injection hook (round-10 verdict "what's missing" #2): when
    ``SPARK_GRAFT_CRASH_POINT`` names this point, the process SIGKILLs
    itself — no atexit, no finally blocks, no lock release beyond what the
    kernel does on process death. The commit protocol's crash-safety
    claims (flock evaporation, conditional-PUT debris, age-gated vacuum)
    are tested by killing a real child process at each of these points
    (tests/test_round16.py) instead of placing debris by hand. Production
    cost: one env-dict lookup per commit."""
    if os.environ.get("SPARK_GRAFT_CRASH_POINT") == tag:
        import signal

        os.kill(os.getpid(), signal.SIGKILL)


def _conflict_reason(
    name: str,
    disk: dict | None,
    expected_version: int,
    require_same_uid: bool,
    meta: dict,
) -> str | None:
    """The committer-independent compare: None = publish may proceed."""
    disk_v = int(disk.get("version", 0)) if disk else 0
    if disk_v != int(expected_version):
        return (
            f"concurrent modification of {name!r}: catalog version "
            f"is {disk_v}, this handle planned against "
            f"{expected_version} — refresh the handle and retry"
        )
    if (
        require_same_uid
        and disk is not None
        and disk.get("uid")
        and meta.get("uid")
        and disk["uid"] != meta["uid"]
    ):
        return (
            f"table {name!r} was dropped and recreated since this "
            "handle opened it — open a fresh handle"
        )
    return None


class LockfileCommitter:
    """Local-FS committer: compare + rename + meta write under a per-table
    ``flock(2)``. The lock guards only the flip (milliseconds), never the
    Spark write job.

    Crash-safe BY CONSTRUCTION: a crashed holder's flock evaporates with
    its process (the kernel owns the lock state), so there is NO stale-lock
    breaking path at all — the round-8 verdict's TOCTOU ("what's wrong" #1:
    a waiter observing a stale lockfile could unlink a FRESH holder's lock
    created between its stat and unlink, letting two committers into the
    critical section) is eliminated rather than narrowed. Lockfiles live
    under ``<root>/_locks/`` — outside the table directory — and are never
    unlinked, so ``drop`` + recreate can never swap the inode a waiting
    committer is blocked on (the classic flock-on-unlinked-file race).

    Scope: local/cluster-local filesystems, where flock(2) semantics are
    kernel-guaranteed. On network filesystems flock is implementation-
    dependent, and on object stores there is no flock at all — those
    deployments use :class:`ConditionalPutCommitter` (the If-Match PUT
    contract) instead."""

    #: give up waiting for a live-but-stuck committer; flock means an
    #: ABANDONED (crashed) committer never makes a waiter wait at all
    LOCK_TIMEOUT_S = 30.0

    def _lock(self, store: "Store", name: str):
        import urllib.parse

        path = os.path.join(
            store.root, "_locks", urllib.parse.quote(name, safe="") + ".lock"
        )
        return _flock_held(
            path,
            self.LOCK_TIMEOUT_S,
            f"commit lock on {name!r} held for over "
            f"{self.LOCK_TIMEOUT_S:.0f}s — a live committer is stuck "
            "(a crashed one releases automatically)",
            write_pid=True,
        )

    def flip(
        self,
        store: "Store",
        name: str,
        meta: dict,
        expected_version: int,
        rename: tuple[str, str] | None,
        require_same_uid: bool,
    ) -> None:
        with self._lock(store, name):
            try:
                disk = store._read_meta(name)
            except StoreError:
                disk = None  # creating: no meta on disk yet
            reason = _conflict_reason(
                name, disk, expected_version, require_same_uid, meta
            )
            if reason:
                raise StoreConflictError(reason)
            meta["version"] = int(expected_version) + 1
            _crash_point("lock.pre_rename")
            if rename is not None:
                staged, final = rename
                # version matched, so anything at the final path is debris
                # from a CRASHED prior attempt at this snapshot number (a
                # committed snapshot would have bumped the version)
                shutil.rmtree(final, ignore_errors=True)
                os.rename(staged, final)
            _crash_point("lock.post_rename")
            store._write_meta(name, meta)
            _crash_point("lock.post_meta")


class MemoryCatalogBackend:
    """In-memory object-store catalog double: the ONLY primitive is a
    conditional PUT of one catalog entry. The internal mutex models the
    store's server-side atomicity of a single PUT request — it is never
    held across staging, renames, or Spark work. Share one instance across
    every Store handle standing in for the same remote catalog."""

    def __init__(self) -> None:
        import threading

        self._mu = threading.Lock()
        self._entries: dict[tuple[str, str], dict] = {}

    def delete(self, key: tuple[str, str]) -> None:
        """Unconditional catalog-entry delete (the DELETE request a drop
        issues against a real object-store catalog)."""
        with self._mu:
            self._entries.pop(key, None)

    def delete_store(self, root: str) -> None:
        """Delete every entry under one store root (mode='w' truncate)."""
        with self._mu:
            for k in [k for k in self._entries if k[0] == root]:
                del self._entries[k]

    def put_if(
        self,
        key: tuple[str, str],
        meta: dict,
        expected_version: int,
        require_same_uid: bool,
        mirror,
        seed: dict | None = None,
    ) -> str | None:
        """Conditional PUT: publish ``meta`` iff the entry is still at
        ``expected_version`` (and same uid when required). Returns the
        conflict reason, or None on success. ``seed`` backfills an entry
        for a table that predates this backend (first sight of an existing
        table); ``mirror`` writes the local ``_meta.json`` replica inside
        the atomic op (the double's stand-in for the store serving reads
        of the object it just accepted)."""
        name = key[1]
        with self._mu:
            if key not in self._entries and seed is not None:
                self._entries[key] = dict(seed)
            disk = self._entries.get(key)
            reason = _conflict_reason(
                name, disk, expected_version, require_same_uid, meta
            )
            if reason is None:
                self._entries[key] = dict(meta)
                mirror()
            return reason

    def get(self, key: tuple[str, str]) -> dict | None:
        """Authoritative read of one catalog entry (see
        FileCatalogBackend.get)."""
        with self._mu:
            e = self._entries.get(key)
            return dict(e) if e is not None else None


class FileCatalogBackend:
    """File-backed conditional-PUT catalog: the :class:`MemoryCatalogBackend`
    contract (conditional PUT of one entry is the ONLY primitive) made
    durable and CROSS-PROCESS (round-9 verdict "what's missing" #2 — the
    object-store protocol was only ever exercised against the in-process
    double).

    The catalog state is one JSON file published by atomic ``os.replace``.
    A real object store serializes conditional PUTs *server-side*; this
    double models that server with a kernel-owned ``flock(2)`` on a sidecar
    file held only across the microseconds of read-compare-replace — a
    crashed holder releases automatically, so there is no stale-lock
    breaking path (same crash-safety argument as LockfileCommitter). The
    COMMITTER protocol above it remains lock-free: unique per-attempt
    snapshot names, ONE conditional PUT, loser discards only its own
    directory."""

    LOCK_TIMEOUT_S = 30.0

    def __init__(self, path: str) -> None:
        self.path = os.path.abspath(path)
        #: (fstat identity, parsed state) for the lock-free read path
        self._read_cache: tuple[tuple, dict] | None = None

    @staticmethod
    def _key(key: tuple[str, str]) -> str:
        return f"{key[0]}\x00{key[1]}"

    def _server(self):
        """The modeled object-store server: an flock held for one
        read-compare-replace request."""
        return _flock_held(
            self.path + ".srv",
            self.LOCK_TIMEOUT_S,
            f"catalog backend {self.path!r} locked for over "
            f"{self.LOCK_TIMEOUT_S:.0f}s",
        )

    def _load(self) -> dict[str, dict]:
        try:
            with open(self.path) as f:
                return json.load(f)
        except (FileNotFoundError, ValueError):
            return {}

    def _publish(self, state: dict[str, dict]) -> None:
        tmp = f"{self.path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(state, f)
        os.replace(tmp, self.path)  # atomic on POSIX

    def delete(self, key: tuple[str, str]) -> None:
        with self._server():
            state = self._load()
            if state.pop(self._key(key), None) is not None:
                self._publish(state)

    def delete_store(self, root: str) -> None:
        prefix = f"{root}\x00"
        with self._server():
            state = self._load()
            survivors = {k: v for k, v in state.items()
                         if not k.startswith(prefix)}
            if len(survivors) != len(state):
                self._publish(survivors)

    def put_if(
        self,
        key: tuple[str, str],
        meta: dict,
        expected_version: int,
        require_same_uid: bool,
        mirror,
        seed: dict | None = None,
    ) -> str | None:
        k = self._key(key)
        with self._server():
            state = self._load()
            if k not in state and seed is not None:
                state[k] = dict(seed)
            reason = _conflict_reason(
                key[1], state.get(k), expected_version, require_same_uid, meta
            )
            if reason is None:
                state[k] = dict(meta)
                _crash_point("cas.pre_publish")
                self._publish(state)
                _crash_point("cas.post_publish")
                mirror()
            return reason

    def get(self, key: tuple[str, str]) -> dict | None:
        """Read-committed read of one catalog entry (the GET a real client
        issues after a failed conditional PUT to learn what it lost to).

        LOCK-FREE (ADVICE r11: Store.table() heals on every open, and a
        GET that takes the server flock serializes the whole read path on
        the commit lock — a real object store's GET never queues behind
        writers). ``_publish`` installs state by atomic ``os.replace``, so
        an unlocked read always parses ONE fully-published catalog image:
        exactly the read-committed isolation a real GET gives. The parsed
        image is cached by the open file's identity (fstat ino/mtime/size
        — ``os.replace`` swaps the inode every publish), so repeated opens
        of an unchanged catalog cost one open+fstat, not a full JSON parse
        of a catalog that grows with table count."""
        try:
            with open(self.path) as f:
                st = os.fstat(f.fileno())
                ck = (st.st_ino, st.st_mtime_ns, st.st_size)
                cached = self._read_cache
                if cached is not None and cached[0] == ck:
                    state = cached[1]
                else:
                    try:
                        state = json.load(f)
                    except ValueError:
                        return None
                    self._read_cache = (ck, state)
        except FileNotFoundError:
            return None
        e = state.get(self._key(key))
        return dict(e) if e is not None else None


class ConditionalPutCommitter:
    """Object-store committer: no lock at any point. Data objects are moved
    to a snapshot name made UNIQUE per attempt (so two racers planning the
    same snapshot number can never rename over — or rmtree — each other's
    files; on a real object store staged keys ARE final keys for the same
    reason), then the catalog entry flips with one conditional PUT whose
    If-Match is the only atomicity primitive. A lost race leaves only the
    loser's own unique directory to discard."""

    #: ambiguous-PUT resolution attempts before giving up (each one is a
    #: GET + conditional-PUT pair with jittered exponential backoff)
    TRANSIENT_RETRIES = 8

    def __init__(self, backend: MemoryCatalogBackend) -> None:
        self.backend = backend

    def on_drop(self, store: "Store", name: str) -> None:
        """Drop deletes the catalog entry, else the recreate's version-0
        CAS would forever conflict with the ghost entry."""
        self.backend.delete((store._realroot, name))

    def on_truncate(self, store: "Store") -> None:
        """mode='w' truncate clears every entry under the root (same ghost
        hazard as drop, store-wide)."""
        self.backend.delete_store(store._realroot)

    def flip(
        self,
        store: "Store",
        name: str,
        meta: dict,
        expected_version: int,
        rename: tuple[str, str] | None,
        require_same_uid: bool,
    ) -> None:
        import uuid

        unique = None
        if rename is not None:
            staged, final = rename
            unique = f"{final}-{uuid.uuid4().hex[:8]}"
            os.rename(staged, unique)
            meta["current"] = os.path.basename(unique)
        _crash_point("cas.post_unique")
        meta["version"] = int(expected_version) + 1
        # per-attempt transaction id: a transient PUT failure (network
        # error / 5xx) is AMBIGUOUS — the server may have applied it. The
        # GET below resolves the ambiguity by matching this id, which no
        # other attempt can carry (round-11 verdict ask #6: without it a
        # caller retrying the whole mutation after an applied-but-errored
        # PUT would commit TWICE).
        meta["txn"] = uuid.uuid4().hex
        try:
            seed = store._read_meta(name)
        except StoreError:
            seed = None
        # key on the CANONICAL root (ADVICE r9): two handles spelling the
        # same path differently (symlink, trailing slash, relative) must
        # CAS against ONE catalog entry, or their commits bypass each
        # other's conflict detection — the lost update the committer
        # exists to prevent. Same canonicalization as _SHARD_CACHE.
        reason = None
        last_exc: TransientBackendError | None = None
        for attempt in range(1 + self.TRANSIENT_RETRIES):
            try:
                reason = self.backend.put_if(
                    (store._realroot, name),
                    meta,
                    expected_version,
                    require_same_uid,
                    mirror=lambda: store._write_meta(name, meta),
                    seed=seed,
                )
                last_exc = None
                break
            except TransientBackendError as exc:
                last_exc = exc
                # GET-after-ambiguous-PUT: did OUR attempt land?
                entry = self.backend.get((store._realroot, name))
                if entry is not None and entry.get("txn") == meta["txn"]:
                    # applied server-side; the mirror callback may not
                    # have run — finish the commit locally
                    store._write_meta(name, meta)
                    reason = None
                    last_exc = None
                    break
                # not applied (or lost to someone — the retried PUT will
                # report that conflict): retry with jittered backoff
                import random as _random
                import time as _time

                _time.sleep(_random.uniform(0, 0.005 * (2 ** min(attempt, 5))))
        if last_exc is not None:
            # retries exhausted with the PUT still unapplied. The unique
            # snapshot dir stays on disk deliberately: ONE GET said "not
            # landed", but nothing proves the server won't surface a
            # delayed apply — it is exactly the above-current debris the
            # age-gated vacuum owns, never servable as committed state.
            raise last_exc
        if reason is not None:
            if unique is not None:
                shutil.rmtree(unique, ignore_errors=True)
            # GET-after-failed-PUT: heal the local mirror so the conflict
            # path's refresh() sees what it lost to (see refresh_mirror).
            self.refresh_mirror(store, name)
            raise StoreConflictError(reason)

    def refresh_mirror(self, store: "Store", name: str) -> None:
        """Heal the local read mirror from the authoritative catalog entry
        when the catalog is AHEAD of it. Without this, a committer that
        crashed between the catalog's atomic accept and its mirror write
        (the cas.post_publish window) strands every later handle: they
        plan from the stale mirror, CAS against the newer catalog version,
        conflict, refresh from the SAME stale mirror, and retry into the
        identical conflict forever — while the crashed committer's
        accepted snapshot (renamed before its PUT, named by the catalog
        entry) is never served. A real object-store client does exactly
        this GET to learn the committed state; Store.table() calls it on
        open (readers must see committed state) and flip() on conflict.
        The version guard means a racing older entry can never clobber a
        newer local mirror. Found by the round-11 crash-injection test."""
        entry = self.backend.get((store._realroot, name))
        if entry is None:
            return
        try:
            local_v = int(store._read_meta(name).get("version", 0))
        except StoreError:
            local_v = -1
        if int(entry.get("version", 0)) > local_v:
            store._write_meta(name, entry)


class Store:
    """Keyed catalog of positional tables (reference ``HDFStore``,
    nimtables.nim:13-19,60-89). Modes collapse to directory semantics:
    the store directory is created on first write; ``overwrite=True`` in
    :meth:`put` replaces a table like ``hdOverwrite``."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        codec: str = "snappy",
        rows_per_file: int = DEFAULT_ROWS_PER_FILE,
        mode: str = "a",
        keep_snapshots: int = 1,
        committer=None,
    ) -> None:
        """``mode`` mirrors the reference's open flags (files.nim:102-162):
        ``"a"`` read-write (hdReadWrite; default), ``"r"`` read-only
        (hdRead — every mutating call raises), ``"w"`` truncate
        (hdOverwrite — existing store contents are removed on open).

        ``keep_snapshots`` is the retention depth: every commit keeps the
        newest N snapshot directories per table (the HDF5 single-writer
        model needs only 1, the default; a multi-reader deployment sets
        N >= 2 so lazy DataFrames planned against the previous snapshot
        keep reading while a mutation commits — the snapshot-retention
        idea every table format uses for reader isolation). Hardlinked
        reuse means extra snapshots cost only the rewritten files' bytes."""
        if mode not in ("a", "r", "w"):
            raise StoreError(f"bad mode {mode!r}; use 'r', 'a' or 'w'")
        if keep_snapshots < 1:
            raise StoreError("keep_snapshots must be >= 1")
        self.spark = spark
        self.root = os.path.abspath(root)
        self._realroot = os.path.realpath(self.root)
        self.codec = _codec_name(codec)
        self.rows_per_file = rows_per_file
        self.keep_snapshots = keep_snapshots
        self.mode = mode
        #: atomic catalog-entry publisher (see committer classes above):
        #: flock'd lockfile by default; pass a ConditionalPutCommitter
        #: sharing one MemoryCatalogBackend across handles to run against
        #: the object-store conditional-PUT contract instead.
        self.committer = committer if committer is not None else LockfileCommitter()
        # Lazy base-DataFrame per (table, snapshot): snapshot dirs are
        # immutable once committed, so the analyzed read plan (whose schema
        # resolution costs a driver-side footer read + listing per call) is
        # reusable for every df() against the same snapshot.
        self._base_cache: dict[tuple[str, str], DataFrame] = {}
        if mode == "r":
            if not os.path.isdir(self.root):
                raise StoreError(f"no such store: {root!r}")
            return
        if mode == "w" and os.path.isdir(self.root):
            shutil.rmtree(self.root)
            on_truncate = getattr(self.committer, "on_truncate", None)
            if on_truncate is not None:  # see ConditionalPutCommitter
                on_truncate(self)
        os.makedirs(self.root, exist_ok=True)

    def _require_writable(self) -> None:
        if self.mode == "r":
            raise StoreError(f"store {self.root!r} is read-only (mode='r')")

    # -- catalog ops (S10, M6-M9; nimtables.nim:40-58,106-109) --------------

    def keys(self) -> list[str]:
        """Sorted table names. Unlike the reference (whose in-memory ``dsets``
        list goes stale after delete, nimtables.nim:106-109), this always
        reflects the directory catalog."""
        out = []
        for dirpath, dirnames, filenames in os.walk(self.root):
            if "_meta.json" in filenames:
                out.append(os.path.relpath(dirpath, self.root))
                dirnames.clear()
        return sorted(out)

    def __contains__(self, name: str) -> bool:
        return os.path.isfile(self._meta_path(name))

    def __iter__(self):
        return iter(self.keys())

    def __getitem__(self, name: str) -> "Table":
        return self.table(name)

    def __setitem__(self, name: str, df: DataFrame) -> None:
        # CTAS with rowid = incoming order of a pre-sorted/pre-rowid'd frame,
        # matching the reference's ``store[name] = rows`` (nimtables.nim:94-104).
        self.put(name, df, overwrite=True)

    def __delitem__(self, name: str) -> None:
        self.drop(name)

    def table(
        self,
        name: str,
        expect_schema: StructType | None = None,
        snapshot: int | None = None,
    ) -> "Table":
        """Open ``name``; ``snapshot`` time-travels to a retained earlier
        snapshot number (requires ``keep_snapshots`` > 1 at mutation time —
        pruned snapshots are gone). Historical handles are read-only:
        mutating one would fork history, which the single-``current``
        catalog deliberately cannot represent."""
        # Catalog-backed committers serve opens from COMMITTED state: a
        # committer crash between catalog accept and mirror write must not
        # leave new opens on the superseded snapshot (crash-injection
        # contract; see ConditionalPutCommitter.refresh_mirror).
        heal = getattr(self.committer, "refresh_mirror", None)
        if heal is not None:
            heal(self, name)
        meta = self._read_meta(name)
        while "link_to" in meta:  # M9 hardlink (files.nim:363-390)
            name = meta["link_to"]
            # ADVICE r11: heal the RESOLVED target too — the outer heal
            # only covered the link entry, so opening a hardlink after a
            # cas.post_publish crash on the target still served the
            # target's stale mirror.
            if heal is not None:
                heal(self, name)
            meta = self._read_meta(name)
        if snapshot is not None:
            # Numbers ABOVE the committed current can only be crash debris:
            # a ConditionalPut committer that died between its rename and
            # the conditional PUT leaves a complete-looking but never-
            # committed snap-N-<hex> dir (ADVICE r9) — serving it would
            # present uncommitted data as a committed snapshot. A malformed
            # 'current' degrades to no guard, same as snapshots().
            try:
                cur_no = int(meta["current"].split("-")[1])
            except (KeyError, IndexError, ValueError):
                cur_no = None
            if cur_no is not None and snapshot > cur_no:
                raise StoreError(
                    f"snapshot {snapshot} of {name!r} is not retained "
                    f"(available: {self.snapshots(name)})"
                )
            snap = _SNAP.format(snapshot)
            sdir = os.path.join(self._table_dir(name), snap)
            if not os.path.isdir(sdir):
                # ConditionalPutCommitter snapshots carry a unique per-
                # attempt suffix (snap-NNNNNNNN-<hex>); resolve by number.
                # The catalog's own current name wins outright — a racing
                # conflict loser's same-numbered dir can transiently
                # coexist and must never make the COMMITTED snapshot look
                # ambiguous.
                if meta["current"].startswith(snap + "-"):
                    snap = meta["current"]
                    sdir = os.path.join(self._table_dir(name), snap)
                else:
                    import glob as _glob

                    hits = _glob.glob(sdir + "-*")
                    if len(hits) == 1:
                        snap = os.path.basename(hits[0])
                        sdir = hits[0]
                    elif len(hits) > 1:
                        raise StoreError(
                            f"snapshot {snapshot} of {name!r} is ambiguous "
                            f"({sorted(os.path.basename(h) for h in hits)}):"
                            " conflict debris shares its number — vacuum,"
                            " then retry"
                        )
            if snap == meta["current"]:
                pass  # current: plain handle below
            elif not os.path.isdir(sdir):
                raise StoreError(
                    f"snapshot {snapshot} of {name!r} is not retained "
                    f"(available: {self.snapshots(name)})"
                )
            else:
                hist = dict(meta)
                hist["current"] = snap
                hist.pop("manifests", None)  # shards describe CURRENT only
                hist["files"] = self._scan_ranges(sdir)
                hist["count"] = sum(e["rows"] for e in hist["files"])
                # the META schema describes CURRENT and may have evolved
                # since this snapshot: the snapshot's own sidecar is the
                # authority; files (footers) the fallback; the current
                # schema only a last resort for a pre-sidecar EMPTY
                # snapshot (nothing else to derive from)
                snap_schema = _read_snap_schema(sdir)
                if snap_schema is not None:
                    hist["schema"] = snap_schema
                elif hist["files"]:
                    hist.pop("schema", None)
                # a pending deletion vector overlays CURRENT only; history
                # shows committed snapshot states. The bloom index likewise
                # describes the current snapshot's files.
                hist.pop("dv", None)
                hist.pop("bloom", None)
                t = Table(self, name, hist, frozen=True)
                if expect_schema is not None:
                    t.check_compatibility(expect_schema)
                return t
        t = Table(self, name, meta)
        if expect_schema is not None:
            t.check_compatibility(expect_schema)
        return t

    def snapshots(self, name: str) -> list[int]:
        """Retained snapshot numbers for ``name``, oldest first (the last
        entry is current). Numbers above the committed current — a crashed
        conditional-PUT attempt's never-committed directory (ADVICE r9) —
        are excluded: they are debris, not history."""
        tdir = self._table_dir(name)
        if not os.path.isfile(os.path.join(tdir, "_meta.json")):
            raise StoreError(f"no such table: {name!r}")
        try:
            cur_no = int(self._read_meta(name)["current"].split("-")[1])
        except (StoreError, KeyError, ValueError, IndexError):
            cur_no = None  # link metas / torn reads: fall back to unfiltered
        return sorted({
            n
            for e in os.listdir(tdir)
            if e.startswith("snap-") and os.path.isdir(os.path.join(tdir, e))
            for n in [int(e.split("-")[1])]
            if cur_no is None or n <= cur_no
        })

    def drop(self, name: str) -> None:
        """M6/M7 — dropping an unknown key is an explicit error (the
        reference silently no-ops, nimtables.nim:106-109; SURVEY §2.9 calls
        that out as a quirk not to replicate)."""
        self._require_writable()
        if name not in self:
            raise StoreError(f"no such table: {name!r}")
        shutil.rmtree(self._table_dir(name))
        self._invalidate(name)
        # a committer holding catalog state outside the table dir (the
        # conditional-PUT backend) must delete its entry too, or a dropped
        # table can never be recreated (every put would CAS against the
        # ghost version)
        on_drop = getattr(self.committer, "on_drop", None)
        if on_drop is not None:
            on_drop(self, name)

    def _invalidate(self, name: str) -> None:
        """Evict cached base frames for ``name``: a drop + re-create reuses
        snap-00000000 under the same path, and the cached plan's file
        listing (pinned at analysis) would silently read the old files."""
        for k in [k for k in self._base_cache if k[0] == name]:
            del self._base_cache[k]

    def copy(self, src: str, dst: str, into: "Store | None" = None) -> None:
        """M8 — object copy (h5util.nim:159-209) as a snapshot re-write,
        preserving attrs, codec and canonical order. ``into`` targets a
        *different* store — the reference's cross-file copy (same routine,
        destination is another open file)."""
        target = into if into is not None else self
        t = self.table(src)
        target.put(
            dst,
            t.df(),
            order_by=t._meta.get("order_by") or None,
            codec=t.codec,
            overwrite=True,
            attrs=t.attrs,
        )

    def combine(self, a: str, b: str, dst: str, overwrite: bool = False) -> "Table":
        """J1 ``H5TBcombine_tables`` (hl/H5TBpublic.nim:117-119): concatenate
        two tables into a third; ``b``'s positions follow ``a``'s."""
        ta, tb = self.table(a), self.table(b)
        body = ta.df().unionByName(
            tb.df().withColumn(ROWID, (F.col(ROWID) + ta.nrows).cast("long"))
        )
        return self.put(dst, body, overwrite=overwrite)

    def link(self, target: str, link_name: str) -> None:
        """M9 — hardlink: alias catalog entry resolving to ``target``."""
        self._require_writable()
        _check_key(link_name)
        if target not in self:
            raise StoreError(f"no such table: {target!r}")
        if link_name in self:
            raise StoreError(f"key exists: {link_name!r}")
        os.makedirs(self._table_dir(link_name), exist_ok=True)
        self._write_meta(link_name, {"link_to": target})

    # -- CTAS (S3; nimtables.nim:94-104) ------------------------------------

    def put(
        self,
        name: str,
        df: DataFrame,
        order_by: Sequence[str] | None = None,
        codec: str | None = None,
        overwrite: bool = False,
        attrs: dict[str, Any] | None = None,
        local_max_rows: int | None = None,
        _defer_meta: bool = False,
    ) -> "Table":
        """Create table ``name`` from ``df``.

        ``_rowid`` is taken from the input when present (caller-defined
        positions), else assigned as the rank under ``order_by``; with
        neither, insertion order is undefined in a distributed frame, so a
        canonical order is required.

        ``local_max_rows``: caller-promised upper bound on the frame's row
        count. When the bound fits the driver (<= ``LOCAL_REWRITE_MAX_ROWS``)
        the snapshot is written via one collect-as-Arrow job instead of the
        range-shuffle + committer write job (same files, manifest and stats;
        loud error if the promise is violated). Pass it only when the bound
        follows from an operator parameter — a 100 TB CTAS must never
        collect, so unbounded inputs must not carry the hint.
        """
        self._require_writable()
        _check_key(name)
        if name in self and not overwrite:
            raise StoreError(f"key exists: {name!r} (pass overwrite=True)")
        if ROWID in df.columns:
            body = df
        elif order_by:
            body = with_rowid(df, order_by)
        else:
            raise StoreError(
                "input has no _rowid and no order_by was given; a canonical "
                "order is required for stable row positions"
            )
        tdir = self._table_dir(name)
        # Write-then-swap: the new snapshot lands NEXT TO the old one, the
        # meta pointer flips only after a successful write, and only then is
        # the old data removed. Deleting first would destroy the source of a
        # self-referential overwrite (copy(src, dst) with dst==src, combine
        # into an input) before the lazy job ever reads it — and leave
        # nothing to roll back to if the write fails.
        old_meta = None
        if os.path.isdir(tdir):
            try:
                old_meta = self._read_meta(name)
            except StoreError:
                shutil.rmtree(tdir)  # stray non-table dir: nothing reads it
        snap_no = 0
        expected = 0
        if old_meta is not None:
            expected = int(old_meta.get("version", 0))
            if "current" in old_meta:
                snap_no = int(old_meta["current"].split("-")[1]) + 1
        import uuid as _uuid

        meta = {
            "current": _SNAP.format(snap_no),
            # per-creation identity: Table mutations CAS on it so a handle
            # from a dropped incarnation can never clobber a recreated table
            "uid": _uuid.uuid4().hex,
            "codec": _codec_name(codec) if codec else self.codec,
            "attrs": dict(attrs or {}),
            "order_by": list(order_by or []),
            # persisted schema (incl. _rowid): schema inspection needs no
            # footer read or scan plan, and a table deleted down to ZERO
            # rows stays readable as a typed empty frame (round-9 verdict
            # "what's wrong" #1 — the reference's table is readable at
            # nrecords=0, nimtables.nim:140-147)
            "schema": body.schema.json(),
        }
        self._invalidate(name)  # snap paths can repeat after drop/stray rmtree
        # stage under a unique name; the final snap dir appears only inside
        # the CAS critical section (see _cas_flip: two racing writers both
        # plan snap_no = cur+1)
        staged = self._staged_snap(meta["current"])
        self._write_files(
            name, staged, body, meta["codec"], local_max_rows=local_max_rows
        )
        # count + per-file rowid catalog come from the written footers —
        # no separate count job (which would recompute the whole sort).
        scanned = self._scan_ranges(os.path.join(tdir, staged))
        meta["count"] = sum(e["rows"] for e in scanned)
        # snapshot-local schema sidecar: snapshots are immutable, so the
        # schema AT this snapshot rides inside its directory — time travel
        # to an EMPTY snapshot must not serve the table's CURRENT (possibly
        # evolved) schema (round-10 code review, confirmed repro)
        _write_snap_schema(os.path.join(tdir, staged), meta["schema"])
        self._pack_files(name, meta, scanned)
        if _defer_meta:
            # transaction staging: snapshot written, catalog pointer NOT
            # flipped — the Transaction flips every staged table together
            t = Table(self, name, meta)
            t._staged_dir = staged
            t._expected_version = expected
            return t
        try:
            self._cas_flip(
                name, meta, expected,
                rename=(os.path.join(tdir, staged),
                        os.path.join(tdir, meta["current"])),
            )
        except StoreConflictError:
            shutil.rmtree(os.path.join(tdir, staged), ignore_errors=True)
            raise
        if old_meta is not None:
            self._prune_snapshots(name)
        return Table(self, name, meta)

    def transaction(self) -> "Transaction":
        """Multi-table atomic publish: ``with store.transaction() as tx:
        tx.put(a, ...); tx.put(b, ...)`` — ALL snapshots are fully written
        before ANY catalog pointer flips, and an exception inside the block
        discards every staged snapshot, leaving every table at its prior
        state. The cross-table commit lakehouse formats mostly lack
        (Delta/Iceberg are single-table; this is the Nessie-style publish),
        scoped to CTAS/overwrite ``put``s. On local FS the flip phase is a
        per-table pointer write — a crash mid-flip can expose a prefix of
        the tables (documented local-FS stand-in for a single catalog
        manifest swap); readers never see a partially-written snapshot
        because flips only start after every write finished."""
        self._require_writable()
        return Transaction(self)

    def _prune_snapshots(self, name: str) -> None:
        """Drop snapshot dirs beyond the ``keep_snapshots`` newest. The
        CURRENT snapshot (re-read from the catalog — a racer may have
        committed since this handle flipped) is explicitly exempt: with
        unique-suffixed snapshot names a conflict LOSER'S directory can
        transiently exist for the same snapshot number and sort AFTER the
        winner's, which once made name-order pruning delete the live
        current snapshot out from under every reader (caught by the
        threaded conditional-PUT contention test)."""
        tdir = self._table_dir(name)
        try:
            current = self._read_meta(name).get("current")
        except StoreError:
            current = None
        snaps = [
            e for e in os.listdir(tdir)
            if e.startswith("snap-") and os.path.isdir(os.path.join(tdir, e))
        ]

        def num(e: str) -> int:
            try:
                return int(e.split("-")[1])
            except (IndexError, ValueError):
                return -1

        # Retention is by snapshot NUMBER, newest keep_snapshots numbers —
        # name-order retention miscounted when a conflict loser's same-
        # numbered unique-suffixed dir transiently coexisted (it occupied a
        # kept slot and pushed a REAL retained history snapshot out of the
        # window). A non-current dir sharing the current's number is that
        # loser's debris and is removed regardless.
        cur_num = num(current) if current else None
        # Numbers ABOVE current never occupy a retention slot (ADVICE r9:
        # a crashed conditional-PUT attempt's debris dir has the largest
        # number and would evict a REAL retained history snapshot) — but
        # they are also never DELETED here: an in-flight racer's renamed-
        # but-not-yet-PUT snapshot looks identical; vacuum reclaims true
        # debris behind a 24 h age gate.
        committed = {
            num(e) for e in snaps
            if cur_num is None or num(e) <= cur_num
        }
        keep_nums = set(sorted(committed)[-self.keep_snapshots:])
        for e in snaps:
            if e == current:
                continue
            n = num(e)
            if cur_num is not None and n > cur_num:
                continue  # possible in-flight commit — vacuum's job
            if n in keep_nums and n != cur_num:
                continue
            shutil.rmtree(os.path.join(tdir, e), ignore_errors=True)

    def vacuum(self, retain: int | None = None, dry_run: bool = False) -> dict:
        """Lakehouse-style VACUUM: reclaim snapshot directories beyond the
        ``retain`` newest per table (default = the store's
        ``keep_snapshots``), never touching any table's current snapshot.
        With ``dry_run=True`` nothing is deleted. Returns a report
        ``{table: {"removed": [...], "kept": [...], "bytes": n}}`` —
        driver-sized at any store size (the walk touches directory
        entries, not data).

        Retention is normally automatic (every commit prunes); an explicit
        vacuum is for after lowering the retention depth, or for auditing
        reclaimable space before doing so. Readers of retained-but-vacuumed
        snapshots fail on next access, exactly like Delta/Iceberg VACUUM
        semantics — size ``retain`` to the longest-running reader."""
        retain = self.keep_snapshots if retain is None else retain
        if retain < 1:
            raise StoreError("retain must be >= 1")
        if not dry_run:
            self._require_writable()
        report: dict = {}
        for key in self.keys():
            meta = self._read_meta(key)
            if "link_to" in meta:
                continue
            tdir = self._table_dir(key)
            # reclaim crash-orphaned commit staging dirs (.tmp-snap-…): a
            # crashed writer leaves its staged snapshot unreferenced. Age-
            # gated at 24 h so vacuum can never yank a LIVE commit's staging
            # dir out from under its in-flight Spark write.
            import time as _time

            for e in os.listdir(tdir):
                p = os.path.join(tdir, e)
                if (
                    e.startswith(".tmp-snap-")
                    and os.path.isdir(p)
                    and _time.time() - os.stat(p).st_mtime > 86400
                    and not dry_run
                ):
                    shutil.rmtree(p, ignore_errors=True)
            # manifest shards unreferenced by the CURRENT meta (conflict
            # losers, superseded folds) — same 24 h age gate so a racing
            # commit's just-staged shard is never yanked pre-flip
            mdir = self._manifest_dir(key)
            if os.path.isdir(mdir) and not dry_run:
                live = set(meta.get("manifests") or [])
                for idx in (meta.get("bloom") or {}).values():
                    live.update(idx.get("shards") or [])
                for e in os.listdir(mdir):
                    p = os.path.join(mdir, e)
                    if (
                        e not in live
                        and _time.time() - os.stat(p).st_mtime > 86400
                    ):
                        try:
                            os.unlink(p)
                        except OSError:
                            pass
            current = meta["current"]
            # snap dirs numbered ABOVE the committed current: a crashed
            # conditional-PUT attempt's never-committed rename (pruning
            # skips them — an in-flight racer looks identical; the same
            # 24 h age gate as staging dirs makes them safe to reclaim)
            try:
                cur_no = int(current.split("-")[1])
            except (IndexError, ValueError):
                cur_no = None
            if cur_no is not None and not dry_run:
                for e in os.listdir(tdir):
                    p = os.path.join(tdir, e)
                    if not (e.startswith("snap-") and os.path.isdir(p)):
                        continue
                    try:
                        n = int(e.split("-")[1])
                    except (IndexError, ValueError):
                        continue
                    if n > cur_no and _time.time() - os.stat(p).st_mtime > 86400:
                        shutil.rmtree(p, ignore_errors=True)
            def _num(e: str) -> int:
                try:
                    return int(e.split("-")[1])
                except (IndexError, ValueError):
                    return -1

            # retention counts COMMITTED snapshots only: above-current
            # debris younger than the age gate would otherwise occupy a
            # kept slot and evict a real retained history snapshot (the
            # same hole _prune_snapshots closed; round-10 code review,
            # confirmed repro). The debris itself is neither doomed nor
            # kept — the age-gated sweep above owns it.
            snaps = sorted(
                e for e in os.listdir(tdir)
                if e.startswith("snap-") and os.path.isdir(os.path.join(tdir, e))
                and (cur_no is None or _num(e) <= cur_no)
            )
            doomed = [e for e in snaps[:-retain] if e != current] if len(
                snaps
            ) > retain else []
            nbytes = 0
            for e in doomed:
                sdir = os.path.join(tdir, e)
                for f in os.listdir(sdir):
                    # hardlinked files shared with kept snapshots still
                    # count st_size here; the simple sum is an upper bound
                    # on reclaim (exact accounting needs st_nlink walks)
                    nbytes += os.stat(os.path.join(sdir, f)).st_size
                if not dry_run:
                    shutil.rmtree(sdir, ignore_errors=True)
                    # kill mid-reclaim (round-11 verdict ask #4): vacuum
                    # must be re-runnable from any partial sweep — every
                    # removal is independent, current is never doomed
                    _crash_point("vacuum.mid_reclaim")
            report[key] = {
                "removed": doomed,
                "kept": [e for e in snaps if e not in doomed],
                "bytes": nbytes,
            }
        return report

    # -- SQL over the catalog -----------------------------------------------

    def sql(self, statement: str) -> DataFrame:
        """Run Spark SQL over the store's tables: every catalog key is
        registered as a temp view (``/`` in nested keys becomes ``__``,
        since view names can't contain slashes), ``_rowid`` included —
        positional predicates work in plain SQL (``WHERE _rowid BETWEEN …``).
        Views resolve lazily against the CURRENT snapshot at call time."""
        for key in self.keys():
            view = key.replace("/", "__")
            self.table(key).df().createOrReplaceTempView(view)
        return self.spark.sql(statement)

    # -- group attributes (A1-A5 on groups; attributes.nim:207-319 works on
    # any object — tables *and* groups) --------------------------------------

    def group_attrs(self, group: str) -> dict[str, Any]:
        """Attributes attached to a namespace prefix (HDF5 group)."""
        _check_key(group)
        try:
            with open(os.path.join(self._table_dir(group), _GMETA)) as f:
                return dict(json.load(f).get("attrs", {}))
        except FileNotFoundError:
            return {}

    def set_group_attrs(self, group: str, **kv: Any) -> None:
        self._require_writable()
        _check_key(group)
        gdir = self._table_dir(group)
        if os.path.isfile(os.path.join(gdir, "_meta.json")):
            raise StoreError(f"{group!r} is a table, not a group")
        os.makedirs(gdir, exist_ok=True)
        path = os.path.join(gdir, _GMETA)
        cur: dict = {}
        try:
            with open(path) as f:
                cur = json.load(f)
        except FileNotFoundError:
            pass
        cur.setdefault("attrs", {}).update(kv)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(cur, f, indent=1, sort_keys=True)
        os.replace(tmp, path)

    def del_group_attr(self, group: str, key: str) -> None:
        self._require_writable()
        attrs = self.group_attrs(group)
        if key not in attrs:
            raise StoreError(f"no attribute {key!r} on group {group!r}")
        del attrs[key]
        path = os.path.join(self._table_dir(group), _GMETA)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"attrs": attrs}, f, indent=1, sort_keys=True)
        os.replace(tmp, path)

    # -- internals ----------------------------------------------------------

    def _table_dir(self, name: str) -> str:
        d = os.path.join(self.root, name)
        # Defense in depth vs path traversal: the resolved dir must stay
        # inside the store root (``_check_key`` already rejects '..', this
        # catches symlinks and any future caller that skips validation).
        real = os.path.realpath(d)
        if real != self._realroot and not real.startswith(self._realroot + os.sep):
            raise StoreError(f"table path escapes store root: {name!r}")
        return d

    def _meta_path(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_meta.json")

    def _read_meta(self, name: str) -> dict:
        try:
            with open(self._meta_path(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise StoreError(f"no such table: {name!r}") from None

    def _write_meta(self, name: str, meta: dict) -> None:
        # atomic pointer swap: tmp + rename
        os.makedirs(self._table_dir(name), exist_ok=True)
        tmp = self._meta_path(name) + ".tmp"
        with open(tmp, "w") as f:
            json.dump(meta, f, indent=1, sort_keys=True)
        os.replace(tmp, self._meta_path(name))

    # -- optimistic concurrency (writer-writer) ------------------------------
    #
    # Every committed meta carries a monotonically increasing ``version``.
    # A handle remembers the version it planned against; the pointer flip
    # COMPARE-AND-SWAPs on it — if another handle committed in between, the
    # flip raises ``StoreConflictError`` instead of silently dropping that
    # commit (the round-7 verdict's one durability gap: last-writer-wins on
    # the catalog pointer). The reference is single-writer by contract
    # (nimhdf5/files.nim:102-162 opens the file exclusively); the Spark
    # engine must be better because N jobs share one lakehouse.
    #
    # Snapshot data is written to a UNIQUE ``.tmp-snap-…`` staging directory
    # and renamed to its final name only inside the committer's atomic
    # publish: two racing writers both plan "snap-(cur+1)", and without
    # staging the loser's overwrite-semantics cleanup would rmtree the
    # WINNER'S committed files before its own flip failed. The atomic
    # publish itself is pluggable (``committer=``): flock'd lockfile on
    # local FS, conditional PUT on an object store — see the committer
    # classes above Store. Either way it covers only the flip
    # (milliseconds), never the Spark write job.

    def _cas_flip(
        self,
        name: str,
        meta: dict,
        expected_version: int,
        rename: tuple[str, str] | None = None,
        require_same_uid: bool = False,
    ) -> None:
        """Compare-and-swap catalog pointer flip: publish ``meta`` (version
        ``expected_version + 1``) iff the committed version still equals
        ``expected_version``; otherwise raise ``StoreConflictError`` and
        leave the staged ``rename[0]`` directory for the caller to discard.
        ``rename=(staged_dir, final_dir)`` moves the staged snapshot to its
        committed name inside the atomic publish.

        ``require_same_uid`` closes the ABA hole the version alone leaves:
        drop + recreate resets the version to 1, so a handle from the OLD
        incarnation could pass the version compare and clobber the new
        table's catalog entry with metadata describing deleted files. Table
        mutations claim continuity (same per-creation ``uid``); ``put``
        does not (replacement is its contract)."""
        self.committer.flip(
            self, name, meta, int(expected_version), rename, require_same_uid
        )

    @staticmethod
    def _staged_snap(snap: str) -> str:
        """Unique per-attempt staging dir basename for snapshot ``snap``.
        The ``.tmp-`` prefix keeps it out of every ``startswith("snap-")``
        listing (snapshots(), pruning, vacuum retention)."""
        import uuid

        return f".tmp-{snap}-{uuid.uuid4().hex[:8]}"

    # -- sharded manifests (round-8 verdict ask #3 / "what's wrong" #4) ------
    #
    # ``_meta.json`` used to inline the whole per-file catalog: at ~100k
    # files that is a ~9 MB JSON serialized UNDER THE COMMIT LOCK on every
    # commit (measured 0.59 s/commit at 100k files, O(files)), and every
    # ``_check_fresh`` re-parses it. Past ``_MANIFEST_INLINE_MAX`` entries
    # the catalog factors into immutable manifest shards under
    # ``<table>/_manifests/`` (Iceberg's manifest-list shape): the meta
    # holds only shard NAMES, an append-only commit reuses the parent's
    # shards and writes ONE new shard for its new files, and ``compact()``
    # (any full rewrite) folds everything back into a single shard. Shard
    # writes happen during STAGING, outside the lock; the under-lock meta
    # write is O(#shards).

    _MANIFEST_INLINE_MAX = 4096   # entries kept inline in _meta.json
    _MANIFEST_FOLD_AT = 64        # shard count that triggers a fold
    _SHARD_CACHE: dict = {}       # class-level {(root, table, shard): entries}

    def _manifest_dir(self, name: str) -> str:
        return os.path.join(self._table_dir(name), "_manifests")

    def _write_manifest(self, name: str, entries) -> str:
        """Write one immutable manifest shard (a list of file entries, or a
        dict of per-file bloom bitmaps) and prime the shard cache."""
        import uuid as _uuid

        d = self._manifest_dir(name)
        os.makedirs(d, exist_ok=True)
        shard = f"m-{_uuid.uuid4().hex[:16]}.json"
        tmp = os.path.join(d, shard + ".tmp")
        with open(tmp, "w") as f:
            json.dump(entries, f)
        os.replace(tmp, os.path.join(d, shard))
        if len(Store._SHARD_CACHE) > 256:  # long ingest loops: one shard
            Store._SHARD_CACHE.clear()     # per append primes this cache
        Store._SHARD_CACHE[(self._realroot, name, shard)] = (
            dict(entries) if isinstance(entries, dict) else list(entries)
        )
        return shard

    def _load_manifest(self, name: str, shard: str) -> list[dict]:
        key = (self._realroot, name, shard)
        hit = Store._SHARD_CACHE.get(key)
        if hit is None:
            with open(os.path.join(self._manifest_dir(name), shard)) as f:
                hit = json.load(f)
            if len(Store._SHARD_CACHE) > 256:
                Store._SHARD_CACHE.clear()
            Store._SHARD_CACHE[key] = hit
        return hit

    def _files_of(self, name: str, meta: dict) -> list[dict] | None:
        """Materialize a catalog entry's per-file list: inline ``files`` or
        the concatenation of its manifest shards (cached per shard —
        shards are immutable)."""
        files = meta.get("files")
        if files is not None:
            return files
        shards = meta.get("manifests")
        if shards is None:
            return None
        out: list[dict] = []
        for s in shards:
            out.extend(self._load_manifest(name, s))
        out.sort(key=lambda e: e["lo"])
        return out

    def _pack_files(
        self,
        name: str,
        meta: dict,
        files: list[dict],
        carried_shards: list[str] | None = None,
        new_entries: list[dict] | None = None,
    ) -> None:
        """Install ``files`` as the meta's catalog: inline below the
        threshold, else sharded — reusing ``carried_shards`` (whose union
        is ``files`` minus ``new_entries``) and writing one shard for the
        delta, or folding everything into a single shard when no carry is
        possible or the shard list has grown past ``_MANIFEST_FOLD_AT``."""
        if len(files) <= self._MANIFEST_INLINE_MAX:
            meta["files"] = files
            meta.pop("manifests", None)
            return
        if (
            carried_shards
            and new_entries is not None
            and len(carried_shards) < self._MANIFEST_FOLD_AT
        ):
            shards = list(carried_shards)
            if new_entries:
                shards.append(self._write_manifest(name, new_entries))
        else:
            shards = [self._write_manifest(name, files)]
        meta["manifests"] = shards
        meta.pop("files", None)

    def _scan_ranges(
        self, snap_dir: str, skip: frozenset | set = frozenset()
    ) -> list[dict]:
        """Per-file ``_rowid`` (lo, hi, rows) from Parquet footers, sorted by
        ``lo``. Run once per snapshot commit and cached in the catalog —
        mutations prune against this catalog, never against footer reads
        (the analog of HDF5's chunk index; at 100 TB this is the manifest).
        ``skip`` names files whose entries the caller already has (reused
        hardlinked files at commit time): an append to a 100k-file table
        must read only the NEW files' footers, not 100k of them."""
        return scan_rowid_ranges(snap_dir, skip)

    # Spark dtypes whose pyarrow-written Parquet encoding is byte-compatible
    # with Spark's own writer within one mixed snapshot. Timestamps are
    # excluded (Spark's default INT96 vs arrow's int64-micros), as are
    # decimals and deeper nested types (physical-encoding variants).
    _LOCAL_WRITE_TYPES = frozenset(
        ("bigint", "int", "smallint", "tinyint", "double", "float", "string",
         "boolean", "binary", "date")
    )
    # One-level arrays of fixed-width/string primitives are also compatible:
    # Spark's ``toArrow`` names the list element field "element", so the
    # pyarrow writer emits the same 3-level LIST structure (repeated group
    # "list" → "element") as Spark's native writer. array<binary> stays
    # excluded — the row gates don't bound blob BYTES (same reason the
    # small-rewrite path rejects flat binary columns).
    _LOCAL_WRITE_ARRAY_INNER = frozenset(
        ("bigint", "int", "smallint", "tinyint", "double", "float", "string",
         "boolean")
    )

    @classmethod
    def _local_type_ok(cls, t: str) -> bool:
        if t in cls._LOCAL_WRITE_TYPES:
            return True
        return (
            t.startswith("array<")
            and t.endswith(">")
            and t[6:-1] in cls._LOCAL_WRITE_ARRAY_INNER
        )
    #: rewrite bodies at or below this row count collect to the driver
    #: (one toArrow job) and write through the pyarrow path instead of a
    #: distributed shuffle-write job. A scatter/slice mutation's rewrite is
    #: (touched files' rows ± payload); the Hadoop committer + range
    #: shuffle cost ~1.5 s of fixed overhead that dwarfs moving <=256k rows
    #: (~tens of MB — bounded driver materialization even on a shared
    #: cluster driver). Bigger rewrites keep the distributed writer: at
    #: 100 TB a mutation touching many 4M-row files must never collect.
    LOCAL_REWRITE_MAX_ROWS = 262_144
    _LOCAL_WRITE_CODECS = {
        "uncompressed": "NONE", "snappy": "SNAPPY", "gzip": "GZIP",
        "zstd": "ZSTD",
    }

    def _write_local(
        self,
        name: str,
        snap: str,
        body: DataFrame,
        codec: str,
        expected_rows: int | None = None,
        local_max_rows: int | None = None,
    ) -> bool:
        """Driver-direct write for driver-sized payloads: mutation batches
        are in-memory rows by contract (reference parity — nimtables
        mutation APIs take a driver seq), so a Spark write job would spend
        ~0.7 s of scheduler/committer fixed cost to move a handful of rows.
        A pyarrow file write lands the same sorted, stat-carrying Parquet
        in milliseconds. Taken when the frame carries the driver-rows
        marker ``_new_rows`` attaches (zero jobs: the rows are already on
        the driver), Spark reports the plan local (one ``toArrow``), or the
        committer knows the rewrite is small (``expected_rows`` <=
        ``LOCAL_REWRITE_MAX_ROWS``: one bounded collect-as-Arrow job
        replaces the range-shuffle + Hadoop-committer write job, the
        dominant fixed cost of small mutations), and
        only for types whose pyarrow encoding matches Spark's writer
        (mixed snapshots must stay uniform); returns False to fall through
        to the distributed path otherwise."""
        local_rows = getattr(body, "_nimhdfstore_rows", None)
        small_rewrite = (
            local_rows is None
            and expected_rows is not None
            and expected_rows <= self.LOCAL_REWRITE_MAX_ROWS
        )
        # caller-promised row bound (e.g. a CTAS whose source is bounded by
        # an operator parameter): one collect-as-Arrow job replaces the
        # range-shuffle + Hadoop-committer write job, same as small_rewrite
        # but checked <= bound instead of == (the caller knows a bound, not
        # the exact count). A violated promise raises loudly below.
        hinted = (
            local_rows is None
            and not small_rewrite
            and local_max_rows is not None
            and local_max_rows <= self.LOCAL_REWRITE_MAX_ROWS
        )
        if (
            local_rows is None and not small_rewrite and not hinted
            and not body.isLocal()
        ):
            return False
        pq_codec = self._LOCAL_WRITE_CODECS.get(codec)
        if pq_codec is None:
            return False
        if any(not self._local_type_ok(t) for _c, t in body.dtypes):
            return False
        if (small_rewrite or hinted) and not body.isLocal() and any(
            t == "binary" for _c, t in body.dtypes
        ):
            # the row gate doesn't bound BYTES: binary cells (media blobs)
            # can be MBs each, so a 256k-row rewrite could be tens of GB.
            # Blob tables keep the distributed writer.
            return False
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        if local_rows is not None:
            rows, schema = local_rows
            # the marker is only valid when the frame flowed unmodified from
            # _new_rows: a caller that filtered/unioned the marked frame but
            # kept the attribute would silently write the stale marker rows.
            # The committer knows the row count it expects — cross-check it.
            if expected_rows is not None and len(rows) != expected_rows:
                raise StoreError(
                    f"driver-rows marker has {len(rows)} rows but the commit "
                    f"expects {expected_rows}: the marked frame was "
                    "transformed after _new_rows — drop the marker or pass "
                    "the transformed frame without it"
                )
            from pyspark.sql.pandas.types import to_arrow_schema

            tbl = pa.Table.from_pylist(
                [dict(zip(schema.names, r)) for r in rows],
                schema=to_arrow_schema(schema),
            )
        else:
            # The hinted bound is a CALLER promise, so enforce it BEFORE
            # materializing (r13 ADVICE): collect through limit(bound+1) —
            # executeTake, no shuffle, rows in partition order exactly like
            # the plain collect — so a wrong promise moves at most bound+1
            # rows to the driver instead of the whole frame. Within bound
            # the limited table IS the full table. expected_rows
            # (small_rewrite) is the committer's own accounting, not a
            # promise — its equality check below stays the validator.
            src = body.limit(local_max_rows + 1) if hinted else body
            tbl = src.toArrow()
            if expected_rows is not None and tbl.num_rows != expected_rows:
                raise StoreError(
                    f"rewrite produced {tbl.num_rows} rows but the commit "
                    f"expects {expected_rows}: manifest row accounting and "
                    "the rewrite plan disagree"
                )
            if hinted and tbl.num_rows > local_max_rows:
                raise StoreError(
                    f"local_max_rows={local_max_rows} promised but the frame "
                    f"produced {tbl.num_rows} rows: the caller's bound is "
                    "wrong — drop the hint or fix the bound"
                )
        if ROWID in tbl.column_names:
            tbl = tbl.sort_by(ROWID)
        snap_dir = os.path.join(self._table_dir(name), snap)
        # Overwrite semantics, matching the distributed path's
        # mode("overwrite"): a prior attempt at this snapshot number that
        # crashed mid-write leaves uuid-named files behind — appending new
        # ones beside them would double-catalog the rows (silent
        # duplication) and break _commit_pruned's hardlinks.
        shutil.rmtree(snap_dir, ignore_errors=True)
        os.makedirs(snap_dir)
        step = max(1, int(self.rows_per_file))
        for i, lo in enumerate(range(0, max(tbl.num_rows, 1), step)):
            chunk = tbl.slice(lo, step)
            fn = f"part-{i:05d}-local-{uuid.uuid4().hex[:12]}.parquet"
            pq.write_table(
                chunk, os.path.join(snap_dir, fn), compression=pq_codec
            )
            # kill mid-stage, with data files partially written and NO
            # rename issued yet (round-11 verdict ask #4): the staged dir
            # is crash debris the commit protocol must never surface
            _crash_point("stage.mid_data")
        return True

    def _write_files(
        self,
        name: str,
        snap: str,
        body: DataFrame,
        codec: str,
        cluster: list | None = None,
        expected_rows: int | None = None,
        local_max_rows: int | None = None,
    ) -> None:
        # Range-shuffle on _rowid (AQE picks the partition count), sort within
        # partitions, and cap rows per output file: sorted non-overlapping
        # files without needing a row count up front. With ``cluster`` the
        # physical order is the cluster key instead (Table.cluster_by).
        if cluster is None and self._write_local(
            name, snap, body, codec, expected_rows=expected_rows,
            local_max_rows=local_max_rows,
        ):
            return
        keys = [F.col(c) if isinstance(c, str) else c for c in cluster] if cluster \
            else [F.col(ROWID)]
        out = body.repartitionByRange(*keys).sortWithinPartitions(*keys)
        (
            out.write.mode("overwrite")
            .option("compression", codec)
            .option("maxRecordsPerFile", self.rows_per_file)
            .parquet(os.path.join(self._table_dir(name), snap))
        )


class Transaction:
    """Staged multi-table publish (see :meth:`Store.transaction`)."""

    def __init__(self, store: Store) -> None:
        self.store = store
        self._staged: list[tuple[str, Table]] = []
        self._done = False

    def put(self, name: str, df: DataFrame, **kwargs) -> None:
        """Stage a table: the snapshot is written NOW (fail-fast inside the
        transaction block), the catalog pointer flips at commit."""
        if self._done:
            raise StoreError("transaction already closed")
        if any(n == name for n, _ in self._staged):
            raise StoreError(f"table {name!r} already staged in this transaction")
        t = self.store.put(name, df, _defer_meta=True, **kwargs)
        self._staged.append((name, t))

    def __enter__(self) -> "Transaction":
        return self

    def _discard_staged(self) -> None:
        for name, t in self._staged:
            tdir = self.store._table_dir(name)
            shutil.rmtree(os.path.join(tdir, t._staged_dir), ignore_errors=True)
            # a brand-new table dir with no meta is an empty husk
            if os.path.isdir(tdir) and not os.path.isfile(
                os.path.join(tdir, "_meta.json")
            ) and not os.listdir(tdir):
                os.rmdir(tdir)
        self._staged.clear()

    def __exit__(self, exc_type, exc, tb) -> bool:
        self._done = True
        if exc_type is not None:
            self._discard_staged()  # staged snapshots are unreferenced
            return False  # propagate
        # Pre-validate every table's catalog version BEFORE flipping any:
        # a conflict detected here aborts the whole transaction with zero
        # tables published (full atomicity). A racer committing between
        # this check and a flip is still caught by that flip's own CAS —
        # then tables flipped earlier stay published (the documented
        # local-FS prefix-exposure bound; a real catalog service would make
        # the multi-table flip one conditional swap).
        for name, t in self._staged:
            try:
                disk_v = int(self.store._read_meta(name).get("version", 0))
            except StoreError:
                disk_v = 0
            if disk_v != t._expected_version:
                self._discard_staged()
                raise StoreConflictError(
                    f"concurrent modification of {name!r} during the "
                    f"transaction (catalog version {disk_v}, staged against "
                    f"{t._expected_version}): transaction aborted, nothing "
                    "published"
                )
        # commit: CAS-flip every pointer, then prune superseded snapshots
        flipped = 0
        try:
            for name, t in self._staged:
                tdir = self.store._table_dir(name)
                self.store._cas_flip(
                    name, t._meta, t._expected_version,
                    rename=(os.path.join(tdir, t._staged_dir),
                            os.path.join(tdir, t._meta["current"])),
                )
                flipped += 1
                # crash-injection point: a process death here exposes the
                # documented prefix (flipped tables committed, the rest
                # staged-only) — tests/test_round16.py asserts that bound
                _crash_point("txn.mid_flip")
        except StoreConflictError:
            # discard the not-yet-flipped remainder; already-flipped tables
            # are committed (see prefix-exposure note above)
            self._staged = self._staged[flipped:]
            self._discard_staged()
            raise
        for name, _t in self._staged:
            self.store._prune_snapshots(name)
        self._staged.clear()
        return False


class Table:
    """Typed positional table handle (reference ``HDFTable[T]``,
    nimtables.nim:20-28,111-131). Positional reads (``row``/``slice``/
    ``hyperslab``/``elements``) take one of two paths over the catalog-pruned
    files, with the selection semantics in ``operators/positional.py``: a
    driver-sized read becomes a ready LocalRelation read from the immutable
    snapshot at call time; anything larger (and blob or schema-less tables)
    is a lazy scan with the ``_rowid`` predicate pushed down. ``df()`` and
    the other reads are lazy DataFrames."""

    def __init__(
        self, store: Store, name: str, meta: dict, frozen: bool = False
    ) -> None:
        self.store = store
        self.name = name
        self._meta = meta
        #: historical (time-travel) handle: reads only
        self._frozen = frozen
        #: catalog version this handle planned against — every commit CAS-es
        #: on it (writer-writer optimistic concurrency; see Store._cas_flip)
        self._version = int(meta.get("version", 0))

    def refresh(self) -> "Table":
        """Re-read the catalog entry (e.g. after ``StoreConflictError``):
        the handle adopts the current snapshot and version; any uncommitted
        local meta mutation is discarded."""
        self._meta = self.store._read_meta(self.name)
        self._version = int(self._meta.get("version", 0))
        return self

    def _commit_meta(self) -> None:
        """CAS-publish a metadata-only change (attrs, policies, constraints,
        deletion vectors, bloom indexes). On conflict the handle refreshes —
        dropping the unpublished local mutation — and re-raises."""
        try:
            self.store._cas_flip(
                self.name, self._meta, self._version, require_same_uid=True
            )
        except StoreConflictError:
            self.refresh()
            raise
        self._version = int(self._meta["version"])

    def _check_fresh(self) -> None:
        """Fail-fast conflict detection BEFORE a mutation plans against this
        handle's snapshot: if another handle already committed, the planned-
        from snapshot may be pruned — proceeding would surface as an opaque
        missing-file AnalysisException mid-write instead of a conflict. The
        final ``_cas_flip`` remains the authoritative check (this is an
        optimization plus a better error, not the correctness gate). The
        handle refreshes before raising so the caller can simply retry."""
        uid = (self._meta or {}).get("uid")
        try:
            disk = self.store._read_meta(self.name)
            disk_v = int(disk.get("version", 0))
        except StoreError:
            disk, disk_v = {}, 0
        if disk_v != self._version or (
            uid and disk.get("uid") and disk["uid"] != uid
        ):
            planned = self._version
            self.refresh()
            raise StoreConflictError(
                f"concurrent modification of {self.name!r}: catalog version "
                f"is {disk_v} (planned against {planned}) or the table was "
                "recreated — handle refreshed, retry the operation"
            )

    # -- schema / catalog ----------------------------------------------------

    @property
    def nrows(self) -> int:
        """Record count from catalog metadata (H5TBget_table_info analog,
        nimtables.nim:115,235-236) — no job."""
        return int(self._meta["count"])

    @property
    def codec(self) -> str:
        return self._meta["codec"]

    @property
    def snapshot_path(self) -> str:
        return os.path.join(self.store._table_dir(self.name), self._meta["current"])

    def _stored_schema(self) -> StructType | None:
        """Persisted full schema (``_rowid`` included), or None for tables
        written before schema persistence."""
        sj = self._meta.get("schema")
        return StructType.fromJson(json.loads(sj)) if sj else None

    def _empty_df(self) -> DataFrame:
        """Typed empty frame for a zero-file snapshot: a table deleted down
        to nothing stays readable (reference parity — ``toSeq`` on
        nrecords=0 yields an empty seq, nimtables.nim:140-147), where
        ``spark.read.parquet`` on the fileless directory would raise
        UNABLE_TO_INFER_SCHEMA."""
        schema = self._stored_schema()
        if schema is None:
            raise StoreError(
                f"{self.name!r} is empty and predates schema persistence — "
                "no schema to type the empty frame with (rewrite the table "
                "with Store.put to repair)"
            )
        return self.store.spark.createDataFrame([], schema)

    def _catalog_empty(self) -> bool:
        """True iff the CURRENT snapshot provably has zero files, from the
        inline meta alone (never materializes manifest shards — df() must
        not pay an O(files) driver load at 100k files just to learn the
        table is non-empty)."""
        f = self._meta.get("files")
        if f is not None:
            return not f
        m = self._meta.get("manifests")
        return m is not None and not m

    def df(self) -> DataFrame:
        if self._catalog_empty():
            return self._empty_df()
        cache = getattr(self.store, "_base_cache", None)
        if cache is None:  # handle constructed against a legacy/mock store
            return self._dv_overlay(
                self.store.spark.read.parquet(self.snapshot_path)
            )
        # Content-addressed key: (name, snapshot) alone rots across Store
        # HANDLES — a drop+recreate through handle A reuses snap-000000000
        # under the same path, and handle B's own cache (never evicted by
        # A's drop) would serve A's pre-drop file listing. The file catalog's
        # names embed write-job UUIDs, so hashing them makes every physical
        # rewrite a new key in EVERY handle with no cross-handle protocol.
        files = self._meta.get("files")
        if files is not None:
            fid = hash(tuple(e["name"] for e in files)) if files else None
        else:
            # sharded catalog: shard names are content-unique per write,
            # so they identify the file set without materializing it
            shards = self._meta.get("manifests")
            fid = hash(tuple(shards)) if shards else None
        key = (self.name, self._meta["current"], fid)
        base = cache.get(key)
        if base is None:
            if len(cache) > 512:
                cache.clear()
            base = self.store.spark.read.parquet(self.snapshot_path)
            cache[key] = base
        return self._dv_overlay(base)

    def _dv_overlay(self, base: DataFrame) -> DataFrame:
        """Apply the pending deletion vector (if any) to a frame of raw
        snapshot rows: filter the deleted raw positions out and renumber
        the survivors by the number of deleted positions below them. Both
        are plain column expressions (one term per DV range), so the whole
        overlay stays in whole-stage codegen; _DV_LIMIT bounds the
        expression size. Note the renumbered _rowid is computed, so
        parquet min/max pruning on _rowid is lost until the DV
        materializes (compact() or any physical mutation restores it)."""
        dv = self._meta.get("dv") or []
        if not dv:
            return base
        r = F.col(ROWID)
        dead = None
        shift = F.lit(0)
        for a, b in dv:
            rng = r.between(int(a), int(b))
            dead = rng if dead is None else (dead | rng)
            shift = shift + F.when(r > int(b), int(b) - int(a) + 1).otherwise(0)
        return base.where(~dead).withColumn(ROWID, (r - shift).cast("long"))

    # -- deletion vectors (merge-on-read deletes) ----------------------------

    #: materialize automatically once the overlay has this many ranges —
    #: keeps the read-side expression (and meta) bounded
    _DV_LIMIT = 128

    @property
    def deletion_vector(self) -> list[list[int]]:
        """Pending deleted RAW-position ranges (inclusive), sorted/disjoint;
        empty when the table has no merge-on-read overlay."""
        return [list(r) for r in self._meta.get("dv") or []]

    def delete_deferred(self, a: int, b: int | None = None) -> None:
        """M4 as merge-on-read: record the deleted positions in a deletion
        vector instead of rewriting files — the delete is O(1) metadata at
        ANY table size (a positional delete on a 100 TB table moves zero
        bytes). Reads overlay the vector (see ``df``); the next physical
        mutation or ``compact()`` materializes it into a real snapshot.
        Lakehouse equivalent of Delta/Iceberg deletion vectors; the
        reference only has the eager form (nimtables.nim:202-227).

        ``a``/``b`` are LOGICAL positions (what a reader sees); they are
        mapped onto raw file positions through the existing vector, so
        repeated deferred deletes compose exactly like eager ones."""
        self.store._require_writable()
        self._require_mutable()
        a = self._resolve(a)
        b = a if b is None else self._resolve(b)
        if not (0 <= a <= b < self.nrows):
            raise StoreError(f"delete range {a}..{b} out of range")
        dv = [tuple(r) for r in self._meta.get("dv") or []]
        new_raw = _logical_to_raw(dv, a, b, raw_total=sum(
            e["rows"] for e in self._ranges()
        ))
        merged = _merge_ranges(dv + new_raw)
        self._meta["dv"] = [list(r) for r in merged]
        self._meta["count"] = self.nrows - (b - a + 1)
        self._commit_meta()
        if len(merged) > Table._DV_LIMIT:
            self.compact()

    def _flush_dv(self) -> None:
        """Materialize a pending deletion vector before any physical
        mutation: the mutators reuse raw files by position, which is only
        sound when raw == logical.

        Pruning of the pre-flush snapshot is DEFERRED to the mutation's own
        commit (``prune=False``): the caller's payload may be a lazy plan
        over the pre-flush snapshot (e.g. ``t.update(i, t.slice(...))``
        with a DV pending) and it executes during that commit — an eager
        prune here would delete the files under it mid-call. Every
        ``_flush_dv`` caller commits next, which prunes both.

        Every physical mutator enters through here, so this is also the
        shared fail-fast conflict gate: a stale handle's mutation plans
        ``spark.read.parquet`` over explicit file paths of its planned-from
        snapshot, which a concurrent winner may already have pruned —
        without the check that surfaces as PATH_NOT_FOUND at analysis
        instead of ``StoreConflictError``."""
        self._check_fresh()
        if self._meta.get("dv"):
            self._commit_pruned([], self.df(), self.nrows, prune=False)

    # -- zone-map value index (small-materialized-aggregates file skipping) --

    _ZONE_CACHE: dict = {}

    #: above this many files the footer sweep runs as a cluster job
    _ZONE_DISTRIBUTED_THRESHOLD = 64

    def zone_map(self, column: str, distributed: bool | None = None) -> list[dict]:
        """Per-file (min, max) of ``column`` from Parquet footers — a
        zone-map / small-materialized-aggregates index over a VALUE column
        (the positional catalog in ``_meta['files']`` covers only _rowid).
        Footer-only: no data pages are read anywhere. Cached per
        (snapshot, column) — snapshot dirs are immutable snapshots, so the
        map never staleness-checks.

        Execution: a driver loop for small catalogs; past
        ``_ZONE_DISTRIBUTED_THRESHOLD`` files (or with ``distributed=True``)
        a one-task-per-file cluster job collects one stats row per file —
        the rowid._keys_sorted_distributed shape, so at 100 TB the driver
        touches no footers at all."""
        if column not in self.df().columns:
            raise StoreError(f"no such column: {column!r}")
        key = (self.snapshot_path, column)
        cached = Table._ZONE_CACHE.get(key)
        if cached is not None:
            return cached
        names = [e["name"] for e in self._ranges()]
        if distributed is None:
            distributed = len(names) > Table._ZONE_DISTRIBUTED_THRESHOLD
        if distributed and names:
            out = self._zone_map_distributed(column, names)
        else:
            out = []
            for n in names:
                nm, lo, hi, ok = _file_zone_stats(
                    os.path.join(self.snapshot_path, n), column, n
                )
                out.append({"name": nm, "lo": lo, "hi": hi, "ok": ok})
        Table._ZONE_CACHE[key] = out
        return out

    def _zone_map_distributed(self, column: str, names: list[str]) -> list[dict]:
        spark = self.store.spark
        snap = self.snapshot_path
        spec = spark.createDataFrame(
            [(n,) for n in names], "name string"
        ).repartition(len(names))

        def stats(batches):
            import pandas as pd

            for pdf in batches:
                rows = []
                for n in pdf["name"]:
                    name, lo, hi, ok = _file_zone_stats(
                        os.path.join(snap, n), column, n
                    )
                    elo, ehi = _encode_stat(lo), _encode_stat(hi)
                    # encodable or un-prunable: never let a type we can't
                    # transport silently widen to "prunes everything"
                    if ok and (elo is None or ehi is None):
                        ok = False
                    rows.append((name, elo, ehi, ok))
                yield pd.DataFrame(rows, columns=["name", "lo", "hi", "ok"])

        collected = spec.mapInPandas(
            stats, "name string, lo string, hi string, ok boolean"
        ).collect()
        by_name = {r["name"]: r for r in collected}
        return [
            {
                "name": n,
                "lo": _parse_stat(by_name[n]["lo"]),
                "hi": _parse_stat(by_name[n]["hi"]),
                "ok": bool(by_name[n]["ok"]),
            }
            for n in names
        ]

    def scan_between(self, column: str, lo, hi) -> tuple[DataFrame, int, int]:
        """Value-range scan through the zone map: files whose [min, max]
        cannot intersect [lo, hi] are never opened (driver-side file-list
        pruning — stronger than row-group pruning because skipped files cost
        zero tasks and zero footer reads executor-side). Returns
        ``(frame, files_scanned, files_total)``; the residual predicate
        still applies row-exactly to the survivors."""
        zones = self.zone_map(column)
        keep = [
            z["name"] for z in zones
            if not z["ok"] or z["lo"] is None
            or not (z["hi"] < lo or z["lo"] > hi)
        ]
        total = len(zones)
        if not keep:
            empty = self.df().where(F.lit(False))
            return empty, 0, total
        paths = [os.path.join(self.snapshot_path, n) for n in keep]
        df = self.store.spark.read.parquet(*paths)
        df = self._dv_overlay(df.where(F.col(column).between(lo, hi)))
        return df, len(keep), total

    # -- bloom file index (equality file skipping) ---------------------------

    def build_bloom(self, column: str, bits: int = 2048, k: int = 3) -> dict:
        """Build a per-file Bloom-filter index over ``column`` and persist
        it in the catalog: for point lookups on a column the physical
        layout does NOT correlate with, zone maps prune nothing (every
        file's [min, max] spans the domain) but a bloom filter still skips
        every file that provably lacks the value — the Parquet
        bloom-filter / Delta file-skipping idea at file granularity, where
        a skipped file costs zero tasks.

        Build: ONE distributed scan — each row hashes to ``k`` bit
        positions (``xxhash64(col, seed)``), positions aggregate per input
        file via a map-side-combined ``collect_set`` (bounded by ``bits``),
        and only ``files × bits/8`` bytes ever reach the driver/catalog.
        The index is snapshot-scoped; any physical commit drops it (stale
        by definition — rebuild is a maintenance job, same as zone maps).

        Sizing: with rows-per-file r, false-positive rate per file is
        ~(1 - e^(-k·r/bits))^k — size ``bits`` ≈ 10·r for ~1% at k=3; the
        catalog cost stays bits/8 bytes per file regardless of r.

        Maintenance: append-only commits EXTEND the index in place by
        scanning only the new files (see _commit_pruned — round-8 verdict
        ask #8); rewriting commits still invalidate it."""
        self.store._require_writable()
        self._require_mutable()
        if column not in self.df().columns or column == ROWID:
            raise StoreError(f"cannot bloom-index column {column!r}")
        if bits % 8 or bits <= 0:
            raise StoreError("bits must be a positive multiple of 8")
        # zero-file snapshot (delete-to-empty): a valid empty index — scans
        # prune everything, and the append-only carry extends it in place
        fmap = {} if self._catalog_empty() else self._bloom_file_entries(
            column, [self.snapshot_path], bits, k
        )
        idx = {"bits": bits, "k": k}
        self._pack_bloom(idx, fmap)
        self._meta.setdefault("bloom", {})[column] = idx
        self._commit_meta()
        return idx

    def _bloom_files(self, idx: dict) -> dict[str, str]:
        """Materialize a bloom index's per-file bitmap map (inline
        ``files`` or the union of its manifest-side shards)."""
        files = idx.get("files")
        if files is not None:
            return files
        out: dict[str, str] = {}
        for s in idx.get("shards", []):
            out.update(self.store._load_manifest(self.name, s))
        return out

    def _pack_bloom(
        self,
        idx: dict,
        full_map: dict[str, str],
        carried_shards: list[str] | None = None,
        new_map: dict[str, str] | None = None,
    ) -> None:
        """Install per-file bitmaps into ``idx``: inline below the manifest
        threshold, else sharded under ``_manifests/`` like the file catalog
        — at 100k files the bitmaps are MBs that would otherwise ride in
        ``_meta.json`` under the commit lock on every meta-only commit."""
        store = self.store
        if len(full_map) <= store._MANIFEST_INLINE_MAX:
            idx["files"] = full_map
            idx.pop("shards", None)
            return
        if (
            carried_shards
            and new_map is not None
            and len(carried_shards) < store._MANIFEST_FOLD_AT
        ):
            shards = list(carried_shards)
            if new_map:
                shards.append(store._write_manifest(self.name, new_map))
        else:
            shards = [store._write_manifest(self.name, full_map)]
        idx["shards"] = shards
        idx.pop("files", None)

    def _bloom_file_entries(
        self, column: str, paths: list[str], bits: int, k: int
    ) -> dict[str, str]:
        """Per-file bloom bitmaps (hex) for the Parquet files under
        ``paths`` — ONE distributed scan regardless of file count; only
        files × bits/8 bytes reach the driver. Shared by the full build
        and the append-only incremental extension."""
        spark = self.store.spark
        raw = spark.read.parquet(*paths)
        pos = F.array(
            *[
                F.pmod(F.xxhash64(F.col(column), F.lit(i)), F.lit(bits)).cast(
                    "int"
                )
                for i in range(k)
            ]
        )
        per_file = (
            raw.select(
                F.input_file_name().alias("__f"), F.explode(pos).alias("p")
            )
            .groupBy("__f")
            .agg(F.collect_set("p").alias("ps"))
            .collect()
        )
        files: dict[str, str] = {}
        for r in per_file:
            bitmap = bytearray(bits // 8)
            for p in r["ps"]:
                bitmap[p // 8] |= 1 << (p % 8)
            files[os.path.basename(r["__f"])] = bitmap.hex()
        return files

    def lookup_eq(self, column: str, value) -> tuple[DataFrame, int, int]:
        """Point lookup through the bloom index: files whose filter lacks
        any of the value's ``k`` bits cannot contain it and are never
        opened. Returns ``(frame, files_scanned, files_total)``; the
        equality predicate still applies row-exactly to the survivors
        (bloom positives are only probabilistic). The value is hashed by
        the same ``xxhash64`` expression the build ran, cast to the
        column's type first — a literal of a narrower type would hash
        differently."""
        idx = (self._meta.get("bloom") or {}).get(column)
        if idx is None:
            raise StoreError(f"no bloom index on column {column!r}")
        if value is None:
            raise StoreError("bloom lookup requires a non-null value")
        fmap = self._bloom_files(idx)
        spark = self.store.spark
        bits, kk = int(idx["bits"]), int(idx["k"])
        dtype = dict(self.df().dtypes)[column]
        lit = F.lit(value).cast(dtype)
        positions = (
            spark.range(1)
            .select(
                *[
                    F.pmod(F.xxhash64(lit, F.lit(i)), F.lit(bits))
                    .cast("int")
                    .alias(f"p{i}")
                    for i in range(kk)
                ]
            )
            .collect()[0]
        )
        total = len(fmap)
        keep = []
        for name, hexmap in fmap.items():
            bm = bytes.fromhex(hexmap)
            if all(bm[p // 8] & (1 << (p % 8)) for p in positions):
                keep.append(name)
        if not keep:
            return self.df().where(F.lit(False)), 0, total
        paths = [os.path.join(self.snapshot_path, n) for n in keep]
        df = spark.read.parquet(*paths).where(F.col(column) == value)
        return self._dv_overlay(df), len(keep), total

    @property
    def schema(self) -> StructType:
        """Declared schema (``_rowid`` excluded). Served from the persisted
        catalog entry when present — schema inspection of a 100k-file table
        must not plan a full scan (round-9 verdict "what's wrong" #3); the
        df() fallback covers pre-persistence tables only."""
        stored = self._stored_schema()
        fields = stored.fields if stored is not None else self.df().schema.fields
        return StructType([f for f in fields if f.name != ROWID])

    def check_compatibility(self, expected: StructType) -> None:
        """``checkCompatiblity`` analog (nimtables.nim:133-138): field count,
        names, and types must match the declared schema."""
        actual = self.schema
        if [(f.name, f.dataType) for f in actual.fields] != [
            (f.name, f.dataType) for f in expected.fields
        ]:
            raise StoreError(
                f"schema mismatch for {self.name!r}:\n"
                f"  stored:   {actual.simpleString()}\n"
                f"  expected: {expected.simpleString()}"
            )

    # -- attributes (A1-A5; nimhdf5/attributes.nim:207-545) ------------------

    @property
    def attrs(self) -> dict[str, Any]:
        return dict(self._meta.get("attrs", {}))

    def _require_mutable(self) -> None:
        self.store._require_writable()
        if self._frozen:
            raise StoreError(
                f"{self.name!r} is a historical snapshot handle (read-only); "
                "mutating it would fork history — open the current table"
            )

    def set_attrs(self, **kv: Any) -> None:
        self._require_mutable()
        self._meta.setdefault("attrs", {}).update(kv)
        self._commit_meta()

    def del_attr(self, key: str) -> None:
        self._require_mutable()
        try:
            del self._meta["attrs"][key]
        except KeyError:
            raise StoreError(f"no attribute {key!r} on {self.name!r}") from None
        self._commit_meta()

    # -- fine-grained read policies (row filter / column subset / masking) --
    # Extension surface: per-principal governed reads in the catalog, the
    # lakehouse access-control idea (row-level filters + column masks
    # enforced by the engine, not the caller — see e.g. the Spark
    # fine-grained-access-control literature, SIGMOD 2025). The reference
    # has no auth layer; policies compose with every existing read feature
    # (DV overlay, time travel) because they rewrite the SAME lazy frame.

    def set_policy(
        self,
        principal: str,
        row_filter: str | None = None,
        columns: Sequence[str] | None = None,
        masks: dict[str, str] | None = None,
    ) -> None:
        """Attach a read policy for ``principal``: ``row_filter`` is a SQL
        boolean expression over the table's columns (parsed as an
        expression — statements don't parse), ``columns`` the visible
        subset (``_rowid`` always stays visible — positional identity is
        part of the data model), ``masks`` maps columns to ``"sha256"``
        (format-preserving-ish, joinable) or ``"null"`` (redact)."""
        self._require_mutable()
        cols = set(self.df().columns)
        for c in list(columns or []) + list((masks or {}).keys()):
            if c not in cols:
                raise StoreError(f"policy references unknown column {c!r}")
        for c, m in (masks or {}).items():
            if m not in ("sha256", "null"):
                raise StoreError(f"unknown mask {m!r} for column {c!r}")
        if row_filter is not None:
            # fail fast: force parse + analysis (F.expr alone defers the
            # parse until the plan is analyzed), catching syntax errors and
            # unknown columns at policy-set time, not first read
            try:
                self.df().where(F.expr(row_filter)).schema
            except Exception as e:
                raise StoreError(f"bad row_filter {row_filter!r}: {e}") from None
        pol: dict[str, Any] = {}
        if row_filter is not None:
            pol["row_filter"] = row_filter
        if columns is not None:
            pol["columns"] = list(columns)
        if masks:
            pol["masks"] = dict(masks)
        self._meta.setdefault("policies", {})[principal] = pol
        self._commit_meta()

    def drop_policy(self, principal: str) -> None:
        self._require_mutable()
        try:
            del self._meta["policies"][principal]
        except KeyError:
            raise StoreError(f"no policy for {principal!r}") from None
        self._commit_meta()

    @property
    def policies(self) -> dict[str, dict]:
        return {k: dict(v) for k, v in (self._meta.get("policies") or {}).items()}

    def df_as(self, principal: str) -> DataFrame:
        """Policy-enforced read: row filter → masks → column projection,
        all plain column rewrites of the same lazy frame ``df()`` returns,
        so Catalyst still pushes the filter to the scan and prunes the
        file set — governance costs nothing at plan level. A principal
        with no policy reads everything (owner semantics)."""
        df = self.df()
        pol = (self._meta.get("policies") or {}).get(principal)
        if pol is None:
            return df
        if "row_filter" in pol:
            df = df.where(F.expr(pol["row_filter"]))
        types = dict(df.dtypes)
        for c, m in (pol.get("masks") or {}).items():
            if m == "sha256":
                df = df.withColumn(c, F.sha2(F.col(c).cast("string"), 256))
            else:  # "null"
                df = df.withColumn(c, F.lit(None).cast(types[c]))
        if "columns" in pol:
            keep = [c for c in df.columns if c in set(pol["columns"]) or c == ROWID]
            df = df.select(*keep)
        return df

    # -- declarative constraints (data-quality surface; extension — the
    # reference's only validation is structural schema compatibility on
    # open, nimtables.nim:133-138) --------------------------------------

    @property
    def constraints(self) -> dict[str, dict]:
        return dict(self._meta.get("constraints", {}))

    def add_constraint(
        self,
        name: str,
        *,
        check: str | None = None,
        unique: list[str] | None = None,
        foreign_key: tuple[str, str, str] | None = None,
    ) -> None:
        """Declare a named constraint, persisted in the table's catalog
        metadata (so it travels with copies and survives mutations):

        - ``check``: a SQL boolean expression that must HOLD for every row
          (``"l_quantity between 1 and 50"``),
        - ``unique``: a key column list,
        - ``foreign_key``: ``(col, parent_table, parent_col)`` — every
          non-null value of ``col`` must exist in the parent store table.

        Constraints are validated on demand (``validate()``), not enforced
        per-write: at 100 TB ingest you audit batches and quarantine
        violations, you don't re-scan the table on every append."""
        given = [x is not None for x in (check, unique, foreign_key)]
        if sum(given) != 1:
            raise StoreError("exactly one of check/unique/foreign_key required")
        self._require_mutable()
        if check is not None:
            spec: dict = {"type": "check", "expr": check}
        elif unique is not None:
            missing = [c for c in unique if c not in self.df().columns]
            if missing:
                raise StoreError(f"unique constraint on unknown column(s): {missing}")
            spec = {"type": "unique", "cols": list(unique)}
        else:
            col, parent, parent_col = foreign_key  # type: ignore[misc]
            if parent not in self.store:
                raise StoreError(f"foreign-key parent table {parent!r} not in store")
            spec = {
                "type": "foreign_key",
                "col": col,
                "parent": parent,
                "parent_col": parent_col,
            }
        self._meta.setdefault("constraints", {})[name] = spec
        self._commit_meta()

    def drop_constraint(self, name: str) -> None:
        self._require_mutable()
        try:
            del self._meta["constraints"][name]
        except KeyError:
            raise StoreError(f"no constraint {name!r} on {self.name!r}") from None
        self._commit_meta()

    def validate(self) -> DataFrame:
        """Audit every declared constraint in one pass family (operators/
        quality.py): all ``check`` rules fold into a single-scan conditional
        aggregate; each ``unique`` is one keyed groupBy; each
        ``foreign_key`` one LEFT ANTI join. Returns ``(rule,
        n_violations)`` — driver-sized at any table size."""
        from nimhdfstore_spark.operators import quality as _qa

        specs = self._meta.get("constraints", {})
        if not specs:
            raise StoreError(f"no constraints declared on {self.name!r}")
        body = self.df()
        checks = {
            nm: ~F.expr(sp["expr"])
            for nm, sp in specs.items()
            if sp["type"] == "check"
        }
        parts = []
        if checks:
            parts.append(_qa.row_rule_violations(body, checks))
        for nm, sp in specs.items():
            if sp["type"] == "unique":
                parts.append(_qa.uniqueness_violations(body, sp["cols"], nm))
            elif sp["type"] == "foreign_key":
                parts.append(
                    _qa.referential_violations(
                        body,
                        sp["col"],
                        self.store[sp["parent"]].df(),
                        sp["parent_col"],
                        nm,
                    )
                )
        return _qa.audit(parts)

    # -- positional reads (P1-P9) -------------------------------------------
    #
    # Two read paths share the catalog pruning of ``_kept_files``. A
    # driver-sized selection — every kept file and the result within
    # ``Store.LOCAL_REWRITE_MAX_ROWS``, no binary column, a stored schema —
    # is read on the driver (``_read_local``) and returned as a ready
    # LocalRelation. Anything larger plans a scan of the kept files with the
    # ``_rowid`` predicate pushed down to Parquet (``_span_base``).

    def _kept_files(
        self, spans: Sequence[tuple[int, int]]
    ) -> tuple[list[dict], list[dict]]:
        """(catalog entries, the entries that can hold a position of one of
        the inclusive LOGICAL ``spans``). A pending deletion vector maps the
        span ends to raw file positions first, so pruning stays exact."""
        entries = self._ranges()
        spans = _merge_ranges([(a, b) for a, b in spans if a <= b])
        if not spans or not entries:
            return entries, []
        dv = self._meta.get("dv") or []
        lo = _raw_positions(dv, [a for a, _ in spans])
        hi = _raw_positions(dv, [b for _, b in spans])
        flo = np.array([e["lo"] for e in entries], dtype=np.int64)
        fhi = np.array([e["hi"] for e in entries], dtype=np.int64)
        j = np.searchsorted(hi, flo)  # first span ending at or after the file
        hit = j < len(hi)
        hit[hit] = lo[j[hit]] <= fhi[hit]
        return entries, [e for e, h in zip(entries, hit) if h]

    def _span_base(self, spans: Sequence[tuple[int, int]]) -> DataFrame:
        """Raw rows for the LOGICAL position ``spans``: catalog-pruned —
        only files whose ``_rowid`` range can intersect are opened, so a
        point read on a 100k-file table costs one task, not 100k footer
        opens (the manifest-scale read path; round-8 verdict ask #3's
        planning measurement showed the whole-directory read at 0.6 ms/file
        = 60 s per slice at 100k files). The caller's logical predicate
        applies after the overlay renumbers. Small catalogs keep the
        whole-dir ``df()`` read — its analyzed plan is cached per snapshot."""
        entries, keep = self._kept_files(spans)
        if len(entries) <= 8 or len(keep) == len(entries):
            return self.df()
        if not keep:
            return self.df().where(F.lit(False))
        return self._dv_overlay(self._read_files(keep))

    def _read_local(
        self,
        spans: Sequence[tuple[int, int]],
        n_max: int,
        mask,
        columns: Sequence[str] | None = None,
    ):
        """Driver-local read of a positional selection, or None when the
        distributed path must serve it. ``spans`` are inclusive LOGICAL
        ranges covering the selection, ``n_max`` bounds its row count and
        ``mask`` maps an array of logical ``_rowid`` values to the selected
        rows (the numpy forms in ``operators/positional.py``).

        One pyarrow scan of the kept files, bounded by the spans' raw
        ``_rowid`` ends (row-group pruning), then per batch: deletion-vector
        renumbering, the exact selection, and finally a sort by ``_rowid``.
        Returns ``(arrow table, schema)``. ``schema`` is the stored schema
        made nullable — what Spark's Parquet reader reports, so both paths
        type alike (an inferred schema would, e.g., turn ``timestamp_ntz``
        into a shifted ``timestamp``). The scan reads every file as its
        Arrow form, which also unifies files whose writers declared
        different nullability (Spark's writer and the driver-direct one).
        The rows are read at call time from the immutable snapshot this
        handle points at."""
        stored = self._stored_schema()
        if stored is None:
            return None
        names = [ROWID, *columns] if columns else stored.names
        if len(set(names)) < len(names) or any(
            n not in stored.names for n in names
        ):
            return None  # the Spark plan keeps its own handling of these
        fields = [stored[n] for n in names]
        # blob bytes are not bounded by rows
        if any("binary" in f.dataType.simpleString() for f in fields):
            return None
        n, cap = self.nrows, self.store.LOCAL_REWRITE_MAX_ROWS
        spans = _merge_ranges([
            (max(a, 0), min(b, n - 1)) for a, b in spans
            if max(a, 0) <= min(b, n - 1)
        ])
        if min(n_max, sum(b - a + 1 for a, b in spans)) > cap:
            return None
        _, keep = self._kept_files(spans)
        if any(e["rows"] > cap for e in keep):
            return None
        import pyarrow as pa
        import pyarrow.dataset as pads
        from pyspark.errors import PySparkException
        from pyspark.sql.pandas.types import to_arrow_schema

        schema = StructType([
            StructField(f.name, _as_nullable(f.dataType), True, f.metadata)
            for f in fields
        ])
        try:
            arrow_schema = to_arrow_schema(schema)
        except PySparkException:
            return None  # a type the Arrow conversion does not cover
        if not keep:
            return arrow_schema.empty_table(), schema
        dv = self._meta.get("dv") or []
        raw_lo, raw_hi = (
            int(x) for x in _raw_positions(dv, [spans[0][0], spans[-1][1]])
        )
        fmt = pads.ParquetFileFormat(
            read_options=pads.ParquetReadOptions(coerce_int96_timestamp_unit="us")
        )
        dset = pads.dataset(
            [os.path.join(self.snapshot_path, e["name"]) for e in keep],
            schema=arrow_schema, format=fmt,
        )
        r_col = pads.field(ROWID)
        parts, ids = [], []
        for batch in dset.to_batches(
            columns=names, filter=(r_col >= raw_lo) & (r_col <= raw_hi)
        ):
            r = batch.column(ROWID).to_numpy()
            if dv:
                alive, r = _dv_renumber(r, dv)
                sel = alive & mask(r)
            else:
                sel = mask(r)
            if sel.any():
                parts.append(batch.filter(pa.array(sel)))
                ids.append(r[sel])
        if not parts:
            return arrow_schema.empty_table(), schema
        tbl = pa.Table.from_batches(parts)
        rid = np.concatenate(ids)
        tbl = tbl.set_column(
            names.index(ROWID), arrow_schema.field(ROWID), pa.array(rid)
        )
        if len(rid) > 1 and not np.all(rid[1:] > rid[:-1]):
            tbl = tbl.take(np.argsort(rid, kind="stable"))
        return tbl, schema

    def _select(
        self,
        spans: Sequence[tuple[int, int]],
        n_max: int,
        mask,
        pred,
        columns: Sequence[str] | None = None,
        order: bool = True,
    ) -> DataFrame:
        """A positional selection through whichever read path fits: the
        driver-local LocalRelation, else ``_span_base`` filtered by the
        Column predicate ``pred()`` (sorted by ``_rowid`` when ``order``).
        ``pred`` is built only on the distributed path: a Column costs a
        py4j round trip per node, tens of ms for a hyperslab."""
        got = self._read_local(spans, n_max, mask, columns)
        if got is not None:
            tbl, schema = got
            return self.store.spark.createDataFrame(tbl, schema=schema)
        df = self._span_base(spans).where(pred())
        if columns:
            df = df.select(ROWID, *columns)
        return df.orderBy(ROWID) if order else df

    def row(self, i: int) -> DataFrame:
        n, ri = self.nrows, self._resolve(i)
        return self._select(
            [(ri, ri)], 1,
            lambda r: positional.point_mask(r, i, n),
            lambda: positional.point(i, n), order=False,
        )

    def slice(self, a: int, b: int) -> DataFrame:
        """Inclusive slice with negative-index support (table[a..b] /
        table[^k] semantics, nimtables.nim:154-171)."""
        n, lo, hi = self.nrows, self._resolve(a), self._resolve(b)
        return self._select(
            [(lo, hi)], hi - lo + 1,
            lambda r: positional.slice_mask(r, a, b, n),
            lambda: positional.slice_range(a, b, n),
        )

    def __getitem__(self, key):
        if isinstance(key, int):
            return self.row(key)
        if isinstance(key, slice):
            if key.step is not None and key.step < 1:
                raise ValueError("slice step must be >= 1")
            # Resolve negatives against nrows and clamp FIRST (python slice
            # semantics); an empty window (stop <= start, e.g. t[0:0]) must
            # return an empty frame — converting stop-exclusive to inclusive
            # via stop-1 before resolving would turn stop=0 into -1 ≡ the
            # last row and yield the whole table.
            n = self.nrows
            start = key.start if key.start is not None else 0
            stop = key.stop if key.stop is not None else n
            if start < 0:
                start += n
            if stop < 0:
                stop += n
            start = max(0, min(start, n))
            stop = max(0, min(stop, n))
            if stop <= start:
                return self.df().where(F.lit(False)).orderBy(ROWID)
            if key.step not in (None, 1):
                cnt = math.ceil((stop - start) / key.step)
                return self.hyperslab(start, cnt, stride=key.step)
            # python slice: stop-exclusive → inclusive b-1
            return self.slice(start, stop - 1)
        raise TypeError(f"bad index: {key!r}")

    def hyperslab(
        self, offset: int, count: int, stride: int = 1, block: int = 1,
        columns: Sequence[str] | None = None,
    ) -> DataFrame:
        positional.check_block(stride, block)
        span_hi = offset + max(count - 1, 0) * stride + block - 1
        return self._select(
            [(offset, span_hi)], max(count, 0) * block,
            lambda r: positional.hyperslab_mask(r, offset, count, stride, block),
            lambda: positional.hyperslab(offset, count, stride, block), columns,
        )

    def elements(self, coords: Sequence[int]) -> DataFrame:
        n, coords = self.nrows, list(coords)
        rs = sorted({self._resolve(int(c)) for c in coords})
        return self._select(
            [(r, r) for r in rs], len(rs),
            lambda r: positional.element_mask(r, coords, n),
            lambda: positional.element_set(coords, n),
        )

    def read_as(self, casts: dict[str, str]) -> DataFrame:
        return positional.read_as(self.df().orderBy(ROWID), casts)

    def to_pandas(self):
        """Full-scan round-trip (S4 ``toSeq``, nimtables.nim:140-147)."""
        return self.df().orderBy(ROWID).toPandas()

    # -- mutation as rewrite (M1-M5; nimtables.nim:173-233) ------------------

    def _resolve(self, i: int) -> int:
        return i + self.nrows if i < 0 else i

    def _new_rows(self, df: DataFrame, start: int, n: int | None) -> tuple[DataFrame, int]:
        """Position incoming rows at ``start..start+n-1``.

        If the frame carries a ``_rowid`` it is re-based onto the splice
        point (caller-defined local order). Otherwise the rows are numbered
        by their arrival order on a single partition — mutation payloads are
        driver-built and small; bulk loads go through :meth:`Store.put`.

        The payload schema must match the table's exactly (name AND type per
        column): a silent type widening (int32 table, int64 payload) would
        write mixed-type Parquet files into one snapshot and fail only at
        read time, nondeterministically with file order — the reference's
        compound-type write is equally strict (H5TBappend_records takes the
        table's registered dtype, nimtables.nim:173-175).
        """
        # schema from the persisted catalog entry: zero footer reads and no
        # scan plan on the append path at ANY file count. Pre-persistence
        # tables fall back to one file's footer (self.df() would list and
        # plan the whole snapshot directory — O(files) per append).
        stored = self._stored_schema()
        if stored is not None:
            table_types = {
                f.name: f.dataType.simpleString()
                for f in stored.fields if f.name != ROWID
            }
        else:
            entries = self._ranges()
            schema_src = (
                self._read_files(entries[:1]) if len(entries) > 8 else self.df()
            )
            table_types = {k: v for k, v in schema_src.dtypes if k != ROWID}
        payload_types = {k: v for k, v in df.dtypes if k != ROWID}
        if payload_types != table_types:
            raise StoreError(
                f"payload schema {payload_types} does not match table "
                f"schema {table_types}"
            )
        if ROWID in df.columns:
            if n is None:
                n = df.count()
            base = df.agg(F.min(ROWID).alias("m")).collect()[0]["m"] or 0
            body = df.withColumn(
                ROWID, (F.col(ROWID) - F.lit(base) + F.lit(start)).cast("long")
            )
        else:
            # no _rowid: "arrival order" is only meaningful for an in-memory
            # payload (the reference's mutation API takes a driver-side seq,
            # nimtables.nim:173-233), so materialize and enumerate driver-side.
            # The single-partition-window alternative costs seconds per
            # *execution* (uncacheable codegen) and range-partitioned writes
            # execute their child twice (sample + shuffle). Distributed bulk
            # payloads should attach their own _rowid (or use Store.put).
            from pyspark.sql.types import LongType, StructField, StructType

            rows = _collect_payload(df, "mutation")
            n = len(rows)
            schema = StructType(
                [StructField(ROWID, LongType())] + list(df.schema.fields)
            )
            positioned = [(start + i, *r) for i, r in enumerate(rows)]
            out = self.store.spark.createDataFrame(positioned, schema)
            # driver-rows marker: _write_local writes these rows directly
            # (createDataFrame plans are RDD-backed, so isLocal() can't
            # identify them as driver-sized)
            out._nimhdfstore_rows = (positioned, schema)
            return out, n
        cols = [ROWID] + [c for c in df.columns if c != ROWID]
        return body.select(*cols), n

    def _ranges(self) -> list[dict]:
        """Per-file ``_rowid`` catalog of the current snapshot (inline or
        materialized from manifest shards)."""
        files = self.store._files_of(self.name, self._meta)
        if files is None:  # meta written before file catalogs existed
            files = self.store._scan_ranges(self.snapshot_path)
        return files

    def _read_files(self, entries: list[dict]) -> DataFrame:
        paths = [os.path.join(self.snapshot_path, e["name"]) for e in entries]
        return self.store.spark.read.parquet(*paths)

    def _commit_pruned(
        self,
        keep: list[dict],
        rewrite: DataFrame | None,
        rewrite_count: int,
        cluster: list | None = None,
        prune: bool = True,
    ) -> None:
        """Commit a new snapshot = hardlinked ``keep`` files + the written-out
        ``rewrite`` frame. Only ``rewrite_count`` rows move; everything in
        ``keep`` is reused byte-for-byte (hardlink locally; by manifest
        reference on an object store). Spark part-file names embed a job UUID,
        so freshly written files never collide with linked ones. The new
        count and file catalog come from the written footers."""
        store = self.store
        store._require_writable()
        self._require_mutable()
        self._check_fresh()
        cur = int(self._meta["current"].split("-")[1])
        snap = _SNAP.format(cur + 1)
        old_dir = self.snapshot_path
        tdir = store._table_dir(self.name)
        # stage under a unique name; the final snap dir appears only inside
        # the CAS critical section (two racing writers both plan cur+1 —
        # writing the final name directly would let the loser's overwrite
        # cleanup destroy the winner's committed files)
        staged = store._staged_snap(snap)
        staged_dir = os.path.join(tdir, staged)
        try:
            if rewrite is not None and rewrite_count > 0:
                store._write_files(
                    self.name, staged, rewrite, self.codec, cluster=cluster,
                    expected_rows=rewrite_count,
                )
            else:
                os.makedirs(staged_dir, exist_ok=True)
            # data files fully staged; nothing renamed, nothing published
            _crash_point("stage.post_data")
            for e in keep:
                os.link(
                    os.path.join(old_dir, e["name"]),
                    os.path.join(staged_dir, e["name"]),
                )
                # mid-hardlink: staged dir holds new data + some reused
                # links — still pure debris until the committer's flip
                _crash_point("stage.mid_link")
        except Exception:
            # a racer that committed DURING staging may have pruned the
            # planned-from snapshot out from under the rewrite plan or the
            # hardlink loop — report that as the conflict it is, not as a
            # missing-file error
            shutil.rmtree(staged_dir, ignore_errors=True)
            self._check_fresh()  # raises StoreConflictError if so
            raise
        # Everything from here to the committed flip cleans up the staged
        # directory on ANY failure (ADVICE r9: an error during footer scan
        # or incremental index maintenance — after the staging try block —
        # used to leak staged_dir until vacuum's 24 h GC). After a
        # successful flip the rename has consumed staged_dir, so the
        # ignore_errors rmtree in the handler is a no-op for post-flip
        # failures.
        try:
            self._finish_commit(
                keep, rewrite, rewrite_count, staged, staged_dir, old_dir,
                snap, tdir,
            )
        except StoreConflictError:
            shutil.rmtree(staged_dir, ignore_errors=True)
            self.refresh()  # adopt the winning commit; caller may retry
            raise
        except Exception:
            shutil.rmtree(staged_dir, ignore_errors=True)
            try:
                self.refresh()  # undo in-place meta mutations from staging
            except StoreError:
                pass
            raise
        if prune:
            store._prune_snapshots(self.name)

    def _finish_commit(
        self,
        keep: list[dict],
        rewrite: DataFrame | None,
        rewrite_count: int,
        staged: str,
        staged_dir: str,
        old_dir: str,
        snap: str,
        tdir: str,
    ) -> None:
        """Catalog + index maintenance and the committed flip for
        :meth:`_commit_pruned` (split out so its caller can guarantee
        staged-dir cleanup on any failure)."""
        store = self.store
        # kept entries are already cataloged (hardlinked bytes identical) —
        # footer-scan ONLY the freshly written files (at 100k files the old
        # full rescan was ~6 s of pure footer reads per append)
        kept_name_set = {e["name"] for e in keep}
        new_file_entries = store._scan_ranges(staged_dir, skip=kept_name_set)
        files = sorted(
            [dict(e) for e in keep] + new_file_entries,
            key=lambda e: e["lo"],
        )
        # Incremental index maintenance (round-8 verdict ask #8): an
        # append-only commit reuses every old file byte-for-byte, so the
        # per-file bloom entries stay valid — extend the index by scanning
        # ONLY the new files instead of dropping it (at 100 TB a full
        # rebuild per append is a table-scan tax on every ingest tick).
        # Any commit that rewrites or drops a file still invalidates.
        old_files = {e["name"] for e in self._ranges()}
        kept_names = kept_name_set
        append_only = (
            kept_names == old_files and not self._meta.get("dv")
        )
        old_bloom = self._meta.get("bloom") or {}
        new_names = sorted(e["name"] for e in new_file_entries)
        #: plan gate for tests/queries: which files the last commit's index
        #: maintenance scanned (None = no incremental maintenance ran)
        self.last_index_scan: list[str] | None = None
        carried_bloom: dict | None = None
        carried_zones: dict[str, list] = {}
        if append_only and old_bloom:
            carried_bloom = {}
            for col, idx in old_bloom.items():
                fmap = self._bloom_files(idx)
                if set(fmap) != kept_names:
                    carried_bloom = None  # index didn't cover the snapshot
                    break
                new_map = (
                    self._bloom_file_entries(
                        col,
                        [os.path.join(staged_dir, n) for n in new_names],
                        int(idx["bits"]),
                        int(idx["k"]),
                    )
                    if new_names else {}
                )
                entry = {"bits": int(idx["bits"]), "k": int(idx["k"])}
                self._pack_bloom(
                    entry, {**fmap, **new_map}, idx.get("shards"), new_map
                )
                carried_bloom[col] = entry
            if carried_bloom is not None:
                self.last_index_scan = list(new_names)
        if append_only:
            # zone maps carry the same way: kept files keep their footer
            # stats (hardlinked — identical bytes), only new files are read
            for (sp, col), zones in list(Table._ZONE_CACHE.items()):
                if sp != old_dir:
                    continue
                add = []
                bad = False
                for nm in new_names:
                    try:
                        name, lo, hi, ok = _file_zone_stats(
                            os.path.join(staged_dir, nm), col, nm
                        )
                    except Exception:
                        bad = True
                        break
                    add.append({"name": name, "lo": lo, "hi": hi, "ok": ok})
                if not bad:
                    carried_zones[col] = [
                        z for z in zones if z["name"] in kept_names
                    ] + add
        # manifest-shard carry: any parent shard whose files are ALL kept
        # rides along untouched; the delta (new files + survivors of
        # partially-kept shards) becomes at most ONE new shard — an append
        # to a sharded 100k-file catalog serializes KBs under the lock,
        # not 9 MB
        old_shards = list(self._meta.get("manifests") or [])
        carried_shards: list[str] = []
        covered: set[str] = set()
        for s in old_shards:
            try:
                content = store._load_manifest(self.name, s)
            except OSError:
                carried_shards, covered = [], set()
                break
            names = {e["name"] for e in content}
            if names <= kept_names:
                carried_shards.append(s)
                covered |= names
        residual = [e for e in files if e["name"] not in covered]
        # schema maintenance: a full rewrite (no kept files) may change the
        # schema (add_field/drop_field); any commit that keeps files cannot
        # (mixed snapshots must stay uniform). The rewrite's schema is taken
        # even at rewrite_count == 0 — add_field on an EMPTIED table is a
        # zero-row full rewrite and must not silently no-op (round-10 code
        # review, confirmed repro). Tables created before schema persistence
        # backfill from the pre-commit frame once.
        if rewrite is not None and not keep:
            self._meta["schema"] = rewrite.schema.json()
        elif "schema" not in self._meta:
            self._meta["schema"] = self.df().schema.json()
        _write_snap_schema(staged_dir, self._meta["schema"])
        self._meta.update(
            current=snap, count=sum(e["rows"] for e in files)
        )
        store._pack_files(
            self.name, self._meta, files, carried_shards, residual
        )
        # a physical commit always starts from the logical state (mutators
        # _flush_dv first; compact reads through df()), so any overlay is
        # now materialized in the files; per-file bloom indexes describe
        # the PREVIOUS snapshot's files and go stale with them UNLESS the
        # append-only carry above extended them
        self._meta.pop("dv", None)
        if carried_bloom is not None:
            self._meta["bloom"] = carried_bloom
        else:
            self._meta.pop("bloom", None)
        store._cas_flip(
            self.name, self._meta, self._version,
            rename=(staged_dir, os.path.join(tdir, snap)),
            require_same_uid=True,
        )
        self._version = int(self._meta["version"])
        for col, zones in carried_zones.items():
            # register under the COMMITTED snapshot path (the committer may
            # have uniquified the final name); drop the superseded entry so
            # an ingest loop doesn't retain one zone list per append
            Table._ZONE_CACHE.pop((old_dir, col), None)
            if len(Table._ZONE_CACHE) > 256:
                Table._ZONE_CACHE.clear()
            Table._ZONE_CACHE[(self.snapshot_path, col)] = zones

    def append(self, df: DataFrame, n: int | None = None) -> None:
        """M1 — append at end (nimtables.nim:173-175). Existing files are all
        reused; only the new rows are written.

        Appends retry automatically on writer-writer conflict: the payload
        carries no positional dependency on the snapshot it was planned
        against (its rowids are recomputed from the refreshed tail), so the
        retry is always semantically the caller's intent. Positional
        mutations (insert/update/delete) do NOT auto-retry — their target
        positions may mean different rows after a concurrent commit, so the
        conflict surfaces to the caller."""
        import random
        import time

        last: StoreConflictError | None = None
        for attempt in range(8):
            try:
                # fail fast BEFORE planning: _new_rows analyzes self.df(),
                # which reads the (possibly pruned) planned-from snapshot
                self._check_fresh()
                self._flush_dv()
                start = self.nrows
                new, k = self._new_rows(df, start, n)
                self._commit_pruned(self._ranges(), new, k)
                return
            except StoreConflictError as e:
                last = e  # the conflict path already refreshed the handle
            except _RACER_PRUNE_ERRORS as exc:
                # a racer committing between _check_fresh and the schema/
                # write plan can prune the planned-from snapshot out from
                # under it — that surfaces as a missing-file analysis/IO
                # error deep in the scan, not as a conflict. Reclassify
                # IFF the handle really is stale; a genuine failure
                # re-raises. The catch is NARROW (ADVICE r9: a bare
                # `except Exception` reclassified disk-full/executor-loss
                # as retryable whenever a commit happened to race) and the
                # original error is chained for diagnosability.
                try:
                    self._check_fresh()
                except StoreConflictError as e:
                    e.__cause__ = exc
                    last = e
                else:
                    raise
            # jittered exponential backoff: two writers in lock-step
            # (commit storm) would otherwise re-collide on every
            # attempt — the standard optimistic-retry recipe
            time.sleep(random.uniform(0, 0.02 * (2 ** min(attempt, 4))))
        raise last

    def insert(self, i: int, df: DataFrame, n: int | None = None) -> None:
        """M5 — splice at position ``i`` (nimtables.nim:229-233); suffix
        rowids shift arithmetically (no re-rank), so only files from the
        splice point on are rewritten. Unlike the reference, the count is
        updated (its in-memory ``nrecords`` forgets to bump — SURVEY §2.9
        quirk) and position 0 is insertable (no ``assert n>0``)."""
        self._flush_dv()
        i = self._resolve(i)
        if not 0 <= i <= self.nrows:
            raise StoreError(f"insert position {i} out of range 0..{self.nrows}")
        new, n = self._new_rows(df, i, n)
        ranges = self._ranges()
        keep = [e for e in ranges if e["hi"] < i]
        touched = [e for e in ranges if e["hi"] >= i]
        r = F.col(ROWID)
        if touched:
            old = self._read_files(touched)
            body = (
                old.where(r < i)
                .unionByName(new)
                .unionByName(
                    old.where(r >= i).withColumn(ROWID, (r + F.lit(n)).cast("long"))
                )
            )
        else:
            body = new
        rewrite_count = sum(e["rows"] for e in touched) + n
        self._commit_pruned(keep, body, rewrite_count)

    def delete(self, a: int, b: int | None = None) -> None:
        """M4 — delete row or inclusive slice (nimtables.nim:202-227);
        suffix shifts down arithmetically. Files entirely before ``a`` are
        reused; the rest rewrite."""
        self._flush_dv()
        a = self._resolve(a)
        b = a if b is None else self._resolve(b)
        if not (0 <= a <= b < self.nrows):
            raise StoreError(f"delete range {a}..{b} out of range")
        k = b - a + 1
        ranges = self._ranges()
        keep = [e for e in ranges if e["hi"] < a]
        touched = [e for e in ranges if e["hi"] >= a]
        old = self._read_files(touched)
        r = F.col(ROWID)
        body = old.where(r < a).unionByName(
            old.where(r > b).withColumn(ROWID, (r - F.lit(k)).cast("long"))
        )
        rewrite_count = sum(e["rows"] for e in touched) - k
        self._commit_pruned(keep, body, rewrite_count)

    def add_records_from(self, src: "Table", start: int, n: int) -> None:
        """J2 ``H5TBadd_records_from`` (hl/H5TBpublic.nim:114-116): append
        rows ``start..start+n-1`` of ``src`` to this table. The slice read
        prunes to the files containing the range; the append writes only the
        new rows."""
        self._flush_dv()
        # rebase the source positions onto the tail of this table
        new = (
            src.df()
            .where(F.col(ROWID).between(start, start + n - 1))
            .withColumn(ROWID, (F.col(ROWID) - start + self.nrows).cast("long"))
        )
        self._commit_pruned(self._ranges(), new, n)

    # -- schema evolution (M15; hl/H5TBpublic.nim:120-125) -------------------

    def add_field(self, name: str, dtype: str, default: Any = None) -> None:
        """M15 ``H5TBinsert_field``: add a column with a default. A schema
        change touches every file by definition — full rewrite is inherent,
        not an implementation shortcut."""
        self._flush_dv()
        if name in self.df().columns:
            raise StoreError(f"field exists: {name!r}")
        body = self.df().withColumn(name, F.lit(default).cast(dtype))
        self._commit_pruned([], body, self.nrows)

    def drop_field(self, name: str) -> None:
        """M15 ``H5TBdelete_field``: remove a column (never ``_rowid``)."""
        self._flush_dv()
        if name == ROWID or name not in self.df().columns:
            raise StoreError(f"cannot drop field {name!r}")
        self._commit_pruned([], self.df().drop(name), self.nrows)

    def compact(self) -> None:
        """Rewrite the snapshot into optimally-sized files. Repeated small
        appends/mutations fragment the file catalog; compaction restores
        ``rows_per_file`` sizing and tight ``_rowid`` row-group stats (the
        maintenance job a 100 TB deployment schedules off-peak)."""
        self._commit_pruned([], self.df(), self.nrows)

    def analyze(self, columns: list[str]) -> DataFrame:
        """ANALYZE TABLE — one-pass per-column statistics (non-null count,
        nulls, exact NDV, min, max) over numeric columns, persisted into the
        table's attrs so catalog consumers read them without a scan (the
        stats side of a lakehouse manifest; the reference's only stat is the
        row count, nimtables.nim:115).

        Plan shape: unpivot via ``stack`` then ONE grouped aggregation — a
        single shuffle keyed by column name regardless of how many columns
        are analyzed (vs. one job per column). Values widen to double."""
        if not columns:
            raise StoreError("analyze needs at least one column")
        have = set(self.df().columns)
        missing = [c for c in columns if c not in have]
        if missing:
            raise StoreError(f"no such column(s): {missing}")
        pairs = ", ".join(f"'{c}', cast({c} as double)" for c in columns)
        longf = self.df().select(
            F.expr(f"stack({len(columns)}, {pairs}) as (col_name, v)")
        )
        stats = longf.groupBy("col_name").agg(
            F.count("v").alias("n"),
            (F.count(F.lit(1)) - F.count("v")).alias("n_null"),
            F.countDistinct("v").alias("ndv"),
            F.min("v").alias("min_v"),
            F.max("v").alias("max_v"),
        )
        rows = stats.collect()
        self.set_attrs(stats={
            r["col_name"]: {
                "n": r["n"], "n_null": r["n_null"], "ndv": r["ndv"],
                "min": r["min_v"], "max": r["max_v"],
            }
            for r in rows
        })
        return self.store.spark.createDataFrame(rows, stats.schema)

    def cluster_by(self, *cluster_cols) -> None:
        """OPTIMIZE-ZORDER-style physical re-clustering: rewrite the current
        snapshot ordered by ``cluster_cols`` (plain columns or expressions —
        e.g. ``operators.zorder.morton_code``) instead of ``_rowid``.

        ``_rowid`` VALUES are untouched, so every positional/logical read
        stays correct; the trade is physical: per-file ``_rowid`` spans
        widen (positional range reads prune fewer files) while the cluster
        columns' per-file spans tighten — zone maps (``scan_between``) and
        Parquet row-group stats on those columns start skipping files. The
        lakehouse OPTIMIZE job, expressed on the snapshot store."""
        if not cluster_cols:
            raise StoreError("cluster_by needs at least one column")
        self._commit_pruned([], self.df(), self.nrows, cluster=list(cluster_cols))

    def update_rows(self, df: DataFrame) -> None:
        """Scatter update: replace the rows whose ``_rowid`` values appear in
        ``df`` (final positions; payload schema = table schema). Positions
        don't shift, so only the files containing a targeted ``_rowid``
        rewrite — M13 coordinate-write (nimhdf5/datasets.nim:1117-1275) with
        HDF5's touched-chunks-only behavior. Payloads are driver-sized (the
        reference marshals them in memory too) and routed through the
        ``_collect_payload`` gate like every other mutation; the collected
        rows are re-localized so a nondeterministic payload plan cannot
        diverge between the id probe and the written body. The touched-file
        probe bisects the sorted ids against each file's [lo, hi] span —
        O(files × log ids), not the linear O(files × ids) scan."""
        self._flush_dv()
        import bisect

        rows = _collect_payload(df, "update")
        ids = [r[ROWID] for r in rows]
        if not ids:
            return
        if len(ids) != len(set(ids)):
            raise StoreError("duplicate _rowid in update payload")
        if min(ids) < 0 or max(ids) >= self.nrows:
            raise StoreError(f"update _rowid out of range 0..{self.nrows - 1}")
        ids_sorted = sorted(ids)
        touched, keep = [], []
        for e in self._ranges():
            pos = bisect.bisect_left(ids_sorted, e["lo"])
            if pos < len(ids_sorted) and ids_sorted[pos] <= e["hi"]:
                touched.append(e)
            else:
                keep.append(e)
        old = self._read_files(touched)
        pay_df = self.store.spark.createDataFrame(rows, df.schema)
        body = self._drop_rowids(old, ids).unionByName(pay_df)
        self._commit_pruned(keep, body, sum(e["rows"] for e in touched))

    def _drop_rowids(self, df: DataFrame, ids: list) -> DataFrame:
        """Filter out the rows whose ``_rowid`` is in ``ids`` via a broadcast
        anti-join. An ``isin(ids)`` literal list costs Catalyst seconds of
        scale-INDEPENDENT analyze/codegen time at payload sizes (measured
        6.7 s for 10k literals vs 0.5 s for the anti-join) and payloads can
        reach ``PAYLOAD_MAX_ROWS``; the anti-join plan is O(1) in expression
        size and broadcast-hash at any table scale."""
        from nimhdfstore_spark.tables import local_frame

        # LocalRelation: a Python-RDD-backed id list would schedule a
        # Python-worker job inside every delete/update commit
        ids_df = local_frame(
            self.store.spark, [(int(i),) for i in ids], f"{ROWID} long"
        )
        return df.join(F.broadcast(ids_df), on=ROWID, how="left_anti")

    def merge(self, df: DataFrame, key: str) -> dict:
        """MERGE / upsert by business key (extension surface: the reference's
        only addressing is positional — SURVEY §2.9 — but a warehouse user
        switching from it expects keyed MERGE). Semantics: every current row
        whose ``key`` equals a payload row's key gets that payload row's
        non-key columns (its ``_rowid`` is unchanged); payload rows matching
        nothing are appended at the tail in ascending key order. Payload keys
        must be unique; the payload schema must match the table's.

        Scale shape: the payload (driver-sized, like every reference mutation
        batch — nimtables.nim:173-233) is broadcast against the table's key
        column; only files containing a matched ``_rowid`` are rewritten and
        everything else hardlinks into the new snapshot, exactly the
        update_rows pruning. One snapshot commit covers both legs, so readers
        never observe the update without the insert."""
        self._flush_dv()
        if key not in self.df().columns or key == ROWID:
            raise StoreError(f"no such merge key: {key!r}")
        pay = df.drop(ROWID) if ROWID in df.columns else df
        table_types = {k: v for k, v in self.df().dtypes if k != ROWID}
        if dict(pay.dtypes) != table_types:
            raise StoreError(
                f"payload schema {dict(pay.dtypes)} does not match table "
                f"schema {table_types}"
            )
        rows = _collect_payload(pay, "merge")
        keys = [r[key] for r in rows]
        if len(keys) != len(set(keys)):
            raise StoreError("duplicate key in merge payload")
        cur = self.df()
        # rowids to replace: broadcast the (small) payload keys against the
        # table — at cluster scale this is a broadcast-hash semi-join, no
        # fact-side shuffle.
        pay_df = self.store.spark.createDataFrame(rows, pay.schema)
        matched = (
            cur.select(ROWID, key)
            .join(F.broadcast(pay_df.select(key)), on=key, how="inner")
            .select(ROWID, key)
            .collect()
        )
        ids = [r[ROWID] for r in matched]
        matched_keys = {r[key] for r in matched}
        upd = (
            cur.select(ROWID, key)
            .join(F.broadcast(pay_df), on=key, how="inner")
            .select(*cur.columns)
        )
        ins_rows = sorted(
            (r for r in rows if r[key] not in matched_keys),
            key=lambda r: r[key],
        )
        n_ins = len(ins_rows)
        ranges = self._ranges()
        idset = set(ids)
        touched = [
            e for e in ranges
            if any(e["lo"] <= i <= e["hi"] for i in idset)
        ]
        keep = [e for e in ranges if e not in touched]
        body = None
        if touched:
            old = self._read_files(touched)
            body = self._drop_rowids(old, ids).unionByName(upd)
        if n_ins:
            ins_df = self.store.spark.createDataFrame(ins_rows, pay.schema)
            tail, _ = self._new_rows(ins_df, self.nrows, n_ins)
            body = tail if body is None else body.unionByName(
                tail.select(*body.columns)
            )
        rewrite_count = sum(e["rows"] for e in touched) + n_ins
        if rewrite_count == 0:  # empty payload — nothing to commit
            return {"updated": 0, "inserted": 0}
        self._commit_pruned(keep, body, rewrite_count)
        return {"updated": len(ids), "inserted": n_ins}

    def changes(self, since: int) -> DataFrame:
        """CDC snapshot diff: the rows of the CURRENT snapshot that are new
        or rewritten relative to retained snapshot ``since``, tagged with an
        ``op`` column (``insert`` for positions past the old row count,
        ``update`` otherwise). File-catalog based: a file hardlinked across
        snapshots carries byte-identical rows, so only part-files NEW to the
        current snapshot are read — an append to a 100 TB table diffs by
        scanning just the appended files, never a full-table compare (the
        same contract as Delta/Iceberg change-data-feed at file granularity;
        a rewritten-in-place file reports all its rows as updates even when
        some are byte-equal). Positions that disappeared (count shrank) are
        deletions by definition of positional storage and are not emitted
        as rows."""
        tdir = self.store._table_dir(self.name)
        old_dir = os.path.join(tdir, _SNAP.format(since))
        if not os.path.isdir(old_dir):
            raise StoreError(f"no such snapshot: {since} for {self.name!r}")
        old_ranges = self.store._scan_ranges(old_dir)
        old_names = {e["name"] for e in old_ranges}
        old_count = sum(e["rows"] for e in old_ranges)
        fresh = [e for e in self._ranges() if e["name"] not in old_names]
        if not fresh:
            return self.df().where(F.lit(False)).withColumn(
                "op", F.lit("insert")
            )
        return self._read_files(fresh).withColumn(
            "op",
            F.when(F.col(ROWID) >= F.lit(old_count), F.lit("insert")).otherwise(
                F.lit("update")
            ),
        )

    def update(self, i: int, df: DataFrame, b: int | None = None) -> None:
        """M2/M3 — overwrite row ``i`` or slice ``i..b`` (nimtables.nim:
        177-200). Positions don't shift, so only the file(s) containing
        ``a..b`` rewrite — a point update on a 100 TB table moves one file.
        The replacement must cover the region exactly (the reference leaves
        shape vs data.len unchecked — quirk not kept)."""
        self._flush_dv()
        a = self._resolve(i)
        b = a if b is None else self._resolve(b)
        if not (0 <= a <= b < self.nrows):
            raise StoreError(f"update range {a}..{b} out of range")
        new, n = self._new_rows(df, a, None)
        if n != b - a + 1:
            raise StoreError(f"update covers {b - a + 1} rows but got {n}")
        ranges = self._ranges()
        keep = [e for e in ranges if e["hi"] < a or e["lo"] > b]
        touched = [e for e in ranges if e["hi"] >= a and e["lo"] <= b]
        old = self._read_files(touched)
        body = old.where(~F.col(ROWID).between(a, b)).unionByName(new)
        rewrite_count = sum(e["rows"] for e in touched)
        self._commit_pruned(keep, body, rewrite_count)
