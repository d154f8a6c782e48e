"""Measurement helpers: spans, Spark job accounting, storage accounting,
process-tree RSS and host CPU ticks. All of it observes the program from
outside through public state; none of it changes what the program does.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import threading
import time


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """The highest percentile with at least ten samples beyond it, as
    ``(value, percentile, n)``; ``(None, None, n)`` below eleven samples."""
    n = len(xs)
    if n < 11:
        return None, None, n
    s = sorted(xs)
    return s[n - 11], round(100.0 * (n - 10) / n, 1), n


class Tracer:
    """In-memory spans around each call into a layer. A disabled tracer
    records nothing and costs one attribute test per span."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        #: name -> list of (phase, value)
        self.counts: dict[str, list[tuple[str, float]]] = {}
        self.op_id: str | None = None
        #: "setup", "warmup" or "measure"; every span and count carries it
        self.phase = "setup"
        self._stack: list[dict] = []
        #: seconds spent collecting counts (job accounting, listings): the
        #: part of the traced run's slowdown the benchmark itself causes
        self.overhead_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": self.op_id,
            "phase": self.phase,
            "parent": self._stack[-1]["id"] if self._stack else None,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts.setdefault(name, []).append((self.phase, value))

    def values(self, name: str, phases) -> list[float]:
        return [v for p, v in self.counts.get(name, []) if p in phases]

    def self_times(self, phases) -> dict[str, list[float]]:
        """Per span name, each span's duration minus the time its child
        spans cover (children run one after another on the one client
        thread, so their durations add up without overlap); spans of the
        given phases only."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            if s["phase"] in phases:
                out.setdefault(s["name"], []).append(
                    s["end"] - s["start"] - child[s["id"]]
                )
        return out

    def dump(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


class JobAccounting:
    """Spark jobs, stages and tasks per op, from ``setJobGroup`` plus the
    public status tracker. Groups are read after the timed loop ends, so the
    listener bus has caught up and the loop pays only the ``setJobGroup``."""

    def __init__(self, spark, enabled: bool) -> None:
        self.sc = spark.sparkContext
        self.enabled = enabled
        #: (group id, op kind, phase)
        self.groups: list[tuple[str, str, str]] = []

    def begin(self, group: str, kind: str, phase: str) -> None:
        """Tag the jobs of one op; set-up and measured ops are summarized,
        warm-up ops are not."""
        if self.enabled:
            self.sc.setJobGroup(group, kind)
            if phase != "warmup":
                self.groups.append((group, kind, phase))

    def end(self) -> None:
        if self.enabled:
            self.sc.setLocalProperty("spark.jobGroup.id", None)

    def summarize(self) -> dict[str, dict[str, list[tuple[int, int, int, int]]]]:
        """Per phase and op kind, one ``(jobs, stages, tasks, failed
        tasks)`` per op."""
        st = self.sc.statusTracker()
        out: dict[str, dict[str, list[tuple[int, int, int, int]]]] = {}
        for group, kind, phase in self.groups:
            jobs = st.getJobIdsForGroup(group)
            stages = tasks = failed = 0
            for j in jobs:
                info = st.getJobInfo(j)
                for sid in info.stageIds if info else []:
                    si = st.getStageInfo(sid)
                    if si is not None and si.numTasks:
                        stages += 1
                        tasks += si.numTasks
                        failed += si.numFailedTasks
            out.setdefault(phase, {}).setdefault(kind, []).append(
                (len(jobs), stages, tasks, failed))
        return out


def inodes(root: str) -> dict[tuple[int, int], tuple[int, str]]:
    """``(dev, inode) -> (bytes, one path)`` for every regular file under
    ``root``; hardlinked files appear once."""
    out = {}
    for dirpath, _, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.lstat(p)
            except FileNotFoundError:
                continue
            out[(st.st_dev, st.st_ino)] = (st.st_size, p)
    return out


def tree_bytes(root: str) -> int:
    return sum(b for b, _ in inodes(root).values())


class RssSampler:
    """Peak resident set of this process and all its descendants (the JVM
    and its Python workers), sampled from /proc on a background thread."""

    def __init__(self, interval: float = 0.2) -> None:
        self.interval = interval
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _loop(self) -> None:
        while not self._stop.wait(self.interval):
            self.sample()

    def sample(self) -> None:
        parent: dict[int, int] = {}
        for e in os.listdir("/proc"):
            if not e.isdigit():
                continue
            try:
                with open(f"/proc/{e}/stat") as f:
                    # the command name may hold spaces: split after it
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            parent[int(e)] = ppid
        me = os.getpid()
        tree = {me}
        grew = True
        while grew:
            grew = False
            for p, pp in parent.items():
                if pp in tree and p not in tree:
                    tree.add(p)
                    grew = True
        total = 0
        for p in tree:
            try:
                with open(f"/proc/{p}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                continue
        self.peak_bytes = max(self.peak_bytes, total)


def cpu_ticks() -> dict[str, int]:
    """Host-wide steal and iowait ticks from /proc/stat, reported next to
    the metrics as context only."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        return {"iowait": int(parts[5]), "steal": int(parts[8])}
    except (OSError, ValueError, IndexError):
        return {}
