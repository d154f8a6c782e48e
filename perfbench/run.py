#!/usr/bin/env python3
"""Store-surface benchmark for nimhdfstore_spark.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. One process, one closed-loop client thread,
Spark on ``local[<cpus>]`` with as many shuffle partitions. Inputs are
generated from ``--seed``; the store starts empty in a fresh directory under
``.perfbench/`` and is removed at exit. Set-up (Spark session, data
generation, store build, warm-up cycles of every op type) is timed as
``setup_s``; then whole op cycles run until ``--seconds`` have passed and
at least two cycles are done.

Earlier lines of standard output give context: the workload's own metrics
(read/write latency with tail percentile and sample count, write and space
amplification, per-step rows/s), host steal and iowait ticks, and the first
errors. The last line is the result:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). The
traced run also writes its spans to ``.perfbench/trace-<workload>-<seed>.json``.
The exit code is 0 only when every op succeeded and matched the model.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT_DIR = os.path.join(ROOT, ".perfbench")

#: (name, unit); every run prints all of them, whatever the workload
END_TO_END = [
    ("setup_s", "s"),
    ("ops_per_s", "1/s"),
    ("op_p50_ms", "ms"),
    ("space_amp", "ratio"),
]

#: per-layer metric -> (unit, source). Sources: ``("span", name, scale)``
#: is the median self time of that span; ``("count", name)`` the median of
#: a recorded count; ``("jobs", phase, kinds, field)`` the median of a
#: per-op Spark count over op kinds. A layer a workload leaves idle reads 0:
#: the corpus pipeline runs in positional_read's traced set-up, the HDF5
#: import and scan in mutation_mix's.
_READS = ("read.",)
_COMMITS = ("store.append", "store.update", "store.insert", "store.delete",
            "store.delete_deferred", "store.compact", "datasets.write")
PER_LAYER = {
    "store.open_ms": ("ms", ("span", "store.open", 1e3)),
    "store.keys_ms": ("ms", ("span", "store.keys", 1e3)),
    "store.read_plan_ms": ("ms", ("span", "store.read_plan", 1e3)),
    "store.read_files_per_op": ("count", ("count", "store.read_files_per_op")),
    "store.read_prune_ratio": ("ratio", ("count", "store.read_prune_ratio")),
    "spark.read_exec_ms": ("ms", ("span", "spark.read_exec", 1e3)),
    "spark.jobs_per_read": ("count", ("jobs", "measure", _READS, 0)),
    "spark.tasks_per_read": ("count", ("jobs", "measure", _READS, 2)),
    "pyds.range_read_ms": ("ms", ("span", "read.pyds", 1e3)),
    "pyds.partitions_per_read": ("count", ("count", "pyds.partitions_per_read")),
    "datasets.hyperslab_read_ms": ("ms", ("span", "read.grid", 1e3)),
    "datasets.write_ms": ("ms", ("span", "datasets.write", 1e3)),
    "store.append_ms": ("ms", ("span", "store.append", 1e3)),
    "store.update_ms": ("ms", ("span", "store.update", 1e3)),
    "store.insert_ms": ("ms", ("span", "store.insert", 1e3)),
    "store.delete_ms": ("ms", ("span", "store.delete", 1e3)),
    "store.delete_deferred_ms": ("ms", ("span", "store.delete_deferred", 1e3)),
    "store.compact_ms": ("ms", ("span", "store.compact", 1e3)),
    "store.files_written_per_commit": (
        "count", ("count", "store.files_written_per_commit")),
    "store.files_linked_per_commit": (
        "count", ("count", "store.files_linked_per_commit")),
    "store.bytes_written_per_commit": (
        "bytes", ("count", "store.bytes_written_per_commit")),
    "store.snapshot_files": ("count", ("count", "store.snapshot_files")),
    "store.meta_bytes": ("bytes", ("count", "store.meta_bytes")),
    "spark.jobs_per_commit": ("count", ("jobs", "measure", _COMMITS, 0)),
    "rowid.assign_s": ("s", ("count", "rowid.assign_s")),
    "store.put_s": ("s", ("span", "store.put", 1.0)),
    "store.put_files": ("count", ("count", "store.put_files")),
    "store.scan_s": ("s", ("span", "store.scan", 1.0)),
    "hdf5.export_s": ("s", ("span", "hdf5.export", 1.0)),
    "hdf5.import_s": ("s", ("span", "hdf5.import", 1.0)),
    "hdf5.scan_s": ("s", ("span", "hdf5.scan", 1.0)),
    "h5lite.catalog_ms": ("ms", ("count", "h5lite.catalog_ms")),
    "h5lite.bytes_written": ("bytes", ("count", "h5lite.bytes_written")),
    "sampling.sample_s": ("s", ("span", "sampling.sample", 1.0)),
    "dedup.minhash_lsh_pairs_s": ("s", ("span", "dedup.minhash_lsh_pairs", 1.0)),
    "dedup.connected_components_s": (
        "s", ("span", "dedup.connected_components", 1.0)),
    "text.quality_bpe_s": ("s", ("span", "text.quality_bpe", 1.0)),
    "dedup.embedding_lsh_pairs_s": (
        "s", ("span", "dedup.embedding_lsh_pairs", 1.0)),
    "similarity.ivf_topk_s": ("s", ("span", "similarity.ivf_topk", 1.0)),
    "dedup.pairs_out": ("count", ("count", "dedup.pairs_out")),
    "corpus.docs_kept": ("count", ("count", "corpus.docs_kept")),
    "spark.tasks_per_pipeline": ("count", ("jobs", "setup", ("corpus.x90",), 2)),
    "spark.failed_tasks": ("count", ("failed",)),
    "trace.overhead_ms_per_op": ("ms", ("overhead",)),
}

#: a run stops starting new cycles after this many seconds in all, so it
#: ends well inside the three minutes a run may take
_RUN_CAP_S = 120.0
#: cycles measured at least, whatever ``--seconds`` says, so every op type
#: has two samples or more
_MIN_CYCLES = 2


def _cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def _spark(work: str):
    from pyspark.sql import SparkSession

    n = _cpus()
    spark = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        .config("spark.driver.memory", "2g")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.retainedJobs", "100000")
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # the store's Python DataSource prunes files by pushed _rowid bounds
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.local.dir", os.path.join(work, "spark-local"))
        .config("spark.sql.warehouse.dir", os.path.join(work, "warehouse"))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _stop(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python workers) to
    exit."""
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:  # noqa: BLE001 - last resort on a stuck JVM
            proc.kill()
            proc.wait(timeout=30)


def _round(x: float) -> float:
    return float(f"{x:.6g}")


def run(workload: str, seed: int, seconds: float, trace: bool,
        scale: float = 1.0, max_cycles: int | None = None,
        spark=None, work: str | None = None, corrupt_at: int | None = None):
    """Run one workload and return ``(result dict, context dict, bench)``.

    ``spark``/``work``/``max_cycles``/``corrupt_at`` let the self-test reuse
    one session and run a few cycles; the command line never sets them."""
    from perfbench.measure import (
        JobAccounting, RssSampler, Tracer, cpu_ticks, tree_bytes)
    from perfbench.workloads import WORKLOADS

    t_start = time.perf_counter()
    own = spark is None
    tracer = Tracer(trace)
    ticks0 = cpu_ticks()
    with RssSampler() as rss:
        if own:
            spark = _spark(work)
        try:
            jobs = JobAccounting(spark, trace)
            bench = WORKLOADS[workload](spark, work, seed, scale, tracer, jobs)
            parts = {"spark_s": time.perf_counter() - t_start}
            bench.setup()
            parts["store_s"] = time.perf_counter() - t_start - parts["spark_s"]
            bench.enter("warmup")
            bench.warmup()
            setup_s = time.perf_counter() - t_start
            parts["warmup_s"] = setup_s - parts["store_s"] - parts["spark_s"]
            bench.enter("measure")
            tracer.overhead_s = 0.0
            warm_failed = bench.failed
            t0 = time.perf_counter()
            k = 0
            while True:
                if corrupt_at is not None and k == corrupt_at:
                    bench.corrupt_next = True
                bench.cycle(k)
                k += 1
                now = time.perf_counter()
                if max_cycles is not None:
                    if k >= max_cycles:
                        break
                elif k >= _MIN_CYCLES and (
                        now - t0 >= seconds or now - t_start >= _RUN_CAP_S):
                    break
            measured_s = time.perf_counter() - t0
            store_bytes = tree_bytes(bench.root)
            live = bench.live_bytes()
            spark_counts = jobs.summarize() if trace else {}
        finally:
            if own:
                _stop(spark)
    ticks1 = cpu_ticks()

    ctx = _context(bench, setup_s, measured_s, k, store_bytes, live,
                   rss.peak_bytes, ticks0, ticks1, warm_failed)
    ctx["setup_parts"] = {k: _round(v) for k, v in parts.items()}
    if trace:
        metrics = _per_layer(tracer, spark_counts, bench)
        ctx["traced_end_to_end"] = _end_to_end(
            bench, setup_s, measured_s, store_bytes, live)
    else:
        metrics = _end_to_end(bench, setup_s, measured_s, store_bytes, live)
    result = {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": metrics,
    }
    return result, ctx, bench


def _primary(bench, kind: str) -> bool:
    """Whether ``kind`` is one of the ops the workload is measured by: reads
    on positional_read, mutations on mutation_mix."""
    return kind.startswith("read.") == (bench.primary == "read")


def _samples(bench, pred) -> list[tuple[float, int]]:
    return [s for kind, ss in bench.samples["measure"].items() if pred(kind)
            for s in ss]


def _end_to_end(bench, setup_s, measured_s, store_bytes, live) -> dict:
    from perfbench.measure import median

    # ops_per_s: reads (positional_read) or commits (mutation_mix) completed
    # over the measured wall time, the reads after commits included.
    # op_p50_ms: the median of per op type medians. The types' latencies
    # form separate clusters, so a median pooled over the mix falls in a
    # gap between two of them and jumps from run to run.
    ops = [ss for k, ss in bench.samples["measure"].items()
           if _primary(bench, k)]
    vals = {
        "setup_s": setup_s,
        "ops_per_s": sum(len(ss) for ss in ops) / measured_s,
        "op_p50_ms": median([median([s for s, _ in ss]) for ss in ops]) * 1e3,
        "space_amp": store_bytes / max(live, 1),
    }
    return {n: {"value": _round(vals[n]), "unit": u} for n, u in END_TO_END}


def _latency(samples) -> dict:
    from perfbench.measure import median, tail

    secs = [s for s, _ in samples]
    if not secs:
        return {}
    t, pct, n = tail(secs)
    return {
        "ops_per_s": _round(len(secs) / sum(secs)),
        "p50_ms": _round(median(secs) * 1e3),
        "tail_ms": None if t is None else _round(t * 1e3),
        "tail_percentile": pct,
        "samples": n,
    }


def _context(bench, setup_s, measured_s, cycles, store_bytes, live, peak,
             ticks0, ticks1, warm_failed) -> dict:
    """The workload's own metrics under the names of the store's
    operations, printed before the result line."""
    from perfbench.measure import median

    reads = _samples(bench, lambda k: k.startswith("read."))
    writes = _samples(bench, lambda k: k in _COMMITS)
    ctx = {
        "workload": bench.name,
        "seed": bench.seed,
        "cycles": cycles,
        "measured_s": _round(measured_s),
        "setup_s": _round(setup_s),
        "read": _latency(reads),
        "write": _latency(writes),
        "p50_ms_by_type": {
            k: _round(median([s for s, _ in ss]) * 1e3)
            for k, ss in sorted(bench.samples["measure"].items())},
        "failed_op_ratio": bench.failed / max(bench.attempted, 1),
        "warmup_failed": warm_failed,
        "space_amp": _round(store_bytes / max(live, 1)),
        "peak_rss_mb": _round(peak / 2**20),
        "host_ticks": {k: ticks1.get(k, 0) - ticks0.get(k, 0) for k in ticks0},
    }
    if writes:
        ctx["write_amp"] = _round(bench.written_bytes / max(bench.payload_bytes, 1))
    # bulk legs run once, during set-up; import, HDF5 scan and the corpus
    # pipeline in the traced run only
    for kind, name in (("store.put", "ingest_rows_per_s"),
                       ("store.scan", "scan_rows_per_s"),
                       ("hdf5.export", "h5_export_rows_per_s"),
                       ("hdf5.import", "h5_import_rows_per_s"),
                       ("hdf5.scan", "h5_scan_rows_per_s"),
                       ("corpus.x90", "corpus_docs_per_s")):
        ss = bench.samples["setup"].get(kind)
        if ss:
            ctx[name] = _round(sum(r for _, r in ss) / sum(s for s, _ in ss))
    if bench.errors:
        ctx["errors"] = bench.errors
    return ctx


def _per_layer(tracer, spark_counts, bench) -> dict:
    from perfbench.measure import median

    # set-up spans carry the bulk legs; warm-up spans are cold and dropped
    phases = ("setup", "measure")
    selfs = tracer.self_times(phases)
    n_ops = sum(len(v) for v in bench.samples["measure"].values())
    out = {}
    for name, (unit, src) in PER_LAYER.items():
        if src[0] == "span":
            v = median(selfs.get(src[1], [])) * src[2]
        elif src[0] == "count":
            v = median(tracer.values(src[1], phases))
        elif src[0] == "jobs":
            phase, kinds, field = src[1:]
            v = median([
                c[field] for kind, cs in spark_counts.get(phase, {}).items()
                if kind.startswith(kinds) for c in cs
            ])
        elif src[0] == "failed":
            v = sum(c[3] for by_kind in spark_counts.values()
                    for cs in by_kind.values() for c in cs)
        else:  # overhead
            v = tracer.overhead_s * 1e3 / max(n_ops, 1)
        out[name] = {"value": _round(v), "unit": unit}
    return out


def prepare(tag: str) -> str | None:
    """Check the checkout, make a fresh work directory under ``.perfbench/``
    and set the environment Spark's processes inherit; ``None`` when the
    package is missing."""
    if not os.path.isdir(os.path.join(ROOT, "nimhdfstore_spark")):
        print("perfbench: the nimhdfstore_spark package is not next to "
              "perfbench/ - run from the root of a full checkout",
              file=sys.stderr)
        return None
    work = os.path.join(OUT_DIR, f"work-{tag}-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the package (the DataSource reader, rowid
    # assignment in mapInPandas): they need the checkout on their path.
    # Every process keeps its temporary files inside the checkout; for the
    # JVMs (the spark-submit launcher included) that also means no
    # /tmp/hsperfdata.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return work


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["positional_read", "mutation_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    work = prepare(args.workload)
    if work is None:
        return 2
    try:
        result, ctx, bench = run(args.workload, args.seed, args.seconds,
                                 bool(args.trace), work=work)
        if args.trace:
            bench.tracer.dump(os.path.join(
                OUT_DIR, f"trace-{args.workload}-{args.seed}.json"))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print("context " + json.dumps(ctx, sort_keys=True))
    print(json.dumps(result), flush=True)
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
