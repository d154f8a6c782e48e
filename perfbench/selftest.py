#!/usr/bin/env python3
"""Fast self-test of the benchmark at the sf0.001 sizes (scale 0.01), one
cycle per run, all runs in one Spark session:

    python3 perfbench/selftest.py

For each workload it checks that every metric named in BENCHMARK.json is
printed (untraced and traced), that the same seed reproduces the same op
sequence and another seed does not, and that the correctness gate catches a
deliberately wrong expected row. Exits 0 when every check holds.
"""

from __future__ import annotations

import json
import os
import shutil
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench import run as R  # noqa: E402


def main() -> int:
    work = R.prepare("selftest")
    if work is None:
        return 2
    with open(os.path.join(R.ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = [m["name"] for m in spec["end_to_end"]]
    layers = [m["name"] for m in spec["per_layer"]]
    problems = []

    def check(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    check(e2e == [n for n, _ in R.END_TO_END], "BENCHMARK.json end_to_end")
    check(layers == list(R.PER_LAYER), "BENCHMARK.json per_layer")
    check([w["name"] for w in spec["workloads"]] == ["positional_read",
                                                     "mutation_mix"],
          "BENCHMARK.json workloads")
    spark = R._spark(work)
    try:
        for w in ("positional_read", "mutation_mix"):
            def once(seed, trace, corrupt_at=None, tag=""):
                sub = os.path.join(work, f"{w}-{tag}")
                os.makedirs(sub)
                return R.run(w, seed, 0, trace, scale=0.01, max_cycles=1,
                             spark=spark, work=sub, corrupt_at=corrupt_at)

            res, _, a = once(7, False, tag="a")
            check(res["correct"] and res["failed"] == 0
                  and res["attempted"] > 0, f"{w}: clean run is correct")
            check(list(res["metrics"]) == e2e,
                  f"{w}: prints every end-to-end metric")
            res, _, b = once(7, True, tag="b")
            check(list(res["metrics"]) == layers,
                  f"{w}: traced run prints every per-layer metric")
            check(a.log == b.log and len(a.log) > 0,
                  f"{w}: same seed, same op sequence")
            res, _, c = once(8, False, corrupt_at=0, tag="c")
            check(c.log != a.log, f"{w}: another seed, another op sequence")
            check(not res["correct"] and res["failed"] == 1
                  and "CheckFailed" in c.errors[0],
                  f"{w}: the gate catches a wrong expected row")
    finally:
        R._stop(spark)
        shutil.rmtree(work, ignore_errors=True)
    print("selftest", "FAILED: " + "; ".join(problems) if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
