#!/usr/bin/env python3
"""Tiny-size smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs both workloads traced, at 1,200 turns on ``local[2]`` in one Spark
session, with every output check and every per-layer probe (the read
probe included), then checks that each run is correct and reports every
metric BENCHMARK.json names as a finite number.  Exits 0 on success.
"""

from __future__ import annotations

import math
import os
import shutil
import sys

import run  # sets the single-thread BLAS environment before numpy loads


def main() -> int:
    sys.path.insert(0, run.ROOT)
    import harness
    import workloads

    spec = run._spec()
    e2e = {e["name"] for e in spec["end_to_end"]}
    per_layer = {e["name"] for e in spec["per_layer"]}
    measured: set[str] = set()
    base = os.path.join(run.ROOT, ".perfbench", f"smoke-{os.getpid()}")
    shutil.rmtree(base, ignore_errors=True)
    problems = []
    try:
        spark, events = harness.start_spark(base, workloads.SMOKE.cpus)
        states = []
        try:
            for name in sorted(run._workloads()):
                work = os.path.join(base, name)
                os.makedirs(work)
                states.append(run.execute(spark, name, seed=0, seconds=1.0,
                                          trace=True, scale=workloads.SMOKE,
                                          work=work))
        finally:
            harness.stop_spark(spark)
        ev = harness.EventLog(events)
        for st in states:
            metrics = run.finish(st, ev)
            res = run.result_line(st, metrics, spec)
            print(f"{st.name}: attempted={res['attempted']} failed={res['failed']} "
                  f"checks={st.run.checks}")
            if not res["correct"] or res["failed"]:
                problems.append(f"{st.name}: {st.run.check_failures}")
            measured |= set(metrics)
            bad = [n for n, v in metrics.items() if not math.isfinite(v)]
            if e2e - set(metrics) or bad:
                problems.append(f"{st.name}: no {sorted(e2e - set(metrics))}, "
                                f"not finite {bad}")
        # each per-layer metric is measured by at least one workload
        if per_layer - measured:
            problems.append(f"per-layer metrics no workload measures: "
                            f"{sorted(per_layer - measured)}")
    finally:
        shutil.rmtree(base, ignore_errors=True)
    for p in problems:
        print("FAIL", p)
    print("smoke:", "FAIL" if problems else "ok")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
