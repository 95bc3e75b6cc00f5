#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload {backfill,resume} \\
        --seed N --seconds S --trace {0,1}

Run from the repository root.  Builds the seeded inputs, sets the
workload up, times its operation for ``--seconds`` seconds of op wall,
checks every output, and prints two JSON lines: a detail record (host
fingerprint, counts, every metric it measured) and, last, the result
``{"correct", "attempted", "failed", "metrics"}``.  ``--trace 0`` reports
the ``end_to_end`` metrics of BENCHMARK.json, ``--trace 1`` the
``per_layer`` ones.  See perfbench/NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

# One BLAS thread, as in the engine's Python workers (cesium_spark.session),
# set before numpy loads: the output checks re-derive kernel values in
# this process and must run the same arithmetic to compare bit for bit.
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"


class State:
    """Everything one workload run measured before the session stops."""


def _workloads():
    import workloads
    return {"backfill": workloads.Backfill, "resume": workloads.Resume}


def execute(spark, name: str, seed: int, seconds: float, trace: bool,
            scale, work: str) -> State:
    import harness
    import workloads
    from tracing import Tracer

    tracer = Tracer(name, enabled=False)   # spans only around timed ops and probes
    run = workloads.Run(spark, tracer, name, work, seed, scale)
    w = _workloads()[name](run)
    st = State()
    st.name, st.run, st.workload, st.tracer, st.trace = name, run, w, tracer, trace
    st.calib_before = harness.calibrate()
    jiffies = harness.cpu_jiffies()

    t0 = time.perf_counter()
    with run.tagged("input"):
        workloads.build_input(run, w.input)
    st.synth = time.perf_counter() - t0
    st.setup = []
    for rep in range(scale.setup_reps):
        t0 = time.perf_counter()
        w.setup(rep)
        st.setup.append(time.perf_counter() - t0)
    t0 = time.perf_counter()
    w.warm()
    st.warm = time.perf_counter() - t0

    st.walls, st.cpu, st.traced, st.tags, st.written = [], [], [], [], []
    st.failed_ops = 0
    # a traced run times one op more, so that two of its ops are traced
    min_ops = scale.min_ops + trace
    t_loop = time.perf_counter()
    with harness.RssSampler() as rss:
        while ((sum(st.walls) < seconds or len(st.walls) < min_ops)
               and time.perf_counter() - t_loop < 3 * seconds + 30):
            i = len(st.walls)
            tag = f"op{i}"
            # traced runs alternate traced and untraced ops: the wall
            # difference between the two is the tracing overhead
            tracer.enabled = trace and i % 2 == 0
            tracer.iteration = i
            w.before_op()
            since = time.time_ns()
            cpu0 = harness.tree_cpu_s()
            t0 = time.perf_counter()
            try:
                with tracer.span("op"):
                    w.op(tag)
                ok = True
            except Exception:  # a failed op is counted, the loop goes on
                traceback.print_exc(file=sys.stderr)
                ok = False
            st.walls.append(time.perf_counter() - t0)
            st.cpu.append(harness.tree_cpu_s() - cpu0)
            st.traced.append(tracer.enabled)
            st.tags.append(f"{name}.{tag}")
            st.written.append(workloads.written_mb(w.root, since))
            if ok:
                w.check_op(tag)
            else:
                st.failed_ops += 1
    tracer.enabled = trace
    st.peak_rss_mb = rss.peak_mb
    st.rss_mb = rss.median_mb

    with run.tagged("check"):
        w.check_final()
    st.bytes_per_point = w.bytes_per_point()
    st.layer = {}
    st.probe_tags = w.probes(st.layer) if trace else []
    st.turns = scale.turns
    st.calib_after = harness.calibrate()
    st.steal_pct = harness.steal_pct(jiffies, harness.cpu_jiffies())
    return st


def _ev_sum(ev, tag: str, key: str) -> float:
    """Event-log total of ``key`` over job group ``tag`` and its sub-tags."""
    return ev.get(tag, key) + ev.total(tag + ".", key)


def finish(st: State, ev) -> dict:
    """All metrics of one run: end-to-end always, per-layer if traced."""
    from harness import MB
    walls, tags = st.walls, st.tags
    m = {
        "setup_s": statistics.median(st.setup),
        "turns_per_s": st.turns * len(walls) / sum(walls),
        "bytes_per_point": st.bytes_per_point,
        "written_mb": statistics.median(sum(w.values()) for w in st.written),
        "rss_mb": st.rss_mb,
    }
    if not st.trace:
        return m
    layer = dict(st.layer)
    traced = [w for w, t in zip(walls, st.traced) if t]
    untraced = [w for w, t in zip(walls, st.traced) if not t]
    ops = st.tracer.durations("op")
    glue = st.tracer.self_times().get("op", [])
    layer.update({
        "host.calib_s_before": st.calib_before,
        "host.calib_s_after": st.calib_after,
        "host.steal_pct": st.steal_pct,
        "trace.overhead_pct": (100.0 * (statistics.median(traced)
                                        / statistics.median(untraced) - 1.0)
                               if traced and untraced else 0.0),
        "trace.glue_pct": 100.0 * statistics.median(
            g / d for g, d in zip(glue, ops)),
        "sources.synth_s": st.synth,
        "warmup_s": st.warm,
        "op_s": statistics.median(walls),
        "cpu.turns_per_cpu_s": st.turns * len(walls) / sum(st.cpu),
        "cpu.parallelism": sum(st.cpu) / sum(walls),
        "mem.peak_rss_mb": st.peak_rss_mb,
        "arrow.mb_to_python": statistics.median(
            _ev_sum(ev, t, "data sent to Python workers") / MB for t in tags),
        "arrow.mb_from_python": statistics.median(
            _ev_sum(ev, t, "data returned from Python workers") / MB for t in tags),
        "shuffle.mb_written": statistics.median(
            _ev_sum(ev, t, "shuffle_written") / MB for t in tags),
        "spark.jobs_per_op": statistics.median(_ev_sum(ev, t, "jobs") for t in tags),
        "derive.exchanges": ev.get(f"{st.name}.probe.derive", "exchanges"),
        f"drift.{st.name}": walls[-1] / walls[0],
    })
    for table in st.written[0]:
        layer[f"table_io.written_mb.{table}"] = statistics.median(
            w.get(table, 0.0) for w in st.written)
    if st.name == "backfill":
        layer["rollup.exchanges"] = statistics.median(
            ev.get(f"{t}.rollup", "exchanges") for t in tags)
        for s in st.workload.STAGES:
            d = st.tracer.durations(s)
            layer[f"drift.{s}"] = d[-1] / d[0]
    if st.name == "resume":
        layer["pipeline.spark_jobs"] = layer["spark.jobs_per_op"]
        reads = st.probe_tags
        layer["read.rows_scanned_per_row"] = (
            sum(_ev_sum(ev, t, "records_read") for t in reads)
            / max(1, layer.pop("_read_rows")))
        layer["read.files_scanned"] = statistics.mean(
            _ev_sum(ev, t, "files_read") for t in reads)
    return {**m, **layer}


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


def result_line(st: State, metrics: dict, spec: dict) -> dict:
    names = spec["per_layer" if st.trace else "end_to_end"]
    out = {}
    for entry in names:
        v = metrics.get(entry["name"], 0.0)
        out[entry["name"]] = {"value": float(v), "unit": entry["unit"]}
    attempted = len(st.walls) + st.run.checks
    failed = st.failed_ops + len(st.run.check_failures)
    return {"correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": out}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=["backfill", "resume"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cesium_spark", "__init__.py")):
        print(f"perfbench: no cesium_spark package under {ROOT}; run from "
              "the repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import harness
    import workloads

    spec = _spec()
    scale = workloads.FULL
    cpus = min(scale.cpus, harness.affinity_cpus())
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        fp = harness.fingerprint()
        spark, events = harness.start_spark(work, cpus)
        try:
            st = execute(spark, args.workload, args.seed, args.seconds,
                         bool(args.trace), scale, work)
        finally:
            harness.stop_spark(spark)
        metrics = finish(st, harness.EventLog(events))
        result = result_line(st, metrics, spec)
        detail = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "seconds": args.seconds, "host": fp, "turns": st.turns,
            "ops": len(st.walls), "op_walls_s": st.walls, "op_cpu_s": st.cpu,
            "setup_walls_s": st.setup, "checks": st.run.checks,
            "check_failures": st.run.check_failures[:10],
            "error_rate": result["failed"] / result["attempted"],
            "host_calib_s": [st.calib_before, st.calib_after],
            "host_steal_pct": st.steal_pct,
            "metrics": metrics,
        }
        os.makedirs(os.path.join(base, "results"), exist_ok=True)
        stem = os.path.join(base, "results",
                            f"{args.workload}-seed{args.seed}-trace{args.trace}")
        with open(stem + ".json", "w") as fh:
            json.dump(detail, fh, indent=1)
        if args.trace:
            st.tracer.dump(stem + ".spans.json")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
