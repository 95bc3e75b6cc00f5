"""Process-level plumbing for the benchmark: the Spark session and its
shutdown, the host fingerprint and calibration, the memory sampler and
the event-log parser.

Nothing here times an engine call; the workloads do that.  Everything
the benchmark writes stays under the work directory it is handed.
"""

from __future__ import annotations

import glob
import json
import os
import platform
import re
import subprocess
import tempfile
import threading
import time
from collections import defaultdict

import numpy as np

MB = 1024.0 * 1024.0


# ---------------------------------------------------------------- host

def affinity_cpus() -> int:
    return len(os.sched_getaffinity(0))


def mem_total_mb() -> float:
    with open("/proc/meminfo") as fh:
        for line in fh:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


def java_version() -> str:
    try:
        out = subprocess.run(["java", "-XX:-UsePerfData", "-version"],
                             capture_output=True,
                             text=True, timeout=30)
    except (OSError, subprocess.TimeoutExpired):
        return "unknown"
    m = re.search(r'version "([^"]+)"', out.stderr)
    return m.group(1) if m else "unknown"


def fingerprint() -> dict:
    import duckdb
    import pyarrow
    import pyspark
    return {
        "affinity_cpus": affinity_cpus(),
        "mem_total_mb": round(mem_total_mb(), 1),
        "machine": platform.machine(),
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "numpy": np.__version__,
        "duckdb": duckdb.__version__,
        "java": java_version(),
    }


def calibrate() -> float:
    """Wall seconds of a fixed single-threaded numpy loop (sort + small
    matmul).  Recorded before and after every run: when a layer's wall
    moves together with this number, the host moved, not the program."""
    rng = np.random.default_rng(0)
    a = rng.random(400_000)
    m = rng.random((160, 160))
    t0 = time.perf_counter()
    for _ in range(6):
        np.sort(a)
        m = (m @ m) / 160.0
    return time.perf_counter() - t0


def cpu_jiffies() -> tuple[int, int]:
    """(total, steal) jiffies from the aggregate line of /proc/stat."""
    with open("/proc/stat") as fh:
        vals = [int(v) for v in fh.readline().split()[1:]]
    steal = vals[7] if len(vals) > 7 else 0
    return sum(vals[:8]), steal


def steal_pct(before: tuple[int, int], after: tuple[int, int]) -> float:
    total = after[0] - before[0]
    return 100.0 * (after[1] - before[1]) / total if total > 0 else 0.0


# ------------------------------------------------------- process tree

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = defaultdict(list)
    for stat in glob.glob("/proc/[0-9]*/stat"):
        try:
            with open(stat) as fh:
                raw = fh.read()
        except OSError:
            continue
        # comm may hold spaces and parentheses: split after the last ')'
        fields = raw[raw.rfind(")") + 2:].split()
        kids[int(fields[1])].append(int(stat.split("/")[2]))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        for c in kids.get(p, ()):
            out.append(c)
            todo.append(c)
    return out


_TICK = os.sysconf("SC_CLK_TCK")


def tree_cpu_s() -> float:
    """CPU seconds (user + system, own and reaped children's) of this
    process and all its descendants.  Steal time is not in it."""
    total = 0
    me = os.getpid()
    for p in [me, *descendants(me)]:
        try:
            with open(f"/proc/{p}/stat") as fh:
                raw = fh.read()
        except OSError:
            continue
        f = raw[raw.rfind(")") + 2:].split()
        total += int(f[11]) + int(f[12]) + int(f[13]) + int(f[14])
    return total / _TICK


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the summed VmRSS of this process and all its descendants
    (the JVM and the Python workers it forks) every ``period`` seconds.
    Shared pages count once per process."""

    def __init__(self, period: float = 0.5):
        self.period = period
        self.samples_kb: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        me = os.getpid()
        self.samples_kb.append(sum(_rss_kb(p) for p in [me, *descendants(me)]))

    def _loop(self) -> None:
        while not self._stop.wait(self.period):
            self._sample()

    def __enter__(self):
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self._sample()
        return False

    @property
    def peak_mb(self) -> float:
        return max(self.samples_kb) / 1024.0

    @property
    def median_mb(self) -> float:
        """Typical resident memory: steadier than the peak, which one
        extra forked Python worker or one GC cycle can move by 20%."""
        s = sorted(self.samples_kb)
        return s[len(s) // 2] / 1024.0


# -------------------------------------------------------------- spark

def start_spark(work: str, cpus: int):
    """One warmed JVM per run, ``local[cpus]``, every scratch directory
    under ``work``, the event log on (it is the source of the exchange,
    job, Arrow and I/O counts)."""
    if cpus > affinity_cpus():
        raise SystemExit(f"refusing local[{cpus}]: only {affinity_cpus()} "
                         "CPUs in this process's affinity mask")
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    events = os.path.join(work, "eventlog")
    for d in (tmp, local, events):
        os.makedirs(d, exist_ok=True)
    pypath = os.environ.get("PYTHONPATH", "")
    os.environ.update({
        "PYTHONPATH": root + (os.pathsep + pypath if pypath else ""),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", "python3"),
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # every JVM (launcher and driver): no hsperfdata under /tmp
        "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
        "CESIUM_SPARK_DRIVER_MEM": "1g",
    })
    tempfile.tempdir = tmp   # gettempdir() may have cached /tmp already
    from cesium_spark.session import get_spark
    spark = get_spark(master=f"local[{cpus}]", app_name="perfbench",
                      extra_conf={
                          "spark.ui.showConsoleProgress": "false",
                          "spark.local.dir": local,
                          "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                          "spark.eventLog.enabled": "true",
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false",
                          "spark.eventLog.dir": "file://" + events,
                      })
    spark.sparkContext.setLogLevel("ERROR")
    return spark, events


def stop_spark(spark) -> None:
    """Stop the context, close the gateway and wait for the JVM and every
    Python worker it forked to exit."""
    from pyspark import SparkContext
    me = os.getpid()
    procs = descendants(me)
    gw = SparkContext._gateway
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while True:
        alive = [p for p in procs if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
        if not alive:
            return
        if time.monotonic() > deadline:
            for p in alive:
                try:
                    os.kill(p, 9)
                except ProcessLookupError:
                    pass
            deadline = time.monotonic() + 10
        time.sleep(0.1)


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as fh:
            raw = fh.read()
        return raw[raw.rfind(")") + 2]
    except OSError:
        return "Z"


def noop(df) -> None:
    """Run a plan to Spark's noop sink: full execution, no write."""
    df.write.format("noop").mode("overwrite").save()


# ------------------------------------------------------- event log

_ARROW_TO = "data sent to Python workers"
_ARROW_FROM = "data returned from Python workers"
_FILES_READ = "number of files read"


def _plan_walk(info: dict):
    yield info
    for child in info.get("children", ()):
        yield from _plan_walk(child)


class EventLog:
    """Per-tag totals from the session's event log.  A tag is the job
    group the benchmark sets around each call (``harness.tagged``); SQL
    executions are matched to it by their description."""

    def __init__(self, events_dir: str):
        self.by_tag: dict[str, dict[str, float]] = defaultdict(
            lambda: defaultdict(float))
        files = [f for f in glob.glob(os.path.join(events_dir, "**"),
                                      recursive=True)
                 if os.path.isfile(f) and "appstatus" not in os.path.basename(f)]
        for path in sorted(files):
            self._parse(path)

    def _parse(self, path: str) -> None:
        stage_tag: dict[int, str] = {}
        exec_tag: dict[int, str] = {}
        exec_plan: dict[int, dict] = {}
        accum_name: dict[int, str] = {}
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event", "")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    tag = props.get("spark.jobGroup.id")
                    if tag:
                        self.by_tag[tag]["jobs"] += 1
                        for s in ev.get("Stage IDs", ()):
                            stage_tag.setdefault(s, tag)
                elif kind == "SparkListenerTaskEnd":
                    tag = stage_tag.get(ev.get("Stage ID"))
                    if tag is None:
                        continue
                    agg = self.by_tag[tag]
                    m = ev.get("Task Metrics") or {}
                    agg["records_read"] += (m.get("Input Metrics") or {}).get("Records Read", 0)
                    agg["shuffle_written"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    for acc in (ev.get("Task Info") or {}).get("Accumulables", ()):
                        name = acc.get("Name")
                        if name in (_ARROW_TO, _ARROW_FROM):
                            agg[name] += float(acc.get("Update") or 0)
                elif kind.endswith("SparkListenerSQLExecutionStart"):
                    eid = ev["executionId"]
                    exec_tag[eid] = ev.get("description", "")
                    exec_plan[eid] = ev.get("sparkPlanInfo") or {}
                    self._names(exec_plan[eid], accum_name)
                elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                    eid = ev["executionId"]
                    exec_plan[eid] = ev.get("sparkPlanInfo") or {}
                    self._names(exec_plan[eid], accum_name)
                elif kind.endswith("SparkListenerDriverAccumUpdates"):
                    tag = exec_tag.get(ev.get("executionId"))
                    if not tag:
                        continue
                    for acc_id, val in ev.get("accumUpdates", ()):
                        if accum_name.get(acc_id) == _FILES_READ:
                            self.by_tag[tag]["files_read"] += val
        for eid, plan in exec_plan.items():
            tag = exec_tag.get(eid)
            if tag:
                n = sum(1 for node in _plan_walk(plan)
                        if node.get("nodeName") == "Exchange")
                self.by_tag[tag]["exchanges"] = max(
                    self.by_tag[tag]["exchanges"], n)

    @staticmethod
    def _names(plan: dict, out: dict[int, str]) -> None:
        for node in _plan_walk(plan):
            for metric in node.get("metrics", ()):
                out[metric["accumulatorId"]] = metric["name"]

    def get(self, tag: str, key: str) -> float:
        return float(self.by_tag.get(tag, {}).get(key, 0.0))

    def total(self, prefix: str, key: str) -> float:
        return float(sum(v.get(key, 0.0) for t, v in self.by_tag.items()
                         if t.startswith(prefix)))


class tagged:
    """Context manager: every Spark job started inside carries ``tag`` as
    its job group and description, so the event log attributes it."""

    def __init__(self, spark, tag: str):
        self.sc = spark.sparkContext
        self.tag = tag

    def __enter__(self):
        self.sc.setJobGroup(self.tag, self.tag)
        return self

    def __exit__(self, *exc):
        self.sc.setLocalProperty("spark.jobGroup.id", None)
        self.sc.setLocalProperty("spark.job.description", None)
        return False
