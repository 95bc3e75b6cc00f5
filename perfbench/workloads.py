"""The workloads, ``backfill`` and ``resume``, and the read probe.

Each workload has the same shape:

* ``build_input`` — the seeded transcripts, generated once per run;
* ``setup``   — from those transcripts to the state the timed operation
  starts from, repeated ``scale.setup_reps`` times on fresh roots
  (``setup_s`` is the median);
* ``warm``    — one untimed operation, so JIT and Python-worker imports
  are paid before timing;
* ``op``      — the timed operation, repeated until the summed op wall
  reaches ``--seconds``; every op's output is checked;
* ``probes``  — traced runs only: per-layer measurements made by calling
  the engine's public functions on the same tables (for ``resume`` this
  includes the per-conversation read probe, see NOTES.md).

Only engine calls are timed.  Every call is wrapped in a span (traced
runs) and in a job group (all runs) so the event log attributes its
Spark jobs, exchanges, Arrow bytes and I/O to it.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from cesium_spark.codecs.chunks import (
    compression_metrics,
    decode_chunks,
    encode_chunks,
)
from cesium_spark.codecs.gorilla import (
    decode_timestamps_many,
    decode_values_many,
    encode_timestamps,
    encode_values,
)
from cesium_spark.functions.batched import compute_features_matrix
from cesium_spark.functions.lomb_scargle import FAST_MAX_N, ls_features
from cesium_spark.functions.registry import compute_features
from cesium_spark.operators.derive import derive_series
from cesium_spark.operators.downsample import m4_downsample
from cesium_spark.operators.gapfill import gapfill
from cesium_spark.operators.rollup import (
    GROUP_SPAN_DAYS,
    pivot_wide,
    rollup_features,
    rollup_features_multi,
)
from cesium_spark.plans.ledger import Ledger, content_checksum
from cesium_spark.plans.pipeline import LS_TIER_FEATS, run_pipeline
from cesium_spark.sources.synth import generate_transcripts
from cesium_spark.sources.table_io import TableIO

from harness import MB, noop, tagged

# the legacy bench's 21-feature kernel set (bench.py BENCH_FEATS), so
# kernel cost per window stays comparable with the BENCH_r0* history
FEATS = [
    "n_epochs", "mean", "maximum", "minimum", "amplitude", "std", "skew",
    "median", "percent_beyond_1_std", "weighted_average",
    "median_absolute_deviation", "max_slope", "stetson_j", "stetson_k",
    "total_time", "cads_avg", "cads_med", "cads_std",
    "cad_probs_10", "cad_probs_100", "cad_probs_1000",
]
TIERS = ("1m", "1h", "1d")
WIDE_TIERS = ("1h", "1d")
RESUME_TIERS = ("1h", "1d")
READ_TYPES = ("raw", "tier", "m4", "gapfill")
_NP_UNIT = {"1m": "m", "1h": "h", "1d": "D"}


@dataclass(frozen=True)
class Scale:
    turns: int            # exact transcript turns in the input table
    max_len: int          # conversation length cap passed to the generator
    cpus: int             # local[k]
    setup_reps: int       # set-ups per run; setup_s is their median
    min_ops: int          # timed ops per run even when --seconds is short
    check_windows: int    # rolled-up windows re-derived by the scalar path
    check_ls: int         # conv-tier LS rows re-derived by the scalar path
    reads_per_kind: int   # timed reads of each kind in the read probe


FULL = Scale(turns=8_000, max_len=500, cpus=4, setup_reps=3, min_ops=2,
             check_windows=60, check_ls=8, reads_per_kind=6)
SMOKE = Scale(turns=1_200, max_len=200, cpus=2, setup_reps=1, min_ops=0,
              check_windows=10, check_ls=3, reads_per_kind=1)


class Run:
    """State shared by one workload run: session, tracer, work dir."""

    def __init__(self, spark, tracer, workload: str, work: str, seed: int,
                 scale: Scale):
        self.spark = spark
        self.workload = workload
        self.tracer = tracer
        self.work = work
        self.seed = seed
        self.scale = scale
        self.checks = 0
        self.check_failures: list[str] = []

    def tagged(self, tag: str) -> tagged:
        """Spark job group ``<workload>.<tag>`` for the jobs started inside."""
        return tagged(self.spark, f"{self.workload}.{tag}")

    def call(self, tag: str, name: str, fn):
        """One engine call inside span ``name`` and job group ``tag``."""
        with self.tagged(tag), self.tracer.span(name):
            return fn()

    def timed(self, tag: str, fn) -> float:
        t0 = time.perf_counter()
        with self.tagged(tag):
            fn()
        return time.perf_counter() - t0

    def check(self, ok: bool, what: str) -> None:
        self.checks += 1
        if not ok:
            self.check_failures.append(what)


# ----------------------------------------------------------------- input

def _mean_len(max_len: int) -> float:
    # planning estimate of the generator's mean conversation length
    # (Lomax(0.85) tail, ×6, +2, clipped); only sizes the first pool
    c = (max_len - 2) / 6.0
    return 1.5 + 6.0 * ((1.0 + c) ** 0.15 - 1.0) / 0.15


def build_input(run: Run, path: str) -> None:
    """Seeded transcripts with EXACTLY ``scale.turns`` turns: the first
    conversations of the seeded generator in id order, the last one cut
    at the turn that reaches the target.  A fixed turn count keeps every
    seed's work equal, so spreads measure the program, not the input
    size (uncut, 10 seeds of 1,500 conversations spread 18% in turns)."""
    spark, sc = run.spark, run.scale
    n = max(8, int(1.6 * sc.turns / _mean_len(sc.max_len)))
    while True:
        pool = generate_transcripts(spark, n, seed=run.seed,
                                    max_len=sc.max_len).cache()
        lens = (pool.groupBy("conv_id").count().toPandas()
                .sort_values("conv_id", ignore_index=True))
        cum = lens["count"].cumsum().to_numpy()
        if cum[-1] >= sc.turns:
            break
        pool.unpersist()
        n *= 2
    k = int(np.searchsorted(cum, sc.turns))
    last = lens["conv_id"].iloc[k]
    keep = sc.turns - (int(cum[k - 1]) if k else 0)
    sel = pool.where((F.col("conv_id") < last)
                     | ((F.col("conv_id") == last) & (F.col("turn_idx") < keep)))
    sel.write.mode("overwrite").parquet(path)
    pool.unpersist()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def written_mb(root: str, since_ns: int) -> dict[str, float]:
    """MB of the files under each table of ``root`` written since
    ``since_ns`` (wall-clock ns), keyed by table name."""
    out: dict[str, float] = {}
    for table in sorted(os.listdir(root)):
        total = 0
        for d, _, files in os.walk(os.path.join(root, table)):
            for f in files:
                st = os.stat(os.path.join(d, f))
                if st.st_mtime_ns >= since_ns:
                    total += st.st_size
        out[table.strip("_")] = total / MB
    return out


def _same(a: np.ndarray, b: np.ndarray) -> bool:
    """Bitwise float equality, NaN equal to NaN."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    if a.shape != b.shape:
        return False
    both_nan = np.isnan(a) & np.isnan(b)
    return bool(np.all(both_nan | (a.view(np.int64) == b.view(np.int64))))


def _series_pdf(io: TableIO) -> pd.DataFrame:
    pdf = io.read("series").select(
        "conv_id", "channel", "turn_idx", "ts", "t", "y", "e").toPandas()
    return pdf.sort_values(["conv_id", "channel", "turn_idx"],
                           ignore_index=True)


def _check_roundtrip(run: Run, io: TableIO, series: pd.DataFrame) -> None:
    """decode(encode(series)) must restore every point bit for bit."""
    dec = decode_chunks(io.read("chunks")).toPandas().sort_values(
        ["conv_id", "channel", "turn_idx"], ignore_index=True)
    ok = (len(dec) == len(series)
          and (dec["conv_id"].to_numpy() == series["conv_id"].to_numpy()).all()
          and (dec["channel"].to_numpy() == series["channel"].to_numpy()).all()
          and (dec["turn_idx"].to_numpy() == series["turn_idx"].to_numpy()).all()
          and (dec["ts"].to_numpy("datetime64[us]")
               == series["ts"].to_numpy("datetime64[us]")).all()
          and _same(dec["y"].to_numpy(), series["y"].to_numpy()))
    run.check(ok, "decode(encode(series)) differs from series")


def _groups(series: pd.DataFrame) -> dict[tuple[str, str], pd.DataFrame]:
    return {k: g for k, g in series.groupby(["conv_id", "channel"], sort=False)}


def _check_windows(run: Run, io: TableIO, series: pd.DataFrame) -> None:
    """A seeded sample of rolled-up windows (every tier) and conv-tier
    Lomb–Scargle rows must equal the scalar ``compute_features`` path."""
    rng = np.random.default_rng([run.seed, 7])
    long = io.read("features_long")
    wins = (long.where(F.col("feature") == FEATS[0])
            .select("conv_id", "channel", "tier", "window_start")
            .toPandas().sort_values(["tier", "conv_id", "channel", "window_start"],
                                    ignore_index=True))
    pick = wins.iloc[rng.choice(len(wins), size=min(run.scale.check_windows,
                                                    len(wins)), replace=False)]
    convs = sorted(set(pick["conv_id"]))
    got = (long.where(F.col("conv_id").isin(convs)).toPandas()
           .set_index(["conv_id", "channel", "tier", "window_start", "feature"])
           ["value"])
    groups = _groups(series)
    for w in pick.itertuples(index=False):
        g = groups[(w.conv_id, w.channel)]
        ts = g["ts"].to_numpy("datetime64[us]")
        unit = _NP_UNIT[w.tier]
        start = np.datetime64(w.window_start, "us")
        sl = g[ts.astype(f"datetime64[{unit}]") == start.astype(f"datetime64[{unit}]")]
        sl = sl.sort_values("turn_idx")
        want = compute_features(sl["t"].to_numpy(), sl["y"].to_numpy(),
                                sl["e"].to_numpy(), FEATS)
        have = [got.get((w.conv_id, w.channel, w.tier, pd.Timestamp(w.window_start), f),
                        np.inf) for f in FEATS]
        run.check(_same(np.array(have), np.array([want[f] for f in FEATS])),
                  f"window {tuple(w)} differs from compute_features")
    conv = io.read("features_conv").toPandas()
    ls_convs = sorted(set(conv["conv_id"]))
    for cid in rng.choice(ls_convs, size=min(run.scale.check_ls, len(ls_convs)),
                          replace=False):
        g = groups[(cid, "latency")]
        want = compute_features(g["t"].to_numpy(), g["y"].to_numpy(),
                                g["e"].to_numpy(), LS_TIER_FEATS)
        have = conv[conv["conv_id"] == cid].set_index("feature")["value"]
        run.check(_same(np.array([have.get(f, np.inf) for f in LS_TIER_FEATS]),
                        np.array([want[f] for f in LS_TIER_FEATS])),
                  f"conv-tier LS of {cid} differs from compute_features")


def _bytes_per_point(io: TableIO) -> dict[str, float]:
    return {r["kind"]: float(r["bytes_per_point"])
            for r in compression_metrics(io.read("chunks")).collect()}


# -------------------------------------------------------------- backfill

class Backfill:
    """Bulk build from the seeded transcript table: derive → 1m/1h/1d
    kernel rollup (one exchange, ``rollup_features_multi``) → the wide
    1h/1d view (``pivot_wide``) → conv-tier Lomb–Scargle → chunk encode.
    Every stage writes its table through ``TableIO``.  The warm-up is one
    untimed build."""

    STAGES = ("derive", "rollup", "pivot", "ls", "encode")

    def __init__(self, run: Run):
        self.run = run
        self.input = os.path.join(run.work, "input")
        self.root = os.path.join(run.work, "tables")
        self.io: TableIO | None = None

    def setup(self, rep: int) -> None:
        """Land the generated transcripts as the raw table the build scans."""
        run = self.run
        self.io = TableIO(run.spark, _fresh(self.root))
        with run.tagged(f"setup{rep}.land"):
            self.raw = TableIO(run.spark, _fresh(os.path.join(run.work, "raw")))
            self.raw.write(run.spark.read.parquet(self.input), "transcripts")

    def warm(self) -> None:
        self.op("warm")

    def before_op(self) -> None:
        pass

    def op(self, tag: str) -> None:
        run, io = self.run, self.io
        tr = self.raw.read("transcripts")
        run.call(f"{tag}.derive", "derive", lambda: io.write(
            derive_series(tr).withColumn("window_date", F.col("ts").cast("date")),
            "series", partition_by=["window_date"]))
        series = io.read("series")
        run.call(f"{tag}.rollup", "rollup", lambda: io.write(
            rollup_features_multi(series, TIERS, FEATS), "features_long",
            partition_by=["tier"]))
        run.call(f"{tag}.pivot", "pivot", lambda: io.write(
            pivot_wide(io.read("features_long")
                       .where(F.col("tier").isin(*WIDE_TIERS)), FEATS),
            "features_wide"))
        run.call(f"{tag}.ls", "ls", lambda: io.write(
            rollup_features(series.where(F.col("channel") == "latency"),
                            "conv", LS_TIER_FEATS), "features_conv"))
        run.call(f"{tag}.encode", "encode", lambda: io.write(
            encode_chunks(series), "chunks"))

    def check_op(self, tag: str) -> None:
        pass  # every op rewrites the same tables: checked once, after the loop

    def check_final(self) -> None:
        self.series = _series_pdf(self.io)
        _check_roundtrip(self.run, self.io, self.series)
        _check_windows(self.run, self.io, self.series)

    def bytes_per_point(self) -> float:
        return sum(_bytes_per_point(self.io).values())

    def probes(self, layer: dict) -> list[str]:
        run, io = self.run, self.io
        spark = run.spark
        tr = self.raw.read("transcripts")
        series = io.read("series")
        # rollup as cumulative prefixes to the noop sink: scan of the
        # kernel's input columns → + hash exchange and sort → + identity
        # mapInPandas (the Arrow round trip alone) → + the real kernel.
        # The prefixes rebuild rollup_features_multi's exchange shape
        # from its public constants; the kernel step is the public call.
        keys = ["conv_id", "channel", "grp_date"]
        cols = ["conv_id", "channel", "ts", "turn_idx", "t", "y", "e"]
        scanned = series.select(*cols).withColumn(
            "grp_date", (F.datediff(F.col("ts"), F.lit("1970-01-01"))
                         / F.lit(GROUP_SPAN_DAYS)).cast("int"))
        n_parts = spark.sparkContext.defaultParallelism * 4
        sorted_ = (scanned.repartition(n_parts, *keys)
                   .sortWithinPartitions(*keys, "ts", "turn_idx"))
        identity = sorted_.mapInPandas(lambda it: it, schema=sorted_.schema)
        long = io.read("features_long").where(F.col("tier").isin(*WIDE_TIERS))
        p = {}
        for name, df in [
            ("scan", tr),
            ("derive", derive_series(tr)),
            ("encode", encode_chunks(series)),
            ("rollup_scan", scanned),
            ("exchange_sort", sorted_),
            ("identity", identity),
            ("kernel", rollup_features_multi(series, TIERS, FEATS)),
            ("long_scan", long),
            ("pivot", pivot_wide(long, FEATS)),
        ]:
            p[name] = run.timed(f"probe.{name}", lambda: noop(df))
        stage = {s: statistics.median(run.tracer.durations(s)) for s in self.STAGES}
        layer.update({
            "sources.scan_s": p["scan"],
            "derive.s": p["derive"] - p["scan"],
            "rollup.exchange_sort_s": p["exchange_sort"] - p["rollup_scan"],
            "rollup.arrow_roundtrip_s": p["identity"] - p["exchange_sort"],
            "rollup.kernel_s": p["kernel"] - p["identity"],
            "rollup.pivot_s": p["pivot"] - p["long_scan"],
            "chunks.encode_s": p["encode"],
            # parquet write minus the noop sink of the same plan
            "table_io.write_s": ((stage["derive"] - p["derive"])
                                 + (stage["rollup"] - p["kernel"])
                                 + (stage["encode"] - p["encode"])),
            "ls.conv_s": stage["ls"],
        })
        for s in self.STAGES:
            layer[f"backfill.{s}_s"] = stage[s]
        n_long = io.read("features_long").count()
        layer["rollup.windows"] = float(
            io.read("features_long").where(F.col("feature") == FEATS[0]).count())
        layer["rollup.long_rows_per_window"] = n_long / layer["rollup.windows"]
        layer["derive.rows_out"] = float(len(self.series))
        layer.update(_numpy_layers(self.series))
        for kind, v in _bytes_per_point(io).items():
            layer[f"chunks.bytes_per_point.{kind}"] = v
        return []


def _tier_windows(series: pd.DataFrame, tier: str):
    """(t, y, e, starts, ends) of one tier's windows, rows sorted the way
    the kernel sorts them: (conv, channel, ts, turn_idx)."""
    s = series.sort_values(["conv_id", "channel", "ts", "turn_idx"],
                           ignore_index=True)
    conv = s["conv_id"].to_numpy()
    chan = s["channel"].to_numpy()
    w = s["ts"].to_numpy("datetime64[us]").astype(f"datetime64[{_NP_UNIT[tier]}]")
    change = np.ones(len(s), dtype=bool)
    change[1:] = (conv[1:] != conv[:-1]) | (chan[1:] != chan[:-1]) | (w[1:] != w[:-1])
    starts = np.flatnonzero(change)
    ends = np.append(starts[1:], len(s))
    return (s["t"].to_numpy(np.float64), s["y"].to_numpy(np.float64),
            s["e"].to_numpy(np.float64), starts, ends)


def _numpy_layers(series: pd.DataFrame) -> dict[str, float]:
    """The kernels with Spark and Arrow taken away: the batched feature
    matrix, the LS fit and the Gorilla encoder, single-threaded in this
    process on the same rows."""
    out = {}
    wins, t_feat = 0, 0.0
    for tier in TIERS:
        t, y, e, starts, ends = _tier_windows(series, tier)
        t0 = time.perf_counter()
        compute_features_matrix(t, y, e, starts, ends, FEATS)
        t_feat += time.perf_counter() - t0
        wins += starts.size
    out["batched.features_s"] = t_feat
    out["batched.windows_per_s"] = wins / t_feat
    groups = _groups(series)
    lat = [g for (_, ch), g in groups.items() if ch == "latency"]
    t0 = time.perf_counter()
    for g in lat:
        ls_features(g["t"].to_numpy(), g["y"].to_numpy(), g["e"].to_numpy())
    out["ls.fit_s"] = time.perf_counter() - t0
    out["ls.series_thinned"] = float(sum(len(g) > FAST_MAX_N for g in lat))
    points, t_enc = 0, 0.0
    for g in groups.values():
        ts = g["ts"].to_numpy("datetime64[us]").view(np.int64)
        idx = g["turn_idx"].to_numpy(np.int64)
        y = g["y"].to_numpy(np.float64)
        t0 = time.perf_counter()
        encode_timestamps(ts)
        encode_timestamps(idx)
        encode_values(y)
        t_enc += time.perf_counter() - t0
        points += len(g)
    out["gorilla.encode_points_per_s"] = points / t_enc
    return out


# ---------------------------------------------------------------- resume

class Resume:
    """Crash-resume: set-up runs ``run_pipeline`` until it fails after
    ``rollup_1h`` (its ``fail_after_stage`` hook) and snapshots the table
    root.  Each op restores the snapshot (untimed), then times the
    resumed ``run_pipeline``."""

    def __init__(self, run: Run):
        self.run = run
        self.input = os.path.join(run.work, "input")
        self.snap = os.path.join(run.work, "snapshot")
        self.root = os.path.join(run.work, "tables")
        self.reports: list[dict] = []

    def _transcripts(self):
        return self.run.spark.read.parquet(self.input)

    def setup(self, rep: int) -> None:
        """Run the pipeline until its injected crash, snapshot the root."""
        run = self.run
        io = TableIO(run.spark, _fresh(self.root))
        try:
            with run.tagged(f"setup{rep}.crash"):
                run_pipeline(io, self._transcripts(), tiers=RESUME_TIERS,
                             features=FEATS, fail_after_stage="rollup_1h")
        except RuntimeError as exc:
            if "injected failure" not in str(exc):
                raise
        else:
            raise RuntimeError("run_pipeline did not stop after rollup_1h")
        shutil.rmtree(self.snap, ignore_errors=True)
        shutil.copytree(self.root, self.snap)

    def warm(self) -> None:
        """The uninterrupted computation of every table a resumed pass
        writes, by the public calls the pipeline makes (derive, per-tier
        ``rollup_features``, ``encode_chunks``), without the ledger.  It
        is the reference each resumed pass must reproduce, and it runs
        the pass's code paths once before timing."""
        run = self.run
        ref = TableIO(run.spark, _fresh(os.path.join(run.work, "reference")))
        with run.tagged("warm"):
            ref.write(derive_series(self._transcripts()), "series")
            series = ref.read("series")
            for t in RESUME_TIERS:
                ref.write(rollup_features(series, t, FEATS), f"features_{t}")
            ref.write(encode_chunks(series), "chunks")
            self.golden = self._checksums(ref)

    def before_op(self) -> None:
        shutil.rmtree(self.root, ignore_errors=True)
        shutil.copytree(self.snap, self.root)
        # run_pipeline leaves its ledger `pending` frame cached; a cached
        # plan over the replaced files would read files that are gone
        self.run.spark.catalog.clearCache()
        self.io = TableIO(self.run.spark, self.root)

    def op(self, tag: str) -> None:
        rep = self.run.call(tag, "resume", lambda: run_pipeline(
            self.io, self._transcripts(), tiers=RESUME_TIERS, features=FEATS))
        self.reports.append(rep)

    @staticmethod
    def _checksums(io: TableIO) -> dict:
        keys = ["conv_id", "channel", "window_start", "feature", "value"]
        out = {}
        for t in RESUME_TIERS:
            out[f"features_{t}"] = tuple(
                content_checksum(io.read(f"features_{t}"), keys)
                .agg(F.sum("row_crc"), F.count("*")).collect()[0])
        out["series"] = tuple(
            content_checksum(io.read("series"),
                             ["conv_id", "channel", "turn_idx", "ts", "y"])
            .agg(F.sum("row_crc"), F.count("*")).collect()[0])
        out["chunks"] = tuple(
            io.read("chunks").agg(F.sum("crc"), F.sum("n"), F.count("*")).collect()[0])
        return out

    def check_op(self, tag: str) -> None:
        """The test_resume invariant at bench scale: the resumed pass
        skipped rollup_1h and its tables equal the uninterrupted run's."""
        run = self.run
        run.check(self.reports[-1]["stages"].get("rollup_1h") == {"skipped": True},
                  "resumed pass re-ran rollup_1h")
        sums = self._checksums(self.io)
        for t, want in self.golden.items():
            run.check(sums[t] == want, f"resumed {t} differs from the uninterrupted run")

    def check_final(self) -> None:
        pass  # every op was checked

    def bytes_per_point(self) -> float:
        return sum(_bytes_per_point(self.io).values())

    def probes(self, layer: dict) -> list[str]:
        run = self.run
        io = TableIO(run.spark, self.root)   # complete: the last op resumed it
        ledger = Ledger(TableIO(run.spark, self.snap))
        series = io.read("series")
        units = series.select("window_date").distinct().withColumn("tier", F.lit("1d"))
        layer["ledger.units_skipped"] = float(
            ledger.completed_units("rollup_1h").count())
        layer["ledger.units_pending"] = float(ledger.pending(units, "rollup_1d").count())
        layer["derive.rows_out"] = float(series.count())
        tr = self._transcripts()
        p = {}
        for name, df in [("scan", tr), ("derive", derive_series(tr)),
                         ("encode", encode_chunks(series))]:
            p[name] = run.timed(f"probe.{name}", lambda: noop(df))
        tags = read_probe(run, io, layer, reads_per_kind=run.scale.reads_per_kind)
        for kind, v in _bytes_per_point(io).items():
            layer[f"chunks.bytes_per_point.{kind}"] = v
        # a pass over the complete root: every rollup unit skips, derive
        # and compress redo finished work
        run.spark.catalog.clearCache()
        with run.tagged("probe.rerun"):
            again = run_pipeline(io, tr, tiers=RESUME_TIERS, features=FEATS)
        layer["pipeline.redone_s"] = (again["stages"]["derive"]
                                      + again["stages"]["compress"]) / 1000.0
        stages: dict[str, list[float]] = {}
        for rep in self.reports:
            for s, v in rep["stages"].items():
                stages.setdefault(s, []).append(
                    0.0 if isinstance(v, dict) else v / 1000.0)
        for s in ("derive", "rollup_1h", "rollup_1d", "compress"):
            layer[f"pipeline.stage_s.{s}"] = statistics.median(stages[s])
        layer.update({
            "sources.scan_s": p["scan"],
            "derive.s": p["derive"] - p["scan"],
            "chunks.encode_s": p["encode"],
            # stage wall minus the noop sink of the same plan
            "table_io.write_s": ((layer["pipeline.stage_s.derive"] - p["derive"])
                                 + (layer["pipeline.stage_s.compress"] - p["encode"])),
        })
        return tags


# ------------------------------------------------------------ read probe

def read_probe(run: Run, io: TableIO, layer: dict, reads_per_kind: int) -> list[str]:
    """Per-conversation reads on a complete table root, one reader client
    in a closed loop: raw turns via ``decode_chunks``, 1h feature rows,
    ``m4_downsample`` 1h and ``gapfill`` 1h ffill, cycling through the
    kinds over seeded conversations.  Every raw read must equal that
    conversation's ``series`` rows.  Returns the reads' job-group tags."""
    chunks, f1h, series = io.read("chunks"), io.read("features_1h"), io.read("series")
    truth = _series_pdf(io)
    by_conv = {c: g for c, g in truth.groupby("conv_id", sort=False)}
    convs = sorted(by_conv)
    rng = np.random.default_rng([run.seed, 11])
    reads = {
        "raw": lambda c: decode_chunks(chunks.where(F.col("conv_id") == c)).toPandas(),
        "tier": lambda c: f1h.where(F.col("conv_id") == c).toPandas(),
        "m4": lambda c: m4_downsample(series.where(F.col("conv_id") == c),
                                      "1h").toPandas(),
        "gapfill": lambda c: gapfill(series.where(F.col("conv_id") == c),
                                     "1h", "ffill").toPandas(),
    }
    walls: dict[str, list[float]] = {k: [] for k in READ_TYPES}
    tags, returned = [], 0
    for i in range((reads_per_kind + 1) * len(READ_TYPES)):
        kind = READ_TYPES[i % len(READ_TYPES)]
        cid = convs[int(rng.integers(len(convs)))]
        tag = f"probe.read{i}"
        t0 = time.perf_counter()
        got = run.call(tag, f"read.{kind}", lambda: reads[kind](cid))
        wall = time.perf_counter() - t0
        want = by_conv[cid]
        if kind == "raw":
            got = got.sort_values(["channel", "turn_idx"], ignore_index=True)
            ok = (len(got) == len(want)
                  and (got["channel"].to_numpy() == want["channel"].to_numpy()).all()
                  and (got["turn_idx"].to_numpy() == want["turn_idx"].to_numpy()).all()
                  and (got["ts"].to_numpy("datetime64[us]")
                       == want["ts"].to_numpy("datetime64[us]")).all()
                  and _same(got["y"].to_numpy(), want["y"].to_numpy()))
        elif kind == "m4":
            ok = int(got["n"].sum()) == len(want)
        else:
            ok = len(got) > 0
        run.check(ok, f"{kind} read of {cid} is wrong")
        if i < len(READ_TYPES):
            continue  # the first read of each kind warms its plan
        walls[kind].append(wall)
        tags.append(f"{run.workload}.{tag}")
        returned += len(got)
    for kind, w in walls.items():
        layer[f"read.{kind}_ms"] = 1000.0 * statistics.median(w)
    layer["_read_rows"] = returned
    p = {}
    for name, crc in (("decode", True), ("decode_nocrc", False)):
        df = decode_chunks(chunks, verify_crc=crc)
        p[name] = run.timed(f"probe.{name}", lambda: noop(df))
    layer["chunks.decode_s"] = p["decode"]
    layer["chunks.crc_s"] = p["decode"] - p["decode_nocrc"]
    blobs = chunks.select("ts_blob", "idx_blob", "y_blob").toPandas()
    t0 = time.perf_counter()
    _, n = decode_timestamps_many(list(blobs["ts_blob"]))
    decode_timestamps_many(list(blobs["idx_blob"]))
    decode_values_many(list(blobs["y_blob"]))
    layer["gorilla.decode_points_per_s"] = float(np.sum(n)) / (
        time.perf_counter() - t0)
    return tags
