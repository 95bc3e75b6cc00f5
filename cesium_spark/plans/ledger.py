"""_ledger + _metrics tables: per-partition lineage and checkpoint/resume.

Work unit (the planner's IR, SURVEY.md §3.4): ``(stage, tier,
window_date)``; the compress stage is one unit with NULL tier and date.
The ledger is append-only. A finished unit appends a ``done`` row with
its row counts and a content checksum. When a unit's input changes (a
pipeline pass rewrites ``series`` on its date), the pass appends a
``stale`` row for it *before* it rewrites anything. A unit is pending
unless its LATEST row (by ``updated_at``; a tie counts as ``stale``) is
``done``: ``unit_states``, ``completed_units`` and ``pending`` all read
the ledger by that rule, so a restarted run recomputes exactly the
unfinished or invalidated partitions. Retention expiry records its
watermark as one more done unit, ``(expire_raw, NULL, watermark)``.
Output writes are idempotent per partition (dynamic partition
overwrite / Iceberg MERGE), so a crash between data-write and
ledger-append only causes a harmless recompute of that partition —
never duplication.

Metric rows are buffered and written to ``_metrics`` in ONE append per
pipeline pass (``flush_metrics``, from the pass's ``finally``), so a
pass that raises still records them. A hard kill (SIGKILL, OOM) loses
that pass's metric rows but never a ledger row: resume never reads
``_metrics``.

Checksum: sum over rows of crc32(concat of key/value string forms) —
deterministic under any row order and partitioning, cheap (JVM-side),
and sensitive to any value change; used by tests and the bench
correctness rider to prove two runs produced identical tables.
"""

from __future__ import annotations

import time
import uuid
from datetime import datetime, timezone

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cesium_spark.sources.table_io import TableIO

LEDGER_TABLE = "_ledger"
METRICS_TABLE = "_metrics"

LEDGER_SCHEMA = (
    "run_id string, stage string, tier string, window_date date, "
    "state string, in_count long, out_count long, checksum long, "
    "wall_ms long, updated_at timestamp"
)

METRICS_SCHEMA = (
    "run_id string, stage string, metric string, value double, "
    "updated_at timestamp"
)

# what ``record_done`` takes per finished unit
UNIT_SCHEMA = ("tier string, window_date date, in_count long, "
               "out_count long, checksum long")


def new_run_id() -> str:
    return uuid.uuid4().hex[:16]


def content_checksum(df: DataFrame, cols: list[str]) -> DataFrame:
    """Adds a crc32-per-row column 'row_crc' over the given columns."""
    return df.withColumn(
        "row_crc",
        F.crc32(F.concat_ws("\x1f", *[F.col(c).cast("string") for c in cols])))


class Ledger:
    def __init__(self, io: TableIO):
        self.io = io
        self.spark = io.spark
        self._metric_rows: list[tuple] = []

    def _latest(self) -> DataFrame:
        """(stage, tier, window_date, state): each unit's latest row.
        On equal ``updated_at`` the max of (updated_at, state) picks
        ``stale`` over ``done``, so a tie recomputes."""
        last = F.max(F.struct("updated_at", "state")).alias("last")
        # the ledger is small: one partition aggregates without a shuffle
        return (self.io.read(LEDGER_TABLE).coalesce(1)
                .groupBy("stage", "tier", "window_date").agg(last)
                .select("stage", "tier", "window_date",
                        F.col("last.state").alias("state")))

    def completed_units(self, stage: str) -> DataFrame:
        """(tier, window_date) units of ``stage`` whose latest row is
        done, by ANY run — checkpoint state survives process death."""
        if not self.io.exists(LEDGER_TABLE):
            return self.spark.createDataFrame([], "tier string, window_date date")
        return (self._latest()
                .where((F.col("stage") == stage) & (F.col("state") == "done"))
                .select("tier", "window_date"))

    def unit_states(self) -> dict[tuple, str]:
        """(stage, tier, window_date) → its latest state, ``done`` or
        ``stale``, for every unit in the ledger, from one scan: the
        pipeline's resume plan for a pass."""
        if not self.io.exists(LEDGER_TABLE):
            return {}
        return {(r["stage"], r["tier"], r["window_date"]): r["state"]
                for r in self._latest().collect()}

    def pending(self, units: DataFrame, stage: str) -> DataFrame:
        """Resume planner: anti-join the work list against completed."""
        return units.join(self.completed_units(stage),
                          ["tier", "window_date"], "left_anti")

    def record_stale(self, run_id: str, units: list[tuple]) -> None:
        """Appends a ``stale`` row per (stage, tier, window_date) unit,
        making it pending until a later ``done`` row; no-op when empty."""
        if units:
            now = datetime.now(timezone.utc)
            rows = [(run_id, stage, tier, date, "stale", None, None, None,
                     None, now) for stage, tier, date in units]
            self.io.write(self.spark.createDataFrame(rows, LEDGER_SCHEMA),
                          LEDGER_TABLE, mode="append")

    def record_done(self, run_id: str, stage: str, per_unit: DataFrame,
                    wall_ms: int) -> None:
        """per_unit: (tier, window_date, in_count, out_count, checksum)."""
        rows = (per_unit
                .withColumn("run_id", F.lit(run_id))
                .withColumn("stage", F.lit(stage))
                .withColumn("state", F.lit("done"))
                .withColumn("wall_ms", F.lit(wall_ms))
                .withColumn("updated_at", F.current_timestamp())
                .select("run_id", "stage", "tier", "window_date", "state",
                        "in_count", "out_count", "checksum", "wall_ms",
                        "updated_at"))
        self.io.write(rows, LEDGER_TABLE, mode="append")

    def record_metric(self, run_id: str, stage: str, metric: str,
                      value: float) -> None:
        """Buffers one ``_metrics`` row until ``flush_metrics``."""
        self._metric_rows.append((run_id, stage, metric, float(value),
                                  datetime.now(timezone.utc)))

    def flush_metrics(self) -> None:
        """Appends the buffered metric rows to ``_metrics`` in one write."""
        if self._metric_rows:
            self.io.write(self.spark.createDataFrame(self._metric_rows,
                                                     METRICS_SCHEMA),
                          METRICS_TABLE, mode="append")
            self._metric_rows = []

    def metrics(self) -> DataFrame:
        return self.io.read(METRICS_TABLE)

    def entries(self) -> DataFrame:
        return self.io.read(LEDGER_TABLE)


class StageTimer:
    def __init__(self, ledger: Ledger, run_id: str, stage: str):
        self.ledger = ledger
        self.run_id = run_id
        self.stage = stage

    def __enter__(self):
        self.t0 = time.monotonic()
        return self

    @property
    def wall_ms(self) -> int:
        return int((time.monotonic() - self.t0) * 1000)

    def __exit__(self, exc_type, exc, tb):
        self.ledger.record_metric(self.run_id, self.stage, "wall_ms",
                                  self.wall_ms)
        return False
