"""TableIO — the storage seam (SURVEY.md §1.2, §7.8).

Production target is **Iceberg** (BASELINE.json north_rule: "over
Iceberg tables"); the sandbox's PySpark 4.1.2 ships no Iceberg runtime
jar and has no network, so the same interface is served by a parquet
backend. All engine code goes through this seam — swapping backends is
a config, not a refactor.

Semantics provided to the engine:

- ``write`` / ``read`` — table create/append/overwrite + scan;
- ``merge_overwrite_partitions`` — idempotent window-level MERGE:
  Iceberg would use ``MERGE INTO`` / ``overwritePartitions()``; parquet
  uses Spark's *dynamic partition overwrite* (only the partitions
  present in the incoming frame are replaced) — the same idempotent
  continuous-aggregate semantics (SURVEY.md §2.9/§2.10);
- ``delete_where`` — retention expiry: Iceberg ``DELETE FROM``;
  parquet re-writes the surviving rows (sandbox scale) or drops whole
  partitions when the predicate aligns with partitioning;
- ``replace`` / ``partition_values`` / ``drop_partitions`` — a staged
  whole-table rewrite of a frame that reads the table, the partitions a
  table holds, and removal of emptied partitions.

Partition layout for scale: feature/chunk tables are partitioned by
``(tier, window_date)`` — partition pruning makes incremental MERGE and
retention O(touched windows), not O(table), at 10^12 turns.
"""

from __future__ import annotations

import os
import shutil

from pyspark.sql import DataFrame, SparkSession


class TableIO:
    def __init__(self, spark: SparkSession, root: str, backend: str = "parquet"):
        if backend == "iceberg":
            # production path: requires iceberg-spark-runtime on the
            # classpath + a catalog config; not bundled in-sandbox.
            try:
                spark.sql("SELECT 1").collect()
                spark._jvm.org.apache.iceberg.spark.SparkCatalog  # noqa: B018
            except Exception as exc:  # pragma: no cover - sandbox has no jar
                raise RuntimeError(
                    "iceberg backend requires iceberg-spark-runtime jar; "
                    "use backend='parquet' in-sandbox") from exc
        self.spark = spark
        self.root = root
        self.backend = backend
        os.makedirs(root, exist_ok=True)

    def path(self, name: str) -> str:
        return os.path.join(self.root, name)

    def exists(self, name: str) -> bool:
        return os.path.isdir(self.path(name))

    def write(self, df: DataFrame, name: str, mode: str = "overwrite",
              partition_by: list[str] | None = None) -> None:
        if partition_by:
            # cluster rows by partition value before a partitioned
            # write: otherwise every upstream task emits a file into
            # every partition dir (tasks × partitions small files —
            # measured 45s vs 6s and 3498 vs 32 files for one tier at
            # local[32]). REBALANCE (not a plain hash repartition on the
            # low-cardinality partition cols): AQE can both coalesce
            # small partitions AND split large ones across tasks, so one
            # giant (tier, window_date) partition at 10^12-turn scale
            # still fans out instead of serializing on a single writer.
            df = df.hint("rebalance", *partition_by)
        w = df.write.mode(mode)
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(self.path(name))

    def read(self, name: str) -> DataFrame:
        return self.spark.read.parquet(self.path(name))

    def write_bucketed(self, df: DataFrame, name: str, buckets: int,
                       bucket_cols: list[str],
                       sort_cols: list[str] | None = None) -> None:
        """Bucketed table for CO-LOCATED joins and aggregations: rows
        are hash-clustered into ``buckets`` files per partition by
        ``bucket_cols`` at write time, and the bucketing metadata is
        registered in the session catalog (``saveAsTable`` — plain
        ``.parquet()`` writes cannot carry bucket specs). Two tables
        bucketed on the same keys and count join with ZERO shuffle
        exchanges (SortMergeJoin reads co-located buckets; with
        ``sort_cols`` even the sort is elided) — the standing trade:
        pay the cluster-by once at ingest, every downstream
        join/groupBy on the key rides free. Iceberg's equivalent is a
        ``bucket(N, col)`` partition transform through this same seam.

        Files land under ``self.path(name)`` (external table) so the
        parquet stays owned by TableIO's root like every other table;
        re-writes drop and re-register the catalog entry.
        """
        if not bucket_cols:
            raise ValueError("bucket_cols must be non-empty")
        self.spark.sql(f"DROP TABLE IF EXISTS {name}")
        # a previous run's files would otherwise collide with the
        # fresh CTAS — bucketed overwrite is drop-and-recreate
        shutil.rmtree(self.path(name), ignore_errors=True)
        w = (df.write.format("parquet").mode("overwrite")
             .option("path", self.path(name))
             .bucketBy(int(buckets), *bucket_cols))
        if sort_cols:
            w = w.sortBy(*sort_cols)
        w.saveAsTable(name)

    def read_table(self, name: str) -> DataFrame:
        """Catalog read — REQUIRED for bucketed tables: reading the
        parquet path directly loses the bucket spec and the join
        shuffles again."""
        return self.spark.table(name)

    def merge_overwrite_partitions(self, df: DataFrame, name: str,
                                   partition_by: list[str]) -> None:
        """Idempotent per-partition MERGE: replaces exactly the
        partitions present in ``df`` (dynamic partition overwrite)."""
        if self.backend == "iceberg":  # pragma: no cover - needs jar
            from cesium_spark.sources.iceberg_sql import (
                overwrite_partitions_sql)
            view = f"__src_{name}"
            df.hint("rebalance", *partition_by) \
              .createOrReplaceTempView(view)
            self.spark.sql(overwrite_partitions_sql(name, view))
            return
        # requires spark.sql.sources.partitionOverwriteMode=dynamic
        # (set in session.get_spark); on a new table this is a plain write
        self.write(df, name, mode="overwrite", partition_by=partition_by)

    def delete_where(self, name: str, predicate: str,
                     partition_by: list[str] | None = None) -> int:
        """Retention delete: keep rows NOT matching ``predicate``.
        Returns number of rows deleted. Iceberg: DELETE FROM …;
        parquet: rewrite survivors (or partition drop when aligned)."""
        if self.backend == "iceberg":  # pragma: no cover - needs jar
            from cesium_spark.sources.iceberg_sql import delete_where_sql
            before = self.spark.table(name).count()
            self.spark.sql(delete_where_sql(name, predicate))
            return before - self.spark.table(name).count()
        if not self.exists(name):
            return 0
        df = self.read(name)
        before = df.count()
        self.replace(df.filter(f"NOT ({predicate})"), name, partition_by)
        return before - self.read(name).count()

    def replace(self, df: DataFrame, name: str,
                partition_by: list[str] | None = None) -> None:
        """Overwrites a whole table with a frame that may read it:
        writes a staging copy, then swaps it in (a static overwrite
        would delete the files the frame still reads)."""
        tmp = self.path(name) + "__tmp_replace"
        w = df.write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(tmp)
        shutil.rmtree(self.path(name), ignore_errors=True)
        os.rename(tmp, self.path(name))

    def partition_values(self, name: str, column: str) -> list[str]:
        """The ``column`` values a partitioned table holds a partition
        for, from a directory listing (no Spark job); none when the
        table is absent. Iceberg: the table's partitions metadata."""
        if not self.exists(name):
            return []
        key = f"{column}="
        return sorted(e[len(key):] for e in os.listdir(self.path(name))
                      if e.startswith(key))

    def drop_partitions(self, name: str, column: str, values) -> None:
        """Removes the ``column=value`` partitions of a table; absent
        ones are skipped. Iceberg: DELETE FROM … WHERE column IN (…)."""
        for v in values:
            shutil.rmtree(os.path.join(self.path(name), f"{column}={v}"),
                          ignore_errors=True)

    def drop(self, name: str) -> None:
        if self.exists(name):
            shutil.rmtree(self.path(name))
