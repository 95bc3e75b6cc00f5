"""Bucketed co-located joins (the brief's 'bucketing for co-located
joins' requirement, made checkable): two tables bucketed on the same
key and count must join with ZERO shuffle exchanges, while the same
join on plain parquet shuffles both sides. Also: a groupBy on the
bucket key rides the bucketing (no exchange), and a canary pins where
``repartition(n, key)`` over a bucketed table really co-locates each
key in one task — checked by task id, not by the plan text."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from pyspark import TaskContext

from cesium_spark.sources.table_io import TableIO


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def bucketed(spark, tmp_path_factory):
    root = str(tmp_path_factory.mktemp("bucketed"))
    io = TableIO(spark, root)
    turns = spark.createDataFrame(pd.DataFrame({
        "conv_id": [f"c{i % 40}" for i in range(400)],
        "turn_idx": range(400),
        "y": [float(i % 7) for i in range(400)]}))
    meta = spark.createDataFrame(pd.DataFrame({
        "conv_id": [f"c{i}" for i in range(40)],
        "label": [i % 3 for i in range(40)]}))
    io.write_bucketed(turns, "bturns", 8, ["conv_id"], ["conv_id"])
    io.write_bucketed(meta, "bmeta", 8, ["conv_id"], ["conv_id"])
    io.write(turns, "pturns")
    io.write(meta, "pmeta")
    return io


def test_bucketed_join_zero_exchange(spark, bucketed):
    io = bucketed
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = io.read_table("bturns").join(io.read_table("bmeta"), "conv_id")
        n = j.count()
        p = _plan(j)
        assert n == 400
        assert "SortMergeJoin" in p
        assert "Exchange hashpartitioning" not in p, p
        # control: identical join over plain parquet shuffles BOTH sides
        pj = io.read("pturns").join(io.read("pmeta"), "conv_id")
        assert len(re.findall(r"Exchange hashpartitioning",
                              _plan(pj))) == 2
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")


def test_bucketed_groupby_rides_bucketing(spark, bucketed):
    io = bucketed
    from pyspark.sql import functions as F
    g = io.read_table("bturns").groupBy("conv_id").agg(F.sum("y"))
    assert "Exchange hashpartitioning" not in _plan(g)
    # reading the files directly loses the bucket spec -> exchange
    g2 = io.read("bturns").groupBy("conv_id").agg(F.sum("y"))
    assert "Exchange hashpartitioning" in _plan(g2)


def test_bucketed_roundtrip_values(spark, bucketed):
    io = bucketed
    a = sorted(map(tuple, io.read_table("bturns").collect()))
    b = sorted(map(tuple, io.read("pturns").collect()))
    assert a == b
    with pytest.raises(ValueError):
        io.write_bucketed(io.read("pmeta"), "x", 4, [])


def _split_keys(df) -> int:
    """conv_ids whose rows reach ``mapInPandas`` in more than one task.
    Counted on the driver: an aggregate over the probe's output would
    change the plan under test."""
    def tag(batches):
        pid = TaskContext.get().partitionId()
        for b in batches:
            yield pd.DataFrame({"conv_id": b["conv_id"].unique(), "pid": pid})
    seen = df.mapInPandas(tag, "conv_id string, pid int").toPandas()
    return int((seen.groupby("conv_id")["pid"].nunique() > 1).sum())


@pytest.mark.parametrize("n", [
    5,
    pytest.param(8, marks=pytest.mark.xfail(strict=True, reason=(
        "pyspark 4.1.2: repartition(n, key) with n equal to the bucket "
        "count drops its exchange as satisfied by the bucketing, then the "
        "planner disables the bucketed scan, so files of one bucket are "
        "read by different tasks and keys split"))),
])
def test_repartition_over_bucketed_colocates_keys(spark, bucketed, n):
    """Task-id probe: with files small enough to be split across tasks,
    every conv_id must reach mapInPandas in exactly one task."""
    key = "spark.sql.files.maxPartitionBytes"
    old = spark.conf.get(key)
    spark.conf.set(key, "256")
    try:
        df = bucketed.read_table("bturns").repartition(n, "conv_id")
        assert _split_keys(df) == 0
    finally:
        spark.conf.set(key, old)
