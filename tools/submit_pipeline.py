"""spark-submit entry point for the transcript rollup pipeline.

The north_rule's deployment contract: the engine runs via
``spark-submit --py-files cesium_spark.zip`` on a multi-executor
cluster, at N and 4N executors, with >=0.8 throughput scaling
efficiency. On one host, Spark's ``local-cluster[executors,cores,MB]``
master starts real executor JVMs, so the zip is shipped and the
executor env applies; from the repo root:

    python tools/make_pyfiles.py   # -> dist/cesium_spark.zip
    spark-submit --master "local-cluster[2,1,1536]" \
        --py-files dist/cesium_spark.zip tools/submit_pipeline.py \
        --gen-convs 300 --input /tmp/transcripts --out /tmp/out

On a real cluster the same command takes --master yarn/k8s:// and
--num-executors N; nothing in the job body changes (session config is
cluster-agnostic, cesium_spark/session.py).

Prints one JSON report line: run_id, turns, wall_sec, turns_per_sec,
per-stage ms.
"""

from __future__ import annotations

import argparse
import json


def main() -> None:
    p = argparse.ArgumentParser()
    p.add_argument("--input", required=True,
                   help="parquet transcripts table (input_hint schema)")
    p.add_argument("--out", required=True, help="warehouse root for TableIO")
    p.add_argument("--tiers", default="1m,1h,1d")
    p.add_argument("--gen-convs", type=int, default=0,
                   help="if >0, generate a deterministic synthetic input "
                        "of this many conversations at --input first")
    p.add_argument("--no-compress", action="store_true")
    args = p.parse_args()

    # imports deferred so --py-files zip resolution happens under spark-submit
    from cesium_spark.plans.pipeline import run_pipeline
    from cesium_spark.session import get_spark
    from cesium_spark.sources.table_io import TableIO

    # master/executors come from spark-submit ("inherit" leaves --master
    # untouched); get_spark pins worker BLAS threads and sets the
    # engine's job confs. Set SPARK_GRAFT_CPUS to the per-run core count
    # so shuffle partitions are sized to the cluster.
    spark = get_spark(master="inherit", app_name="cesium_spark_pipeline")

    if args.gen_convs > 0:
        from cesium_spark.sources.synth import generate_transcripts
        generate_transcripts(spark, args.gen_convs).write.mode(
            "overwrite").parquet(args.input)

    io = TableIO(spark, args.out)
    transcripts = spark.read.parquet(args.input)
    report = run_pipeline(io, transcripts,
                          tiers=tuple(args.tiers.split(",")),
                          compress=not args.no_compress)
    print(json.dumps(report))
    spark.stop()


if __name__ == "__main__":
    main()
