#!/usr/bin/env python
"""Streaming CDC ingest entrypoint (north_rule deployment shape):

    spark-submit --py-files engine.zip run_pipeline.py \
        --events-dir /data/events --table-dir /lake/repos \
        --checkpoint-dir /lake/_ckpt/repos --pipeline-id prod

Tails the event log as a Structured Streaming file source (Kafka on a real
cluster — `foundry_es_spark.sources.read_events_kafka`) and applies each
micro-batch through the epoch body. Exactly-once: streaming checkpoint +
sink-side epoch fences (either alone survives a crash; together they cover
both sides of the commit). Resumable by re-running the same command.
"""

from __future__ import annotations

import argparse


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events-dir", required=True)
    ap.add_argument("--table-dir", required=True)
    ap.add_argument("--checkpoint-dir", required=True)
    ap.add_argument("--pipeline-id", default="stream")
    ap.add_argument("--n-buckets", type=int, default=64)
    ap.add_argument("--files-per-bucket", type=int, default=2)
    ap.add_argument("--no-normalize", action="store_true",
                    help="replication shape: skip sha256/DATS enrichment")
    ap.add_argument("--hot-bucket-salts", type=int, default=0,
                    help="C4 adaptive skew: salt buckets that exceeded 4x the median "
                         "input rows last epoch over this many slices (0 = flat)")
    ap.add_argument("--patch-ops", action="store_true",
                    help="accept op=P sparse updates (C9 partial-update fold)")
    ap.add_argument("--partition-metrics", action="store_true",
                    help="record per-partition compaction task metrics in lineage")
    ap.add_argument("--max-files-per-trigger", type=int, default=64)
    ap.add_argument("--continuous", action="store_true",
                    help="keep running for new files (default: drain available then exit)")
    ap.add_argument("--derived-dir", default=None,
                    help="maintain a per-repo rollup table here, refreshed after each "
                         "trigger (streaming CDC fan-out; see run_derived.py for the "
                         "standalone/catch-up form)")
    ap.add_argument("--derived-aggs", default="count(*) AS n_paths",
                    help="semicolon-separated SQL aggregates for --derived-dir")
    ap.add_argument("--derived-name", default="derived")
    args = ap.parse_args()

    from foundry_es_spark.plans import CdcPipeline, PipelineConfig
    from foundry_es_spark.session import get_spark
    from foundry_es_spark.streaming import run_stream

    spark = get_spark(app_name=f"cdc-ingest-{args.pipeline_id}")
    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            pipeline_id=args.pipeline_id,
            table_dir=args.table_dir,
            n_buckets=args.n_buckets,
            files_per_bucket=args.files_per_bucket,
            normalize=not args.no_normalize,
            record_partition_metrics=args.partition_metrics,
            hot_bucket_salts=args.hot_bucket_salts,
            patch_ops=args.patch_ops,
        ),
    )
    maintainers = []
    if args.derived_dir:
        from pyspark.sql import functions as F

        from foundry_es_spark.plans import DerivedConfig, DerivedTablePipeline

        maintainers.append(
            DerivedTablePipeline(
                spark,
                pipe.table,
                DerivedConfig(name=args.derived_name, derived_dir=args.derived_dir),
                [F.expr(e.strip()) for e in args.derived_aggs.split(";") if e.strip()],
            )
        )
    query = run_stream(
        spark,
        pipe,
        args.events_dir,
        args.checkpoint_dir,
        max_files_per_trigger=args.max_files_per_trigger,
        await_termination=False,
        derived=maintainers,
        continuous=args.continuous,
    )
    query.awaitTermination()
    lineage = pipe.lineage()
    n = lineage.count()
    print(f"committed epochs: {n}; final rows: {pipe.table.read().count()}")


if __name__ == "__main__":
    main()
