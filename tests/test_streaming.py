"""M3: Structured Streaming replay — equivalence with batch replay, and
resume from a streaming checkpoint (SURVEY.md §5.2 streaming semantics)."""

import pandas as pd

from foundry_es_spark.fixtures import gen_change_events, write_event_log
from foundry_es_spark.oracle import fold_events
from foundry_es_spark.plans import CdcPipeline, PipelineConfig
from foundry_es_spark.streaming import run_stream


def _state(pipe) -> pd.DataFrame:
    return (
        pipe.table.read()
        .select("repo", "path", "commit", "lang", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )


def test_streaming_equals_batch_and_oracle(spark, tmp_path):
    events = gen_change_events(spark, n_events=3000, n_keys=250, lines_mod=20)
    ev_dir = str(tmp_path / "events")
    write_event_log(events, ev_dir, epoch_size=600)

    stream_pipe = CdcPipeline(
        spark, PipelineConfig(pipeline_id="s", table_dir=str(tmp_path / "t_stream"))
    )
    run_stream(
        spark, stream_pipe, ev_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=6, await_termination=True,
    )

    batch_pipe = CdcPipeline(
        spark, PipelineConfig(pipeline_id="b", table_dir=str(tmp_path / "t_batch"))
    )
    batch_pipe.replay_event_dir(ev_dir)

    expected = fold_events(events.toPandas())[
        ["repo", "path", "commit", "lang", "content_sha256"]
    ].reset_index(drop=True)
    pd.testing.assert_frame_equal(_state(stream_pipe), expected)
    pd.testing.assert_frame_equal(_state(batch_pipe), expected)


def test_streaming_patch_merge_equals_batch_and_oracle(spark, tmp_path):
    """Streaming ingest of a PATCH stream (net-'P' rows stored sparse and
    folded by the merge at read): the foreachBatch epochs chunk the patches at
    trigger boundaries (cross-trigger bases), and the folded state must
    equal both the batch replay and the row-at-a-time patch fold oracle."""
    from foundry_es_spark.fixtures import as_patch_events
    from foundry_es_spark.oracle import fold_events_patch

    events = as_patch_events(
        gen_change_events(spark, n_events=3000, n_keys=250, lines_mod=20)
    )
    ev_dir = str(tmp_path / "events")
    write_event_log(events, ev_dir, epoch_size=600)

    cfg = dict(patch_ops=True)
    stream_pipe = CdcPipeline(
        spark,
        PipelineConfig(pipeline_id="sp", table_dir=str(tmp_path / "t_stream"), **cfg),
    )
    run_stream(
        spark, stream_pipe, ev_dir, str(tmp_path / "ckpt"),
        max_files_per_trigger=6, await_termination=True,
    )

    batch_pipe = CdcPipeline(
        spark,
        PipelineConfig(pipeline_id="bp", table_dir=str(tmp_path / "t_batch"), **cfg),
    )
    batch_pipe.replay_event_dir(ev_dir)

    expected = fold_events_patch(events.toPandas())[
        ["repo", "path", "commit", "lang", "content_sha256"]
    ].reset_index(drop=True)
    pd.testing.assert_frame_equal(_state(stream_pipe), expected, check_dtype=False)
    pd.testing.assert_frame_equal(_state(batch_pipe), expected, check_dtype=False)


def test_streaming_resume_from_checkpoint(spark, tmp_path):
    """Write half the log, stream it, then append the rest and resume from
    the same checkpoint: no dup, no loss (C6)."""
    events = gen_change_events(spark, n_events=3000, n_keys=250, lines_mod=20)
    first = events.where(events.seq < 1500)
    rest = events.where(events.seq >= 1500)
    ev_dir = str(tmp_path / "events")
    write_event_log(first, ev_dir, epoch_size=500)

    pipe = CdcPipeline(
        spark, PipelineConfig(pipeline_id="s", table_dir=str(tmp_path / "table"))
    )
    ckpt = str(tmp_path / "ckpt")
    run_stream(spark, pipe, ev_dir, ckpt, max_files_per_trigger=4, await_termination=True)
    mid_rows = pipe.table.read().count()
    assert mid_rows > 0

    # append the remaining epochs to the SAME directory, resume the stream
    import pyspark.sql.functions as F

    rest = rest.withColumn("epoch", (F.col("seq") / 500).cast("long"))
    (
        rest.repartition("epoch", "part")
        .sortWithinPartitions("seq")
        .write.mode("append")
        .partitionBy("epoch", "part")
        .parquet(ev_dir)
    )
    run_stream(spark, pipe, ev_dir, ckpt, max_files_per_trigger=4, await_termination=True)

    expected = fold_events(events.toPandas())[
        ["repo", "path", "commit", "lang", "content_sha256"]
    ].reset_index(drop=True)
    pd.testing.assert_frame_equal(_state(pipe), expected)
