"""M2: exactly-once / resume adversarial suite (FIXTURES.md F5).

Crash points are simulated by interrupting the replay loop between epochs
and between the sink commit and anything after it; duplicate delivery by
re-applying epochs; reordering by applying epochs out of order.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from foundry_es_spark.fixtures import gen_change_events, write_event_log
from foundry_es_spark.lake import log as commitlog
from foundry_es_spark.oracle import fold_events
from foundry_es_spark.plans import CdcPipeline, PipelineConfig


@pytest.fixture(scope="module")
def event_log(spark, tmp_path_factory):
    tmp = tmp_path_factory.mktemp("xonce")
    events = gen_change_events(spark, n_events=4000, n_keys=300, lines_mod=20)
    ev_dir = str(tmp / "events")
    write_event_log(events, ev_dir, epoch_size=800)
    return ev_dir, fold_events(events.toPandas())


def _pipe(spark, tmp_path, name="p"):
    return CdcPipeline(
        spark,
        PipelineConfig(pipeline_id=name, table_dir=str(tmp_path / "table"), n_buckets=8),
    )


def _assert_state(pipe, expected: pd.DataFrame):
    got = pipe.table.read()
    if "content_sha256" not in got.columns:  # normalize off
        got = got.withColumn("content_sha256", F.sha2("content", 256))
    got = (
        got.select("repo", "path", "commit", "lang", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    exp = expected[["repo", "path", "commit", "lang", "content_sha256"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)


def test_duplicate_delivery_noop(spark, tmp_path, event_log):
    ev_dir, expected = event_log
    pipe = _pipe(spark, tmp_path)
    r1 = pipe.replay_event_dir(ev_dir)
    v_after = commitlog.current_version(pipe.cfg.table_dir)
    # deliver every epoch again, explicitly bypassing the resume cursor
    r2 = pipe.replay_event_dir(ev_dir, from_epoch=0)
    assert all(r["skipped"] for r in r2)
    assert commitlog.current_version(pipe.cfg.table_dir) == v_after
    _assert_state(pipe, expected)


def test_resume_after_crash_between_epochs(spark, tmp_path, event_log):
    ev_dir, expected = event_log
    pipe = _pipe(spark, tmp_path)
    # process only epochs 0-2, then "crash"
    import os

    epochs = sorted(
        int(d.split("=")[1]) for d in os.listdir(ev_dir) if d.startswith("epoch=")
    )
    for e in epochs[:3]:
        batch = spark.read.parquet(os.path.join(ev_dir, f"epoch={e}"))
        pipe.apply_epoch(batch, e)
    # new pipeline object = fresh process; resume from fences
    pipe2 = _pipe(spark, tmp_path)
    results = pipe2.replay_event_dir(ev_dir)
    assert [r["epoch"] for r in results] == epochs[3:]
    _assert_state(pipe2, expected)


def test_rerun_of_committed_epoch_is_fenced(spark, tmp_path, event_log):
    """Crash AFTER sink commit, BEFORE the driver recorded progress:
    re-running the same epoch must be a metadata no-op (C5)."""
    import os

    ev_dir, expected = event_log
    pipe = _pipe(spark, tmp_path)
    pipe.replay_event_dir(ev_dir)
    batch0 = spark.read.parquet(os.path.join(ev_dir, "epoch=0"))
    res = pipe.apply_epoch(batch0, 0)
    assert res["skipped"]
    _assert_state(pipe, expected)


def test_out_of_order_epoch_application(spark, tmp_path, event_log):
    """Backfill chunks applied out of order still converge: the merge is
    seq-conditional, so a late-arriving older epoch cannot clobber newer
    rows (documented behavior for FIXTURES.md F5 reorder)."""
    import os

    ev_dir, expected = event_log
    pipe = _pipe(spark, tmp_path)
    epochs = sorted(
        int(d.split("=")[1]) for d in os.listdir(ev_dir) if d.startswith("epoch=")
    )
    order = epochs[::-1]  # worst case: fully reversed
    for e in order:
        batch = spark.read.parquet(os.path.join(ev_dir, f"epoch={e}"))
        pipe.apply_epoch(batch, e)
    _assert_state(pipe, expected)
    # all epochs fenced, cursor collapsed to the max
    assert pipe.table.last_epoch("p") == max(epochs)


def test_crash_between_data_write_and_commit(spark, tmp_path, event_log):
    """Simulate a writer that wrote data files but died before the log
    commit: the orphan directory must be ignored by reads and cleaned on
    the retry of the same version."""
    import os

    ev_dir, expected = event_log
    pipe = _pipe(spark, tmp_path)
    epochs = sorted(
        int(d.split("=")[1]) for d in os.listdir(ev_dir) if d.startswith("epoch=")
    )
    for e in epochs[:2]:
        batch = spark.read.parquet(os.path.join(ev_dir, f"epoch={e}"))
        pipe.apply_epoch(batch, e)
    # fake a crashed write of the NEXT version
    rec_v = commitlog.current_version(pipe.cfg.table_dir)
    orphan = os.path.join(pipe.cfg.table_dir, "data", f"c{rec_v + 1:08d}", "bkt=0")
    os.makedirs(orphan, exist_ok=True)
    with open(os.path.join(orphan, "part-zzz.parquet"), "wb") as fh:
        fh.write(b"not a parquet file")
    # resume: the retry must clear the orphan dir and proceed
    pipe2 = _pipe(spark, tmp_path)
    pipe2.replay_event_dir(ev_dir)
    _assert_state(pipe2, expected)


def test_fused_crash_between_task_write_and_commit(spark, tmp_path, event_log):
    """Fused sink variant of the crash window: the epoch's tasks WROTE the
    delta parquet files but the driver died before commit_delta_files.
    The files are invisible (not in any commit), the epoch is unfenced, and
    the retry clears the reserved dir and converges to oracle state with no
    duplicates."""
    import os

    ev_dir, expected = event_log
    cfg = PipelineConfig(
        pipeline_id="fcrash", table_dir=str(tmp_path / "table"), n_buckets=8,
        normalize=False,  # the fused task-writer sink
    )
    pipe = CdcPipeline(spark, cfg)
    epochs = sorted(
        int(d.split("=")[1]) for d in os.listdir(ev_dir) if d.startswith("epoch=")
    )
    b0 = spark.read.parquet(os.path.join(ev_dir, f"epoch={epochs[0]}"))
    pipe.apply_epoch(b0, epochs[0])

    # run epoch 1's fused job for real, then "crash" before the commit
    table = pipe.table
    committed_version = commitlog.current_version(cfg.table_dir)
    orig = table.__class__.commit_delta_files

    def _boom(self, *a, **k):
        raise RuntimeError("simulated crash before commit")

    table.__class__.commit_delta_files = _boom
    try:
        b1 = spark.read.parquet(os.path.join(ev_dir, f"epoch={epochs[1]}"))
        with pytest.raises(RuntimeError):
            pipe.apply_epoch(b1, epochs[1])
    finally:
        table.__class__.commit_delta_files = orig

    # data files exist on disk but are invisible: no commit advanced, epoch unfenced
    assert commitlog.current_version(cfg.table_dir) == committed_version
    assert not pipe.table.is_epoch_committed("fcrash", epochs[1])
    orphan_dirs = [
        d for d in os.listdir(os.path.join(cfg.table_dir, "data"))
        if os.listdir(os.path.join(cfg.table_dir, "data", d))
    ]
    assert len(orphan_dirs) > committed_version  # the orphan write is there

    # resume from scratch object: retry of the SAME epoch reuses/clears the
    # reserved dir, then the rest of the log applies; final state == oracle
    pipe2 = CdcPipeline(spark, cfg)
    pipe2.replay_event_dir(ev_dir)
    _assert_state(pipe2, expected)
    dup = (
        pipe2.table.read().groupBy("repo", "path").count()
        .where("count > 1").count()
    )
    assert dup == 0
