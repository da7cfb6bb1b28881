"""Write-Audit-Publish (PipelineConfig.audit_fn): table-level invariant
checks gate the publishing commit on both sink paths.

Contract: a failing audit publishes NOTHING (table state and fences
unchanged, staged files discarded on the fused sink), raises AuditFailed,
and the unfenced epoch replays exactly-once after the audit passes.
"""

from __future__ import annotations

import os
import re

import pytest
from pyspark.sql import functions as F

from foundry_es_spark.fixtures import gen_change_events, write_event_log
from foundry_es_spark.plans import AuditFailed, CdcPipeline, PipelineConfig


def _events(spark, tmp, n=3000, epoch_size=1000):
    ev = gen_change_events(spark, n_events=n, n_keys=400)
    write_event_log(ev, f"{tmp}/events", epoch_size=epoch_size)
    return f"{tmp}/events"


def _pipe(spark, tmp, name, **cfg):
    return CdcPipeline(
        spark,
        PipelineConfig(pipeline_id=name, table_dir=f"{tmp}/{name}", n_buckets=8, **cfg),
    )


def _digest(df):
    cols = sorted(c for c in df.columns if c != "meta")
    return sorted(
        tuple(r) for r in df.select(*[F.col(c).cast("string") for c in cols]).collect()
    )


@pytest.mark.parametrize("sink", ["jvm", "fused"])
def test_audit_blocks_then_replays_exactly_once(spark, tmp_path, monkeypatch, sink):
    """Enriched (default) epochs on both sinks: the fused task-writer sink
    audits its staged files (true WAP); the JVM writer, forced by hiding
    the local backend's task writer, audits the epoch plan."""
    from foundry_es_spark.plans import pipeline as pipeline_mod

    if sink == "jvm":
        monkeypatch.setattr(pipeline_mod, "supports_fused_sink", lambda table: False)
    tmp = str(tmp_path)
    events = _events(spark, tmp)
    name = "wap_" + sink

    # reference replay without any audit
    ref = _pipe(spark, tmp, name + "_ref")
    ref.replay_event_dir(events)
    # the sink really taken: task-written files carry the attempt id
    files = [f["path"] for f in ref.table._current()["files"]]
    assert files and {bool(re.search(r"-a\d+\.parquet$", f)) for f in files} == {sink == "fused"}

    calls = {"n": 0}
    gate = {"open": False}

    def audit(staged, ctx):
        calls["n"] += 1
        assert set(ctx) == {"epoch_id", "n_events"}
        # a real invariant: never publish an epoch that is >90% deletes
        dels = staged.agg(
            F.sum((F.col("_op") == "D").cast("long")).alias("d"),
            F.count("*").alias("n"),
        ).collect()[0]
        assert dels["d"] * 10 < dels["n"] * 9
        return gate["open"]

    pipe = _pipe(spark, tmp, name, audit_fn=audit)
    epoch0 = f"{events}/epoch=0"
    batch = spark.read.parquet(epoch0)

    with pytest.raises(AuditFailed):
        pipe.apply_epoch(batch, 0)
    assert calls["n"] == 1
    # nothing published: no fence, empty (or absent) table state
    assert not pipe.table.is_epoch_committed(name, 0)
    assert pipe.table.read().count() == 0
    # fused sink: the staged version dir was discarded
    data_dir = os.path.join(tmp, name, "data")
    if os.path.isdir(data_dir):
        for d in os.listdir(data_dir):
            assert not any(
                fn.endswith(".parquet")
                for _r, _d, fns in os.walk(os.path.join(data_dir, d))
                for fn in fns
            ), "failed audit must leave no staged parquet behind"

    # open the gate: the same epochs replay exactly-once and match the
    # audit-free reference bit for bit
    gate["open"] = True
    pipe.replay_event_dir(events)
    assert _digest(pipe.table.read()) == _digest(ref.table.read())
    # audit ran once per applied epoch (3 epochs) + the rejected attempt
    assert calls["n"] == 4
