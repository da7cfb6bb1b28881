"""Multi-table routing (plans/routed.py): one stream, N sink tables,
exactly-once per route with independent fences."""

from __future__ import annotations

from pyspark.sql import functions as F

from foundry_es_spark.fixtures import gen_change_events, write_event_log
from foundry_es_spark.plans import PipelineConfig, Route, RoutedPipeline


def _setup(spark, tmp):
    ev = gen_change_events(spark, n_events=3000, n_keys=400, n_repos=10)
    write_event_log(ev, f"{tmp}/events", epoch_size=1000)
    base = PipelineConfig(pipeline_id="fan", table_dir="", n_buckets=4, normalize=False)
    rp = RoutedPipeline(
        spark,
        base,
        [
            Route("org0", "repo LIKE 'org0/%'", f"{tmp}/t_org0"),
            Route("rest", "repo NOT LIKE 'org0/%'", f"{tmp}/t_rest"),
            # deliberately-overlapping audit route (allowed semantics)
            Route("all", "true", f"{tmp}/t_all"),
        ],
    )
    return ev, rp


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_routes_partition_and_audit_overlaps(spark, tmp_path):
    tmp = str(tmp_path)
    ev, rp = _setup(spark, tmp)
    rp.replay_event_dir(f"{tmp}/events")

    org0 = rp.table("org0").read()
    rest = rp.table("rest").read()
    alltbl = rp.table("all").read()
    assert org0.where(~F.col("repo").startswith("org0/")).count() == 0
    assert rest.where(F.col("repo").startswith("org0/")).count() == 0
    # the disjoint routes partition the audit route exactly
    assert _rows(org0.unionByName(rest)) == _rows(alltbl)
    assert alltbl.count() > 0


def test_crash_between_routes_resumes_exactly_once(spark, tmp_path):
    """Crash after route A commits epoch e but before route B does: the
    retry skips A (fenced) and lands B exactly once — no cross-table
    transaction needed because routes never share a table."""
    tmp = str(tmp_path)
    ev, rp = _setup(spark, tmp)
    batch = spark.read.parquet(f"{tmp}/events/epoch=0")

    # simulate the partial failure: apply epoch 0 to the FIRST route only
    rp.pipes["org0"].apply_epoch(batch.where(F.expr(rp.routes[0].predicate)), 0)
    assert rp.table("org0").last_epoch("fan:org0") == 0
    assert rp.table("rest").last_epoch("fan:rest") == -1

    # retry through the routed front door
    out = rp.apply_epoch(batch, 0)
    assert out["org0"]["skipped"] is True
    assert out["rest"]["skipped"] is False and out["all"]["skipped"] is False

    # full replay converges to the same state as a clean one-shot replay
    rp.replay_event_dir(f"{tmp}/events")
    clean = RoutedPipeline(
        spark,
        PipelineConfig(pipeline_id="clean", table_dir="", n_buckets=4, normalize=False),
        [Route("all", "true", f"{tmp}/t_clean")],
    )
    clean.replay_event_dir(f"{tmp}/events")
    assert _rows(rp.table("all").read()) == _rows(clean.table("all").read())


def test_routed_replay_skips_fully_fenced_epochs(spark, tmp_path):
    from foundry_es_spark.fixtures import gen_change_events, write_event_log
    from foundry_es_spark.plans.routed import Route, RoutedPipeline

    tmp = str(tmp_path)
    ev = gen_change_events(spark, n_events=400, n_keys=60, lines_mod=10)
    write_event_log(ev, f"{tmp}/events", epoch_size=200)
    rp = RoutedPipeline(
        spark,
        PipelineConfig(pipeline_id="fan", table_dir="", n_buckets=2, normalize=False),
        [Route("all", "true", f"{tmp}/t_all")],
    )
    first = rp.replay_event_dir(f"{tmp}/events")
    assert all(not r.get("skipped") for r in first)
    again = rp.replay_event_dir(f"{tmp}/events")
    assert [r["skipped"] for r in again] == [True, True]
    assert rp.table("all").read().count() > 0
