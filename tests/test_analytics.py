"""Plan-shape and invariant tests for the analytics/curation surface
(queries/analytics.py). Value correctness is pinned by the DuckDB oracles
(scripts/check_oracles.py + the driver board); these tests pin the SCALE
properties the oracles can't see."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from foundry_es_spark.queries import dedup
from foundry_es_spark.session import get_spark

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def spark():
    return get_spark(master="local[4]", shuffle_partitions=8)


def _n_exchanges(df) -> int:
    plan = df._jdf.queryExecution().executedPlan().toString()
    # ReusedExchange / AQE shuffle reads don't add data movement
    return sum(
        1
        for line in plan.splitlines()
        if "Exchange" in line and "ReusedExchange" not in line
    )


def test_sessionize_single_exchange(spark):
    """The lag, the session-numbering cumsum, and the (user_id, session_id)
    aggregation must all ride ONE hash exchange on user_id —
    HashPartitioning(user_id) satisfies the grouped distribution because
    user_id prefixes the grouping key. A second exchange here would shuffle
    the full event table twice at 10^10 rows."""
    from foundry_es_spark.queries.analytics import q34_sessionize_batch

    df = q34_sessionize_batch(spark, SF)
    assert _n_exchanges(df) == 1, df._jdf.queryExecution().executedPlan().toString()
    # sessions are non-overlapping per user and ordered
    rows = df.orderBy("user_id", "session_id").collect()
    prev = {}
    for r in rows:
        if r["user_id"] in prev:
            assert r["session_start"] > prev[r["user_id"]]
        prev[r["user_id"]] = r["session_end"]
        assert r["session_end"] >= r["session_start"]
        assert r["n_events"] >= 1


def test_funnel_stage_counts_monotone(spark):
    """An ordered funnel can only narrow: each stage's user count is <= the
    previous stage's."""
    from foundry_es_spark.queries.analytics import q35_funnel_stages

    rows = {r["stage_no"]: r["n_users"] for r in q35_funnel_stages(spark, SF).collect()}
    assert rows[1] >= rows[2] >= rows[3]
    assert rows[1] > 0


def test_retention_offsets_nonnegative(spark):
    """week_offset 0 exists for every cohort (the activation week) and no
    offset is negative (cohort_week = min week per user)."""
    from foundry_es_spark.queries.analytics import q36_retention_cohorts

    rows = q36_retention_cohorts(spark, SF).collect()
    assert rows and all(r["week_offset"] >= 0 for r in rows)
    cohorts = {r["cohort_week"] for r in rows}
    zero = {r["cohort_week"] for r in rows if r["week_offset"] == 0}
    assert cohorts == zero


def test_tfidf_rank_is_integer_exact_and_no_count_job(spark):
    """The selected top-k rows depend only on integer (tf, df, term) order —
    re-running under a different partitioning returns identical rows; and
    the doc count is an in-plan aggregate, not a driver .count() job
    (the VERDICT r2 ann_lsh nit): building the plan schedules zero jobs."""
    from foundry_es_spark.queries.analytics import text_tfidf_topk

    from foundry_es_spark.queries.common import table

    tracker = spark.sparkContext.statusTracker()

    def jobs():
        return len(tracker.getJobIdsForGroup(None) or [])

    j0 = jobs()
    table(spark, SF, "documents")  # parquet schema-discovery job baseline
    scan_jobs = jobs() - j0
    j1 = jobs()
    df = text_tfidf_topk(spark, SF)
    assert jobs() - j1 <= scan_jobs, "plan build ran a job beyond scan setup"

    # the text is tokenized EXACTLY once: df is a window over tf, not a
    # join-back that re-executes the explode subtree (plan-inspected)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Generate") == 1, plan

    a = sorted((r["doc_id"], r["term"], r["rnk"]) for r in df.collect())
    b = sorted(
        (r["doc_id"], r["term"], r["rnk"])
        for r in text_tfidf_topk(spark, SF).repartition(7).collect()
    )
    assert a == b and len(a) > 0


def test_mix_budget_and_sample_determinism(spark):
    """corpus_mix_budget: every source's kept prefix respects the budget and
    is a PREFIX in doc_id order (no holes). sample_deterministic_hash: the
    sampled fraction is stable and the predicate is a pure row function."""
    from foundry_es_spark.queries.analytics import (
        corpus_mix_budget,
        sample_deterministic_hash,
    )

    rows = corpus_mix_budget(spark, SF, budget_chars=5000).collect()
    by_src = {}
    for r in sorted(rows, key=lambda r: (r["source"], r["doc_id"])):
        by_src.setdefault(r["source"], []).append(r)
    for src, rs in by_src.items():
        assert rs[-1]["cum_chars"] <= 5000
        assert rs[-1]["cum_chars"] == sum(x["n_chars"] for x in rs)

    a = sorted(tuple(r) for r in sample_deterministic_hash(spark, SF).collect())
    b = sorted(tuple(r) for r in sample_deterministic_hash(spark, SF).collect())
    assert a == b and len(a) > 0
    total = sum(r[1] for r in a)
    sampled = sum(r[2] for r in a)
    assert 0.15 < sampled / total < 0.35  # ~25% by construction


def test_curate_e2e_stage_semantics_and_plan(spark):
    """corpus_curate_e2e composes the four standalone curation operators;
    every kept doc must individually satisfy each stage: passes the Gopher
    filter, is its content-hash's min-doc_id representative, is non-eval
    and shares no 13-gram with the eval split, and sits within its
    source's cap in md5 rank order. Plan: exactly 4 hashpartitioning
    exchanges — dedup window (the one corpus-wide shuffle), eval-gram
    distinct, contaminated-id distinct, cap window (WindowGroupLimit
    partial below it); decon side is a broadcast join."""
    from foundry_es_spark.queries.analytics import (
        corpus_curate_e2e,
        corpus_domain_cap,
    )
    from foundry_es_spark.queries.dedup import dedup_exact_keep_first
    from foundry_es_spark.queries.textstats import (
        text_decontaminate,
        text_gopher_filter,
    )

    kept = {r["doc_id"]: r for r in corpus_curate_e2e(spark, SF).collect()}
    assert kept, "pipeline kept nothing"

    gopher_ok = {r["doc_id"] for r in text_gopher_filter(spark, SF).collect() if r["keep"]}
    reps = {r["doc_id"] for r in dedup_exact_keep_first(spark, SF).collect()}
    contaminated = {r["doc_id"] for r in text_decontaminate(spark, SF).collect()}
    capped_ranks = {
        (r["doc_id"]): r["rk"] for r in corpus_domain_cap(spark, SF).collect()
    }
    # content-hash groups restricted to the quality set: the kept doc must
    # be the min-doc_id of its group WITHIN quality (a global representative
    # that failed the filter passes leadership down)
    from pyspark.sql import functions as F

    from foundry_es_spark.queries.common import table

    h_rows = (
        table(spark, SF, "documents")
        .select("doc_id", F.sha2("text", 256).alias("h"))
        .collect()
    )
    hash_of = {r["doc_id"]: r["h"] for r in h_rows}
    min_quality_rep: dict = {}
    for d, h in hash_of.items():
        if d in gopher_ok:
            min_quality_rep[h] = min(min_quality_rep.get(h, d), d)

    for doc_id, r in kept.items():
        assert doc_id in gopher_ok
        assert min_quality_rep[hash_of[doc_id]] == doc_id
        assert doc_id % 10 != 0
        assert doc_id not in contaminated
        assert r["rk"] <= 40
    assert reps  # standalone op stays consistent alongside the composition

    plan = (
        corpus_curate_e2e(spark, SF)._jdf.queryExecution().executedPlan().toString()
    )
    assert plan.count("Exchange hashpartitioning") == 4, plan
    assert "WindowGroupLimit" in plan
    assert plan.count("BroadcastHashJoin") >= 2  # gram join + anti-join


def test_dedup_cluster_reliable_checkpoint_identical_labels(spark, tmp_path):
    """VERDICT r3 item 3: DataFrame.checkpoint() path must yield exactly
    the same (doc_id, cluster_id) labels as the executor-local default."""
    ckpt = str(tmp_path / "ckpt")
    local = {
        (r.doc_id, r.cluster_id) for r in dedup.dedup_cluster(spark, SF).collect()
    }
    reliable = {
        (r.doc_id, r.cluster_id)
        for r in dedup.dedup_cluster(spark, SF, checkpoint_dir=ckpt).collect()
    }
    assert local == reliable and len(local) > 0
    # and the reliable path actually wrote checkpoint data to the dir
    assert any(os.scandir(ckpt))


def _current_ckpt(spark):
    opt = spark.sparkContext._jsc.sc().getCheckpointDir()
    return opt.get() if opt.isDefined() else None


def test_dedup_cluster_restores_checkpoint_dir(spark, tmp_path):
    """ADVICE r4: after a checkpointed clustering run the global
    checkpoint dir must NOT point at the call's cc-<id> subdir — with no
    prior dir it restores to the caller's PARENT dir."""
    ckpt = str(tmp_path / "ck")
    prior = _current_ckpt(spark)
    dedup.dedup_cluster(spark, SF, checkpoint_dir=ckpt).collect()
    after = _current_ckpt(spark)
    # setCheckpointDir always appends a fresh UUID subdir, so "restored"
    # means: under the prior path (or the caller's parent dir when no
    # prior existed) and OUTSIDE this call's cc-<id> namespace
    assert after is not None and "/cc-" not in after
    if prior is not None:
        assert after.startswith(prior)
    else:
        assert "/ck/" in after or after.rstrip("/").endswith("/ck")


def test_dedup_cluster_restores_checkpoint_dir_on_error(spark, tmp_path):
    """The restore must run on the EXCEPTION path too: a failure
    mid-clustering must not silently redirect later checkpoint consumers
    into this call's namespace."""
    ckpt = str(tmp_path / "ck2")
    before = _current_ckpt(spark)
    with pytest.raises(Exception):
        # nonexistent sf dir: the body's scan setup raises after the
        # checkpoint dir was already switched
        dedup.dedup_cluster(spark, str(tmp_path / "no_such_sf"), checkpoint_dir=ckpt)
    after = _current_ckpt(spark)
    assert after is not None and "/cc-" not in after
    if before is not None:
        assert after.startswith(before)
    else:
        assert "/ck2/" in after or after.rstrip("/").endswith("/ck2")
