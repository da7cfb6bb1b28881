"""Incremental curation maintenance from the change feed
(plans/curation_maintain.py) — r3 verdict item 4.

Mirrors tests/test_dedup_maintain.py's shapes: the standing invariant
(incremental verdict state == batch recompute over the live snapshot)
across insert/update/delete, patch resolution from the snapshot,
crash-retry exactly-once, rollback and wide-window full rebuilds, and the
broadcast-eval plan shape.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from foundry_es_spark.plans import CdcPipeline, PipelineConfig
from foundry_es_spark.plans.curation_maintain import (
    CurationMaintainConfig,
    IncrementalCurationPipeline,
)
from foundry_es_spark.queries.textstats import decon_grams, decon_tokens

K = 5  # small gram width so short fixture docs still carry grams

GOOD = "the quick brown fox jumps over the lazy dog while rain falls on the old stone bridge near town"
# contains the eval text's first five words → contaminated at k=5
CONTAM = "prefix words here then alpha beta gamma delta epsilon somewhere else entirely after that"
SHORT = "too few words"  # < 5 tokens → keep=False, no grams
CLEAN = "completely different words compose this document nothing here overlaps with the benchmark sentence at all honestly"
EVAL_TEXT = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda held out benchmark words"


def _events(spark, rows):
    df = spark.createDataFrame(
        rows, "seq long, op string, repo string, path string, content string"
    )
    return df.select(
        "seq",
        F.timestamp_millis(F.col("seq") * 10).alias("ts"),
        "op",
        "repo",
        "path",
        F.when(F.col("op") != "D", F.sha1(F.concat_ws("|", "repo", "path"))).alias("commit"),
        F.when(F.col("op") != "D", F.lit("text")).alias("lang"),
        F.when(F.col("op") != "D", F.col("content")).alias("content"),
        F.pmod(F.xxhash64("repo"), F.lit(4)).alias("part"),
    )


def _eval_grams(spark):
    """Deterministic fixed eval benchmark gram set (the same decon kernel
    as the maintainer, so the invariant is purely about maintenance)."""
    ev = spark.createDataFrame([(0, EVAL_TEXT)], "doc_id long, text string")
    return decon_grams(decon_tokens(ev, K), K).select("g").distinct()


def _mk(spark, tmp, pipe_kw=None, **cfg_kw):
    pipe = CdcPipeline(
        spark,
        PipelineConfig(pipeline_id="src", table_dir=f"{tmp}/src", n_buckets=4,
                       normalize=False, **(pipe_kw or {})),
    )
    cur = IncrementalCurationPipeline(
        spark,
        pipe.table,
        _eval_grams(spark),
        CurationMaintainConfig(
            name="cv", state_dir=f"{tmp}/verdicts", k=K, n_buckets=4, **cfg_kw
        ),
    )
    return pipe, cur


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def _assert_equiv(cur):
    """state == batch verdicts over the live snapshot, row for row."""
    batch = cur.verdicts(cur.source.read().select("repo", "path", "content"))
    cols = [f[0] for f in __import__(
        "foundry_es_spark.plans.curation_maintain", fromlist=["STATE_FIELDS"]
    ).STATE_FIELDS]
    assert _canon(cur.state().select(*cols)) == _canon(batch.select(*cols))


def test_incremental_tracks_insert_update_delete(spark, tmp_path):
    tmp = str(tmp_path)
    pipe, cur = _mk(spark, tmp)

    pipe.apply_epoch(_events(spark, [
        (0, "I", "r1", "a", GOOD),
        (1, "I", "r2", "b", CONTAM),
        (2, "I", "r1", "c", SHORT),
    ]), 0)
    st = cur.refresh()
    assert st["mode"] == "incremental" and st["keys"] == 3
    _assert_equiv(cur)
    rows = {(r.repo, r.path): r for r in cur.state().collect()}
    assert rows[("r1", "a")].keep and not rows[("r1", "a")].contaminated
    assert rows[("r2", "b")].contaminated and rows[("r2", "b")].n_hits == 1
    assert not rows[("r1", "c")].keep and rows[("r1", "c")].n_grams == 0

    # update: contaminated doc cleaned; short doc grows into a keeper
    pipe.apply_epoch(_events(spark, [
        (3, "U", "r2", "b", CLEAN),
        (4, "U", "r1", "c", GOOD + " extended further"),
    ]), 1)
    st = cur.refresh()
    assert st["mode"] == "incremental" and st["keys"] == 2
    _assert_equiv(cur)
    rows = {(r.repo, r.path): r for r in cur.state().collect()}
    assert not rows[("r2", "b")].contaminated and rows[("r2", "b")].n_hits == 0
    assert rows[("r1", "c")].keep

    # delete: verdict row dies with the doc
    pipe.apply_epoch(_events(spark, [(5, "D", "r1", "a", None)]), 2)
    st = cur.refresh()
    assert st["mode"] == "incremental"
    _assert_equiv(cur)
    assert ("r1", "a") not in {(r.repo, r.path) for r in cur.state().collect()}

    # no new commits → no-op; cursor survives a fresh handle (resume)
    assert cur.refresh() == {"refreshed": False, "cursor": cur.cursor()}
    cur2 = IncrementalCurationPipeline(spark, pipe.table, _eval_grams(spark), cur.cfg)
    assert cur2.cursor() == cur.cursor()
    _assert_equiv(cur2)


def test_crash_mid_merge_retries_exactly_once(spark, tmp_path, monkeypatch):
    tmp = str(tmp_path)
    pipe, cur = _mk(spark, tmp)
    pipe.apply_epoch(_events(spark, [(0, "I", "r1", "a", GOOD)]), 0)
    cur.refresh()
    cursor_before = cur.cursor()

    pipe.apply_epoch(_events(spark, [(1, "U", "r1", "a", CONTAM)]), 1)

    from foundry_es_spark.lake.table import LakeTable

    real = LakeTable.merge_upsert

    def boom(self, *a, **kw):
        if self.table_dir == cur.cfg.state_dir:
            raise RuntimeError("injected crash before verdict commit")
        return real(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "merge_upsert", boom)
    with pytest.raises(RuntimeError, match="injected"):
        cur.refresh()
    monkeypatch.setattr(LakeTable, "merge_upsert", real)

    assert cur.cursor() == cursor_before  # cursor never outruns the commit
    st = cur.refresh()
    assert st["refreshed"] and st["mode"] == "incremental"
    _assert_equiv(cur)
    rows = {(r.repo, r.path): r for r in cur.state().collect()}
    assert rows[("r1", "a")].contaminated


def test_rollback_in_window_forces_full_rebuild(spark, tmp_path):
    tmp = str(tmp_path)
    pipe, cur = _mk(spark, tmp)
    pipe.apply_epoch(_events(spark, [(0, "I", "r1", "a", CONTAM)]), 0)
    cur.refresh()
    from foundry_es_spark.lake import log as commitlog

    v_good = commitlog.current_version(pipe.table.table_dir)
    pipe.apply_epoch(_events(spark, [(1, "U", "r1", "a", CLEAN)]), 1)
    pipe.table.rollback(v_good)
    st = cur.refresh()
    assert st["mode"] == "full"
    _assert_equiv(cur)
    rows = {(r.repo, r.path): r for r in cur.state().collect()}
    assert rows[("r1", "a")].contaminated  # the rolled-back verdict is live again


def test_wide_window_falls_back_to_full_rebuild(spark, tmp_path):
    tmp = str(tmp_path)
    pipe, cur = _mk(spark, tmp, max_delta_keys=1)
    pipe.apply_epoch(_events(spark, [
        (0, "I", "r1", "a", GOOD),
        (1, "I", "r2", "b", CLEAN),
    ]), 0)
    st = cur.refresh()
    assert st["mode"] == "full"
    _assert_equiv(cur)


def test_patch_feed_resolves_content_from_snapshot(spark, tmp_path):
    """Patch-enabled source: net-'P' keys carry sparse images —
    a lang-only patch has NULL content in the feed, so verdicts must come
    from the snapshot; a content patch changes the verdict; an orphan
    patch no-ops; D-then-late-P stays deleted."""
    tmp = str(tmp_path)
    pipe, cur = _mk(spark, tmp, pipe_kw={"patch_ops": True})
    pipe.apply_epoch(_events(spark, [
        (0, "I", "r1", "a", GOOD),
        (1, "I", "r2", "b", CLEAN),
        (2, "I", "r3", "d", GOOD),
    ]), 0)
    cur.refresh()
    _assert_equiv(cur)

    ev = spark.createDataFrame(
        [
            (10, "P", "r2", "b", None, None, CONTAM),   # content patch → contaminated
            (11, "P", "r1", "a", None, "rust", None),   # lang-only: content stays GOOD
            (12, "P", "r9", "zz", None, "xx", None),    # orphan → no-op
            (13, "D", "r3", "d", None, None, None),
            (14, "P", "r3", "d", None, "go", None),     # late patch after delete
        ],
        "seq long, op string, repo string, path string, commit string, lang string, content string",
    ).select(
        "seq", F.timestamp_millis(F.col("seq") * 10).alias("ts"), "op",
        "repo", "path", "commit", "lang", "content",
        F.pmod(F.xxhash64("repo"), F.lit(4)).alias("part"),
    )
    pipe.apply_epoch(ev, 1)
    st = cur.refresh()
    assert st["mode"] == "incremental"
    _assert_equiv(cur)
    rows = {(r.repo, r.path): r for r in cur.state().collect()}
    assert rows[("r2", "b")].contaminated               # patched content re-scored
    assert rows[("r1", "a")].keep and not rows[("r1", "a")].contaminated
    assert ("r3", "d") not in rows                      # patch-after-delete stays dead
    assert ("r9", "zz") not in rows                     # orphan patch no-op


def test_verdict_plan_broadcasts_eval_grams(spark, tmp_path):
    """Scale shape: the contamination probe must be a broadcast hash join
    with the (fixed-size) eval gram set broadcast — the delta/corpus side
    never shuffles for the join."""
    tmp = str(tmp_path)
    pipe, cur = _mk(spark, tmp)
    pipe.apply_epoch(_events(spark, [(0, "I", "r1", "a", GOOD)]), 0)
    delta = pipe.table.read().select("repo", "path", "content")
    # broadcast_hits=True is the incremental-refresh shape (hit side is
    # width-guarded by max_delta_keys): the whole verdict plan must be
    # exchange-free on the document side
    plan = (
        cur.verdicts(delta, broadcast_hits=True)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
