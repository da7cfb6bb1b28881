"""Incremental near-dup maintenance from the change feed (O12,
plans/dedup_maintain.py).

Pins the equivalence invariant: after any sequence of source epochs and
refreshes — inserts, updates that create AND destroy duplicate pairs,
deletes, crash-retry, rollback — the maintained pair state equals the
batch discovery (`discover_pairs`) run from scratch over the live
snapshot, and the signature table mirrors the live keys.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from foundry_es_spark.plans import CdcPipeline, PipelineConfig
from foundry_es_spark.plans.dedup_maintain import (
    DedupMaintainConfig,
    IncrementalDedupPipeline,
    _candidates,
    discover_pairs,
)

BASE = "the quick brown fox jumps over the lazy dog while rain falls on the old stone bridge near town"
# One-word variants chosen so the (deterministic) LSH bands DO collide with
# BASE under the fixed 16-lane kernel: jaccard(BASE, VAR*) = 14/20 = 0.7,
# band 2 agrees for VAR1, band 2 for VAR2. jaccard(VAR1, VAR2) = 11/23 ≈
# 0.478 < 0.5 — a candidate the exact-Jaccard verification must REJECT.
VAR1 = BASE.replace("rain", "snow")
VAR2 = BASE.replace("jumps", "leaps")
OTHER = "completely different words compose this document nothing here overlaps with that animal sentence in any way at all honestly"
OTHER2 = "yet another unrelated text about spark physical plans shuffles broadcasts and adaptive execution at large scale clusters"


def _events(spark, rows):
    """rows: (seq, op, repo, path, content|None) -> event-log-shaped df."""
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


def _mk(spark, tmp, **cfg_kw):
    pipe = CdcPipeline(
        spark,
        PipelineConfig(pipeline_id="src", table_dir=f"{tmp}/src", n_buckets=4,
                       normalize=False),
    )
    dd = IncrementalDedupPipeline(
        spark,
        pipe.table,
        DedupMaintainConfig(
            name="nd", sig_dir=f"{tmp}/sigs", pairs_dir=f"{tmp}/pairs",
            n_buckets=4, **cfg_kw,
        ),
    )
    return pipe, dd


def _canon(df):
    return sorted(tuple(r) for r in df.collect())


def test_merge_mode_patch_feed_resolves_content_from_snapshot(spark, tmp_path):
    """Patch-enabled source pipeline: the change feed carries
    SPARSE net-'P' rows (a trailing lang-only patch has NULL content). The
    maintainer must resolve those keys' true content from the snapshot —
    signing the sparse feed image would silently corrupt signatures. Also:
    a content patch that CREATES a near-dup pair must be discovered, and
    an orphan patch must be a no-op."""
    tmp = str(tmp_path)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(pipeline_id="src", table_dir=f"{tmp}/src", n_buckets=4,
                       normalize=False, patch_ops=True),
    )
    dd = IncrementalDedupPipeline(
        spark,
        pipe.table,
        DedupMaintainConfig(name="nd", sig_dir=f"{tmp}/sigs",
                            pairs_dir=f"{tmp}/pairs", n_buckets=4),
    )
    pipe.apply_epoch(_events(spark, [
        (0, "I", "r1", "a", BASE),
        (1, "I", "r2", "b", OTHER),
    ]), 0)
    dd.refresh()
    _assert_equiv(dd)
    assert _canon(dd.pairs()) == []  # no dups yet

    # epoch 1: content patch turns OTHER into VAR1 (creates the BASE pair);
    # a lang-only patch on r1/a leaves its content untouched (feed row has
    # null content — the regression target); an orphan patch no-ops.
    ev = spark.createDataFrame(
        [
            (10, "P", "r2", "b", None, None, VAR1),
            (11, "P", "r1", "a", None, "rust", None),
            (12, "P", "r9", "zz", None, "xx", None),
        ],
        "seq long, op string, repo string, path string, commit string, lang string, content string",
    ).select(
        "seq", F.timestamp_millis(F.col("seq") * 10).alias("ts"), "op",
        "repo", "path", "commit", "lang", "content",
        F.pmod(F.xxhash64("repo"), F.lit(4)).alias("part"),
    )
    pipe.apply_epoch(ev, 1)
    dd.refresh()
    _assert_equiv(dd)
    got = _canon(dd.pairs().select("repo", "path", "o_repo", "o_path"))
    assert got == [("r1", "a", "r2", "b")]  # the patched content created the pair


def _batch_reference(dd):
    snap = dd.source.read()
    return discover_pairs(dd._sign(snap), dd._shingled(snap), dd.cfg.jaccard_threshold)


def _assert_equiv(dd):
    assert _canon(dd.pairs()) == _canon(_batch_reference(dd))
    # signature table mirrors the live keys
    live = _canon(dd.source.read().select("repo", "path"))
    assert _canon(dd.sig_table.read().select("repo", "path")) == live
    # mirrored state is consistent: every pair appears exactly twice
    p = dd.pairs_table.read()
    assert p.count() == 2 * dd.pairs().count()


def test_incremental_tracks_insert_update_delete(spark, tmp_path):
    tmp = str(tmp_path)
    pipe, dd = _mk(spark, tmp)

    # epoch 0: A~B duplicate pair + two singletons
    e0 = _events(spark, [
        (0, "I", "r1", "a", BASE),
        (1, "I", "r2", "b", VAR1),
        (2, "I", "r1", "c", OTHER),
        (3, "I", "r3", "d", OTHER2),
    ])
    pipe.apply_epoch(e0, 0)
    st = dd.refresh()
    assert st["mode"] == "incremental" and st["keys"] == 4
    assert dd.pairs().count() == 1
    _assert_equiv(dd)

    # epoch 1: C updated to join the cluster (2 new pairs), B updated to
    # unrelated text (A~B retracted)
    e1 = _events(spark, [
        (4, "U", "r1", "c", VAR2),
        (5, "U", "r2", "b", OTHER + " extended"),
    ])
    pipe.apply_epoch(e1, 1)
    st = dd.refresh()
    assert st["mode"] == "incremental" and st["keys"] == 2
    got = {(r.repo, r.path, r.o_repo, r.o_path) for r in dd.pairs().collect()}
    assert got == {("r1", "a", "r1", "c")}
    _assert_equiv(dd)

    # epoch 2: delete A — its pair dies by retraction
    e2 = _events(spark, [(6, "D", "r1", "a", None)])
    pipe.apply_epoch(e2, 2)
    st = dd.refresh()
    assert st["mode"] == "incremental"
    assert dd.pairs().count() == 0
    _assert_equiv(dd)

    # no new commits → no-op refresh; cursor survives a fresh handle (resume)
    assert dd.refresh() == {"refreshed": False, "cursor": dd.cursor()}
    dd2 = IncrementalDedupPipeline(spark, pipe.table, dd.cfg)
    assert dd2.cursor() == dd.cursor()
    _assert_equiv(dd2)


def test_delta_x_delta_pair_found_once(spark, tmp_path):
    """Both endpoints arriving in the SAME window must yield exactly one
    canonical pair (the _in_probe dedup), and an I→U→D chain inside one
    window nets to nothing."""
    tmp = str(tmp_path)
    pipe, dd = _mk(spark, tmp)
    e0 = _events(spark, [
        (0, "I", "r1", "a", BASE),
        (1, "I", "r2", "b", VAR1),       # dup of a, same window
        (2, "I", "r4", "x", OTHER),
        (3, "U", "r4", "x", VAR2),
        (4, "D", "r4", "x", None),       # nets to deleted
    ])
    pipe.apply_epoch(e0, 0)
    dd.refresh()
    assert _canon(dd.pairs().select("repo", "path", "o_repo", "o_path")) == [
        ("r1", "a", "r2", "b")
    ]
    _assert_equiv(dd)


def test_crash_between_sig_and_pairs_commit_retries_exactly_once(
    spark, tmp_path, monkeypatch
):
    tmp = str(tmp_path)
    pipe, dd = _mk(spark, tmp)
    pipe.apply_epoch(_events(spark, [
        (0, "I", "r1", "a", BASE),
        (1, "I", "r2", "b", VAR1),
    ]), 0)
    dd.refresh()

    cursor_before = dd.cursor()
    pipe.apply_epoch(_events(spark, [(2, "U", "r2", "b", OTHER)]), 1)

    # crash injected AFTER the signature merge, BEFORE the pairs merge:
    # the cursor (on the pairs table) must stay behind, and the retry must
    # converge to the same state a clean run reaches
    from foundry_es_spark.lake.table import LakeTable

    real = LakeTable.merge_upsert

    def boom(self, *a, **kw):
        if self.table_dir == dd.cfg.pairs_dir:
            raise RuntimeError("injected crash before pairs commit")
        return real(self, *a, **kw)

    monkeypatch.setattr(LakeTable, "merge_upsert", boom)
    with pytest.raises(RuntimeError, match="injected"):
        dd.refresh()
    monkeypatch.setattr(LakeTable, "merge_upsert", real)

    assert dd.cursor() == cursor_before  # cursor did not advance past the crash
    st = dd.refresh()
    assert st["refreshed"] and st["mode"] == "incremental"
    assert dd.pairs().count() == 0
    _assert_equiv(dd)


def test_rollback_in_window_forces_full_rebuild(spark, tmp_path):
    tmp = str(tmp_path)
    pipe, dd = _mk(spark, tmp)
    pipe.apply_epoch(_events(spark, [
        (0, "I", "r1", "a", BASE),
        (1, "I", "r2", "b", VAR1),
    ]), 0)
    dd.refresh()
    v_good = __import__(
        "foundry_es_spark.lake.log", fromlist=["log"]
    ).current_version(pipe.table.table_dir)

    pipe.apply_epoch(_events(spark, [(2, "U", "r2", "b", OTHER)]), 1)
    pipe.table.rollback(v_good)  # bad deploy undone
    st = dd.refresh()
    assert st["mode"] == "full"
    assert dd.pairs().count() == 1  # the rolled-back state's pair is live again
    _assert_equiv(dd)


def test_wide_window_falls_back_to_full_rebuild(spark, tmp_path):
    tmp = str(tmp_path)
    pipe, dd = _mk(spark, tmp, max_delta_keys=2)
    pipe.apply_epoch(_events(spark, [
        (0, "I", "r1", "a", BASE),
        (1, "I", "r2", "b", VAR1),
        (2, "I", "r1", "c", VAR2),
        (3, "I", "r3", "d", OTHER),
    ]), 0)
    st = dd.refresh()
    assert st["mode"] == "full"
    # a~b and a~c verify at 0.7; the b~c candidate fails verification (0.478)
    assert dd.pairs().count() == 2
    _assert_equiv(dd)


def test_probe_plan_broadcasts_delta_not_corpus(spark, tmp_path):
    """Scale shape: the incremental probe is a broadcast hash join with the
    DELTA on the broadcast side — the accumulated signature table must
    never shuffle."""
    tmp = str(tmp_path)
    pipe, dd = _mk(spark, tmp)
    pipe.apply_epoch(_events(spark, [
        (0, "I", "r1", "a", BASE),
        (1, "I", "r2", "b", VAR1),
    ]), 0)
    dd.refresh()
    delta = dd._sign(dd.source.read(repos=["r1"]).select("repo", "path", "content"))
    plan = _candidates(delta, dd.sig_table.read(), self_join=False)._jdf.queryExecution(
    ).executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_delete_then_late_patch_tombstones_signature(spark, tmp_path):
    """D followed by a LATER 'P' on the same key inside one feed window:
    the net op is 'P', the key resolves to nothing in the snapshot
    (patch-after-delete stays deleted), and the old code dropped it from
    BOTH the U and D branches — the dead doc's signature row lived
    forever and the incremental == batch-rebuild equivalence broke. The
    fix folds unresolved net-'P' keys as deletes."""
    tmp = str(tmp_path)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(pipeline_id="src", table_dir=f"{tmp}/src", n_buckets=4,
                       normalize=False, patch_ops=True),
    )
    dd = IncrementalDedupPipeline(
        spark,
        pipe.table,
        DedupMaintainConfig(name="nd", sig_dir=f"{tmp}/sigs",
                            pairs_dir=f"{tmp}/pairs", n_buckets=4),
    )
    pipe.apply_epoch(_events(spark, [
        (0, "I", "r1", "a", BASE),
        (1, "I", "r2", "b", VAR1),   # near-dup pair with r1/a
        (2, "I", "r3", "c", OTHER),
    ]), 0)
    dd.refresh()
    _assert_equiv(dd)
    assert len(_canon(dd.pairs())) == 1

    # one window: delete r2/b, then a LATE patch on it (stays deleted)
    ev = spark.createDataFrame(
        [
            (10, "D", "r2", "b", None, None, None),
            (11, "P", "r2", "b", None, "rust", None),
        ],
        "seq long, op string, repo string, path string, commit string, "
        "lang string, content string",
    ).select(
        "seq", F.timestamp_millis(F.col("seq") * 10).alias("ts"), "op",
        "repo", "path", "commit", "lang", "content",
        F.pmod(F.xxhash64("repo"), F.lit(4)).alias("part"),
    )
    pipe.apply_epoch(ev, 1)
    dd.refresh()
    _assert_equiv(dd)  # sig table mirrors live keys: r2/b gone
    assert _canon(dd.pairs()) == []  # the pair retracted with the doc
    assert _canon(dd.sig_table.read().select("repo", "path")) == [
        ("r1", "a"), ("r3", "c"),
    ]
