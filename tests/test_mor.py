"""Merge-on-read delta mode: equivalence with the fold oracle + compaction.

The MoR path (LakeTable.append_delta + read-time generation merge +
selective bucket compaction) is the 10^10-event scale strategy; these tests
pin that it reproduces the independent pandas fold oracle, and that
compaction is a pure physical-layout change — identical state on every
column, across resume and compaction boundaries.
"""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from foundry_es_spark.fixtures import as_patch_events, gen_change_events, write_event_log
from foundry_es_spark.lake import LakeTable
from foundry_es_spark.oracle import fold_events, fold_events_patch
from foundry_es_spark.plans import CdcPipeline, PipelineConfig

ORACLE_COLS = ["repo", "path", "commit", "lang", "content_sha256"]


def _digest(df):
    cols = sorted(df.columns)
    flat = [c for c in cols if c != "meta"] + (["meta"] if "meta" in cols else [])
    row = (
        df.select(F.sha2(F.concat_ws("|", *[F.coalesce(F.col(c).cast("string"), F.lit("~")) for c in flat]), 256).alias("h"))
        .agg(F.sum(F.conv(F.substring("h", 1, 8), 16, 10).cast("decimal(38,0)")).alias("s"), F.count("*").alias("n"))
        .collect()[0]
    )
    return (row["s"], row["n"])


def _replay(spark, tmp, name, events_dir, **cfg):
    pipe = CdcPipeline(
        spark,
        PipelineConfig(pipeline_id=name, table_dir=f"{tmp}/{name}", n_buckets=8, **cfg),
    )
    pipe.replay_event_dir(events_dir)
    return pipe


def _assert_matches_oracle(pipe, events):
    got = (
        pipe.table.read()
        .select(*ORACLE_COLS)
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    exp = fold_events(events.toPandas())[ORACLE_COLS].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)


def test_mor_compaction_is_pure_layout_change(spark, tmp_path):
    tmp = str(tmp_path)
    ev = gen_change_events(spark, n_events=6000, n_keys=900, hot_frac=0.3)
    write_event_log(ev, f"{tmp}/events", epoch_size=1000)

    mor = _replay(spark, tmp, "mor", f"{tmp}/events", compact_threshold=3)
    _assert_matches_oracle(mor, ev)
    # compaction actually ran and bounded the per-bucket delta generations
    gens = mor.table.bucket_delta_generations()
    assert max(gens.values(), default=0) < 3
    # ... and changed nothing but the layout, on every column (meta, dats,
    # n_lines, ... — not just the oracle's columns)
    flat = _replay(spark, tmp, "flat", f"{tmp}/events", compact_threshold=10**9)
    assert _digest(mor.table.read()) == _digest(flat.table.read())


def test_mor_without_compaction_still_correct(spark, tmp_path):
    tmp = str(tmp_path)
    ev = gen_change_events(spark, n_events=4000, n_keys=500)
    write_event_log(ev, f"{tmp}/events", epoch_size=800)
    mor = _replay(spark, tmp, "mor", f"{tmp}/events", compact_threshold=10**9)
    _assert_matches_oracle(mor, ev)
    # generations really did pile up (delta files present)
    assert any(f.get("delta") for f in mor.table._current()["files"])


def test_mor_read_plan_has_no_exchange(spark, tmp_path):
    """The scale property VERDICT r1 flagged: a single delta generation used
    to force a full-table groupBy shuffle on every read. The bucket-local
    merge must read deltas with NO Exchange anywhere in the physical plan —
    payload moves zero times regardless of delta count."""
    tmp = str(tmp_path)
    ev = gen_change_events(spark, n_events=3000, n_keys=400)
    write_event_log(ev, f"{tmp}/events", epoch_size=500)
    mor = _replay(spark, tmp, "plan", f"{tmp}/events", compact_threshold=10**9)
    assert any(f.get("delta") for f in mor.table._current()["files"])  # deltas live
    df = mor.table.read()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # the merge tasks are fed by a JVM range, not a Python RDD scan
    assert "Range" in plan, plan
    assert "ExistingRDD" not in plan and "PythonRDD" not in plan, plan
    # and the merged read is still correct: one live row per key, no dups
    dup = df.groupBy("repo", "path").count().where(F.col("count") > 1).count()
    assert dup == 0


def test_mor_read_cost_flat_in_generations(spark, tmp_path):
    """Read work should not balloon with delta-generation count: the plan
    shape (range → mapInArrow) is identical at 1 and N generations."""
    tmp = str(tmp_path)
    ev = gen_change_events(spark, n_events=4000, n_keys=300)
    write_event_log(ev, f"{tmp}/events", epoch_size=400)  # 10 generations
    mor = _replay(spark, tmp, "flat", f"{tmp}/events", compact_threshold=10**9)
    gens = mor.table.bucket_delta_generations()
    assert max(gens.values(), default=0) >= 5
    plan = mor.table.read()._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan


def _fused_equals_jvm(spark, tmp_path, monkeypatch, patch: bool):
    """The fused task-writer sink (operators/cdc sink_spec + commit_delta_
    files, taken when normalize is off) must be a pure physical change
    against the JVM writer (taken when normalize is on): the same rows,
    seqs and ops (tombstones included), the JVM table's digest equal to
    sha256 of the fused table's content, and the same per-epoch lineage
    counts. Also pins that the fused epochs really committed task-written
    delta files and the JVM ones none. The patch case replays a patch log
    (net-'P' rows stored sparse by both sinks) and checks the fused state
    against the patch fold oracle too."""
    tmp = str(tmp_path)
    ev = gen_change_events(spark, n_events=5000, n_keys=700, hot_frac=0.4)
    if patch:
        ev = as_patch_events(ev)
    write_event_log(ev, f"{tmp}/events", epoch_size=1000)

    fused_commits = []
    commit = LakeTable.commit_delta_files

    def counting_commit(self, *a, **k):
        fused_commits.append(self.table_dir)
        return commit(self, *a, **k)

    monkeypatch.setattr(LakeTable, "commit_delta_files", counting_commit)
    kw = dict(compact_threshold=3, patch_ops=patch)
    fused = _replay(spark, tmp, "fused", f"{tmp}/events", normalize=False, **kw)
    jvm = _replay(spark, tmp, "jvm", f"{tmp}/events", normalize=True, **kw)
    # one task-writer commit per fused epoch, none on the JVM replay
    assert fused_commits == [fused.cfg.table_dir] * len(fused._epoch_infos())
    assert all(r["files_written"] > 0 for r in fused._epoch_infos())

    cols = ["repo", "path", "commit", "content", "_seq", "_op"]

    def rows(df):
        return df.toPandas().sort_values(["repo", "path"]).reset_index(drop=True)

    pd.testing.assert_frame_equal(
        rows(fused.table.read_internal().select(*cols)),
        rows(jvm.table.read_internal().select(*cols)),
    )
    pd.testing.assert_frame_equal(
        rows(fused.table.read().select(
            "repo", "path", F.sha2("content", 256).alias("content_sha256"))),
        rows(jvm.table.read().select("repo", "path", "content_sha256")),
    )

    def counts(pipe):
        return {r["epoch"]: (r["n_keys"], r["n_deletes"]) for r in pipe._epoch_infos()}

    assert counts(fused) == counts(jvm)
    if patch:
        oc = ["repo", "path", "commit", "content"]
        exp = fold_events_patch(ev.toPandas())[oc].reset_index(drop=True)
        pd.testing.assert_frame_equal(rows(fused.table.read().select(*oc)), exp)


def test_fused_sink_equals_jvm_sink(spark, tmp_path, monkeypatch):
    _fused_equals_jvm(spark, tmp_path, monkeypatch, patch=False)


def test_fused_sink_equals_jvm_sink_patch_log(spark, tmp_path, monkeypatch):
    _fused_equals_jvm(spark, tmp_path, monkeypatch, patch=True)


@pytest.fixture(scope="module", params=[True, False], ids=["jvm", "fused"])
def metered_replay(request, spark, tmp_path_factory):
    """A short replay with partition metrics on, enriched (JVM writer) or
    not (fused sink); no compaction, so every epoch's record is written by
    its own commit."""
    tmp = str(tmp_path_factory.mktemp("metered"))
    ev = gen_change_events(spark, n_events=2400, n_keys=400)
    write_event_log(ev, f"{tmp}/events", epoch_size=800)
    pipe = CdcPipeline(spark, PipelineConfig(
        pipeline_id="m", table_dir=f"{tmp}/t", n_buckets=8,
        normalize=request.param, record_partition_metrics=True,
    ))
    return pipe, pipe.replay_event_dir(f"{tmp}/events")


def test_apply_epoch_returns_committed_record(metered_replay):
    """Both sinks return the epoch record they committed."""
    pipe, results = metered_replay
    committed = {r["epoch"]: r for r in pipe._epoch_infos()}
    applied = [r for r in results if not r["skipped"]]
    assert len(applied) == len(committed) == 3
    keys = ["n_keys", "n_deletes", "n_dead_letters", "wall_sec", "stage_sec",
            "partition_metrics"]
    for r in applied:
        assert {k: r[k] for k in keys} == {k: committed[r["epoch"]][k] for k in keys}


def test_lineage_carries_stage_walls(metered_replay):
    pipe, _ = metered_replay
    stages = [r["stage_sec"] for r in pipe.lineage().collect()]
    assert len(stages) == 3
    assert all(s["merge_write"] > 0 for s in stages)


def test_change_feed_matches_lineage(spark, tmp_path):
    """table_changes is exactly the per-epoch compacted change set: its
    per-commit row counts equal the lineage's n_keys, and the feed's final
    fold (latest row per key, drop trailing deletes) equals the snapshot
    read — the invariant an incremental downstream consumer relies on."""
    tmp = str(tmp_path)
    ev = gen_change_events(spark, n_events=4000, n_keys=500, hot_frac=0.3)
    write_event_log(ev, f"{tmp}/events", epoch_size=1000)
    pipe = _replay(spark, tmp, "feed", f"{tmp}/events", compact_threshold=3)

    feed = pipe.table.table_changes()
    by_commit = {
        r["_commit_version"]: r["n"]
        for r in feed.groupBy("_commit_version").count().withColumnRenamed("count", "n").collect()
    }
    lineage = {r["table_version"]: r["n_keys"] for r in pipe._epoch_infos()}
    assert by_commit == {v: n for v, n in lineage.items() if n}

    # fold the feed to final state and compare with the snapshot
    w_latest = (
        feed.groupBy("repo", "path")
        .agg(F.max_by(F.struct("_op", "content_sha256"), "_seq").alias("r"))
        .where(F.col("r._op") != "D")
        .select("repo", "path", F.col("r.content_sha256").alias("content_sha256"))
    )
    snap = pipe.table.read().select("repo", "path", "content_sha256")
    assert w_latest.exceptAll(snap).count() == 0
    assert snap.exceptAll(w_latest).count() == 0


def test_mor_resume_mid_stream(spark, tmp_path):
    tmp = str(tmp_path)
    ev = gen_change_events(spark, n_events=5000, n_keys=700)
    write_event_log(ev, f"{tmp}/events", epoch_size=1000)

    cfg = dict(compact_threshold=3)
    pipe = _replay(spark, tmp, "resume", f"{tmp}/events", **cfg)
    full = _digest(pipe.table.read())

    # second table: apply first 2 epochs, then "restart" a fresh pipeline
    # object that must resume after the fence and converge to the same state
    p1 = CdcPipeline(
        spark, PipelineConfig(pipeline_id="r2", table_dir=f"{tmp}/r2", n_buckets=8, **cfg)
    )
    import os

    epochs = sorted(
        int(d.split("=")[1]) for d in os.listdir(f"{tmp}/events") if d.startswith("epoch=")
    )
    for e in epochs[:2]:
        p1.apply_epoch(spark.read.parquet(f"{tmp}/events/epoch={e}"), e)
    p2 = CdcPipeline(
        spark, PipelineConfig(pipeline_id="r2", table_dir=f"{tmp}/r2", n_buckets=8, **cfg)
    )
    p2.replay_event_dir(f"{tmp}/events")
    # and re-delivering an already-fenced epoch is a no-op
    res = p2.apply_epoch(spark.read.parquet(f"{tmp}/events/epoch={epochs[0]}"), epochs[0])
    assert res["skipped"] is True
    assert _digest(p2.table.read()) == full


def test_ranged_merge_boundary_edge_update(spark, tmp_path, monkeypatch):
    """Regression (round-2 review): a single-row delta update for a key that
    is a base row-group max lands EXACTLY on a _plan_key_ranges edge. The range
    filter is (lo, hi] inclusive of hi, so pruning groups with kb[0] >= hi
    dropped that update silently — the stale base row won (data loss /
    tombstone resurrection in fused compaction). Pin that an edge-key
    update survives the ranged path."""
    import os as _os

    import pyarrow.parquet as _pq

    from foundry_es_spark.lake import LakeTable

    tmp = str(tmp_path)
    ev = gen_change_events(spark, n_events=2000, n_keys=600)
    write_event_log(ev, f"{tmp}/events", epoch_size=2000)  # one epoch

    monkeypatch.setattr(LakeTable, "parquet_row_group_rows", 40)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(pipeline_id="edge", table_dir=f"{tmp}/t", n_buckets=1,
                       compact_threshold=10**9),
    )
    pipe.replay_event_dir(f"{tmp}/events")
    pipe.table.compact_buckets([0])  # one key-sorted base file, 40-row groups

    rec = pipe.table._current()
    [base] = [f for f in rec["files"] if not f.get("delta")]
    meta = _pq.ParquetFile(_os.path.join(pipe.table.table_dir, base["path"])).metadata
    assert meta.num_row_groups >= 3, "need interior row groups for edges"
    names = meta.schema.names
    ri, pi = names.index("repo"), names.index("path")

    # pick an interior row group whose per-column maxes form a REAL key
    # (file is key-sorted, so the last row usually is exactly that); with
    # step=1 subsampling (range_target=1) every interior rg max is an edge.
    tbl = _pq.read_table(_os.path.join(pipe.table.table_dir, base["path"]),
                         columns=["repo", "path"])
    edge_key = None
    for rg in range(meta.num_row_groups - 1):
        st_r = meta.row_group(rg).column(ri).statistics
        st_p = meta.row_group(rg).column(pi).statistics
        last = sum(meta.row_group(g).num_rows for g in range(rg + 1)) - 1
        row = tbl.slice(last, 1).to_pylist()[0]
        if (row["repo"], row["path"]) == (st_r.max, st_p.max):
            edge_key = (row["repo"], row["path"])
            break
    assert edge_key is not None, "no row group with aligned max stats"

    upd = spark.createDataFrame(
        [(10_000, "U", edge_key[0], edge_key[1], "cafebabe", "python",
          "EDGE-UPDATED CONTENT v2", 0)],
        "seq long, op string, repo string, path string, commit string, "
        "lang string, content string, part int",
    ).withColumn("ts", F.timestamp_millis(F.lit(1767225600000) + F.col("seq")))
    pipe.apply_epoch(upd, 1)

    def _edge_row(df):
        return df.where(
            (F.col("repo") == edge_key[0]) & (F.col("path") == edge_key[1])
        ).select("commit", "content_sha256").collect()

    whole = _digest(pipe.table.read())
    assert _edge_row(pipe.table.read())[0]["commit"] == "cafebabe"

    monkeypatch.setattr(LakeTable, "merge_range_target_bytes", 1)
    ranged_df = pipe.table.read()
    assert _digest(ranged_df) == whole
    rows = _edge_row(ranged_df)
    assert len(rows) == 1 and rows[0]["commit"] == "cafebabe"

    # fused ranged compaction must also keep the edge update (permanent
    # loss there, not just a read artifact)
    pipe.table.compact_buckets([0])
    rows = _edge_row(pipe.table.read())
    assert len(rows) == 1 and rows[0]["commit"] == "cafebabe"


def test_ranged_merge_bounded_memory_path(spark, tmp_path, monkeypatch):
    """Buckets above merge_range_target_bytes merge range-by-range (the
    bounded-memory path for 100GB buckets). Force it on toy data — tiny
    threshold + small row groups so the big file yields multiple range
    candidates — and pin byte-identical results vs the whole-bucket path,
    for both the read and the fused-compaction write. The compaction has
    more ranges than slots, so it runs at most defaultParallelism tasks
    and ranges of one bucket share a task; each range must still land as
    its own file (a per-row file index would overwrite one range's file
    with the next and lose its rows)."""
    from foundry_es_spark.lake import LakeTable
    from foundry_es_spark.lake import table as table_mod
    from foundry_es_spark.lake.table import KEY_SEP, bucket_expr

    tmp = str(tmp_path)
    ev = gen_change_events(spark, n_events=5000, n_keys=600, hot_frac=0.3)
    write_event_log(ev, f"{tmp}/events", epoch_size=1000)

    # few buckets → each bucket holds many keys/rows; small row groups on
    # the fused-compaction output give _plan_key_ranges real candidates
    monkeypatch.setattr(LakeTable, "parquet_row_group_rows", 40)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(pipeline_id="rng", table_dir=f"{tmp}/t", n_buckets=2,
                       compact_threshold=3),
    )
    pipe.replay_event_dir(f"{tmp}/events")
    assert any(f.get("delta") for f in pipe.table._current()["files"])

    whole = _digest(pipe.table.read())

    monkeypatch.setattr(LakeTable, "merge_range_target_bytes", 1)
    ranged = _digest(pipe.table.read())
    assert ranged == whole

    # fused compaction through the ranged path: one file per range that
    # holds a key (edges come from per-column row-group stats, so a range
    # can hold none), state unchanged, and subsequent pure-base read
    # identical
    t = pipe.table
    keys = t.read_internal().select(
        bucket_expr(2).alias("b"), F.concat_ws(KEY_SEP, "repo", "path").alias("k")
    ).collect()
    packed = []
    pack = table_mod._pack_bins

    def spy(items, weights, k):
        packed.append(pack(items, weights, k))
        return packed[-1]

    monkeypatch.setattr(table_mod, "_pack_bins", spy)
    sc = spark.sparkContext
    sc.setJobGroup("ranged-compaction", "ranged compaction")
    try:
        stats = t.compact_buckets([0, 1])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    (bins,) = packed
    n_ranges = sum(
        any(r["b"] == b and lo < r["k"] <= hi for r in keys)
        for bin_ in bins for b, _, _, lo, hi in bin_
    )
    assert n_ranges > sc.defaultParallelism, "need more ranges than slots"
    assert any(len({row[0] for row in bin_}) < len(bin_) for bin_ in bins), (
        "expected two ranges of one bucket in one task"
    )
    tracker = sc.statusTracker()
    tasks = [
        tracker.getStageInfo(s).numTasks
        for j in tracker.getJobIdsForGroup("ranged-compaction")
        for s in tracker.getJobInfo(j).stageIds
    ]
    assert tasks and max(tasks) <= sc.defaultParallelism, tasks
    assert stats["files_written"] == n_ranges
    paths = [f["path"] for f in t._current()["files"]]
    assert len(paths) == len(set(paths)) == n_ranges
    assert not any(f.get("delta") for f in t._current()["files"])
    assert _digest(t.read()) == whole


def test_pack_bins_balances_largest_first():
    """The merge's packing helper (Spark-free): every item lands in exactly
    one bin, there are at most k bins, and the heaviest bin is at most one
    item above the mean load."""
    import random

    from foundry_es_spark.lake.table import _pack_bins

    rng = random.Random(7)
    for n in (1, 2, 5, 16, 40):
        for k in (1, 3, 4, 16, 64):
            weights = [rng.choice([0, 1, rng.randrange(10**6)]) for _ in range(n)]
            bins = _pack_bins(list(range(n)), weights, k)
            assert 1 <= len(bins) <= k
            assert sorted(i for b in bins for i in b) == list(range(n))
            mean = sum(weights) / min(k, n)
            heaviest = max(sum(weights[i] for i in b) for b in bins)
            assert heaviest <= mean + max(weights)


def test_compaction_splits_hot_bucket_into_parallel_range_tasks(
    spark, tmp_path, monkeypatch
):
    """A skewed bucket (one hot repo = a large share of the table) used to
    rewrite in ONE task during fused compaction — a straggler that caps the
    maintenance job's wall time at any cluster width. The driver now splits
    buckets above merge_range_target_bytes into per-range tasks (one footer
    read of the bucket's largest file); state must be byte-identical to the
    unsplit rewrite and the hot bucket must land as multiple range files."""
    from foundry_es_spark.lake import LakeTable

    tmp = str(tmp_path)
    ev1 = gen_change_events(spark, n_events=4000, n_keys=800, hot_frac=0.5)
    write_event_log(ev1, f"{tmp}/ev1", epoch_size=2000)
    ev2 = gen_change_events(spark, n_events=2000, n_keys=800, hot_frac=0.5)
    # shift past ev1's seq space so the second wave merges as fresh updates
    ev2 = ev2.withColumn("seq", F.col("seq") + F.lit(4000))
    write_event_log(ev2, f"{tmp}/ev2", epoch_size=1000)

    # small row groups on the compacted base give the split real candidates
    monkeypatch.setattr(LakeTable, "parquet_row_group_rows", 50)

    def build(name, second_target=None):
        p = CdcPipeline(
            spark,
            PipelineConfig(pipeline_id=name, table_dir=f"{tmp}/{name}",
                           n_buckets=4, compact_threshold=999),
        )
        p.replay_event_dir(f"{tmp}/ev1")
        p.table.compact_buckets(list(range(4)))  # multi-row-group base
        p.replay_event_dir(f"{tmp}/ev2")
        if second_target is not None:
            monkeypatch.setattr(LakeTable, "merge_range_target_bytes",
                                second_target)
        p.table.compact_buckets(list(range(4)))
        monkeypatch.setattr(LakeTable, "merge_range_target_bytes",
                            512 * 1024 * 1024)
        return p

    ref = build("ref")
    ref_digest = _digest(ref.table.read())
    ref_files = {}
    for f in ref.table._current()["files"]:
        ref_files[f["bucket"]] = ref_files.get(f["bucket"], 0) + 1
    assert set(ref_files.values()) == {1}, "unsplit rewrite: one file/bucket"

    import os as _os

    # size the threshold off the reference's hot bucket so only it splits
    sizes = {}
    for f in ref.table._current()["files"]:
        fp = _os.path.join(ref.table.table_dir, f["path"])
        sizes[f["bucket"]] = sizes.get(f["bucket"], 0) + _os.path.getsize(fp)
    hot_bucket = max(sizes, key=sizes.get)

    split = build("split", second_target=int(sizes[hot_bucket] / 2))
    by_bucket = {}
    for f in split.table._current()["files"]:
        by_bucket[f["bucket"]] = by_bucket.get(f["bucket"], 0) + 1
    assert by_bucket[hot_bucket] >= 2, "hot bucket must split into range files"
    assert _digest(split.table.read()) == ref_digest
    # selective point lookup still prunes and answers correctly
    one = split.table.read().limit(1).collect()[0]
    got = split.table.read(repos=[one["repo"]]).where(
        F.col("path") == one["path"]
    ).collect()
    assert len(got) == 1 and got[0]["content_sha256"] == one["content_sha256"]
