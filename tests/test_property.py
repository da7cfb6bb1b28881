"""Property-based replay correctness (SURVEY.md §5.2 item: hypothesis) and
the committed golden digest (item 3).

The hypothesis test generates adversarial event logs — key collisions,
delete/re-insert cycles, arbitrary epoch boundaries — and checks the engine's final state against the pure-pandas
fold oracle, which shares no code with the engine.
"""

from __future__ import annotations

import pandas as pd
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from foundry_es_spark.fixtures import gen_change_events, write_event_log
from foundry_es_spark.oracle import fold_events, table_digest
from foundry_es_spark.plans import CdcPipeline, PipelineConfig

REPOS = ["org0/alpha", "org1/beta", "org1/hot"]
PATHS = [f"src/f{i}.py" for i in range(5)]

EVENT_ST = st.tuples(
    st.integers(0, len(REPOS) - 1),
    st.integers(0, len(PATHS) - 1),
    st.sampled_from(["I", "U", "D"]),
    st.text(alphabet="abc\n", min_size=0, max_size=12),
)


@st.composite
def event_logs(draw):
    evs = draw(st.lists(EVENT_ST, min_size=1, max_size=60))
    n_epochs = draw(st.integers(1, 3))
    return evs, n_epochs


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(event_logs())
def test_replay_matches_fold_oracle(spark, tmp_path_factory, log):
    evs, n_epochs = log
    tmp = str(tmp_path_factory.mktemp("prop"))
    rows = []
    for seq, (ri, pi, op, text) in enumerate(evs):
        rows.append(
            {
                "seq": seq,
                "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=seq),
                "op": op,
                "repo": REPOS[ri],
                "path": PATHS[pi],
                "commit": None if op == "D" else f"c{seq}",
                "lang": None if op == "D" else "python",
                "content": None if op == "D" else text,
            }
        )
    pdf = pd.DataFrame(rows)
    sdf = spark.createDataFrame(
        pdf,
        "seq long, ts timestamp, op string, repo string, path string, "
        "commit string, lang string, content string",
    ).withColumn("part", F.pmod(F.xxhash64("repo"), F.lit(2)))

    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            pipeline_id="p",
            table_dir=f"{tmp}/t",
            n_buckets=4,
        ),
    )
    per_epoch = max(1, (len(rows) + n_epochs - 1) // n_epochs)
    for e in range(n_epochs):
        chunk = sdf.where(
            (F.col("seq") >= e * per_epoch) & (F.col("seq") < (e + 1) * per_epoch)
        )
        pipe.apply_epoch(chunk, e)

    got = (
        pipe.table.read()
        .select("repo", "path", "commit", "lang", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    exp = fold_events(pdf)[["repo", "path", "commit", "lang", "content_sha256"]].reset_index(
        drop=True
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


PATCH_EVENT_ST = st.tuples(
    st.integers(0, len(REPOS) - 1),
    st.integers(0, len(PATHS) - 1),
    st.sampled_from(["I", "U", "D", "P", "P"]),  # patches over-weighted
    st.text(alphabet="abc\n", min_size=0, max_size=12),
    st.integers(0, 7),  # P only: bitmask of which of (commit, lang, content) are set
)


@st.composite
def patch_logs(draw):
    evs = draw(st.lists(PATCH_EVENT_ST, min_size=1, max_size=60))
    n_epochs = draw(st.integers(1, 3))
    return evs, n_epochs


@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(patch_logs())
def test_patch_replay_matches_patch_fold_oracle(spark, tmp_path_factory, log):
    """C9 adversarial interleavings: patches before/after deletes, orphan
    patches, all-null patches, patches split across arbitrary epoch
    boundaries — engine (net-'P' rows stored sparse, folded by the MoR
    merge at read) vs the row-at-a-time patch fold oracle."""
    from foundry_es_spark.oracle import fold_events_patch

    evs, n_epochs = log
    tmp = str(tmp_path_factory.mktemp("patchprop"))
    rows = []
    for seq, (ri, pi, op, text, mask) in enumerate(evs):
        if op == "P":
            commit = f"pc{seq}" if mask & 1 else None
            lang = "go" if mask & 2 else None
            content = (text + "!") if mask & 4 else None
        else:
            commit = None if op == "D" else f"c{seq}"
            lang = None if op == "D" else "python"
            content = None if op == "D" else text
        rows.append(
            {
                "seq": seq,
                "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=seq),
                "op": op,
                "repo": REPOS[ri],
                "path": PATHS[pi],
                "commit": commit,
                "lang": lang,
                "content": content,
            }
        )
    pdf = pd.DataFrame(rows)
    sdf = spark.createDataFrame(
        pdf,
        "seq long, ts timestamp, op string, repo string, path string, "
        "commit string, lang string, content string",
    ).withColumn("part", F.pmod(F.xxhash64("repo"), F.lit(2)))

    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            pipeline_id="p",
            table_dir=f"{tmp}/t",
            n_buckets=4,
            patch_ops=True,
        ),
    )
    per_epoch = max(1, (len(rows) + n_epochs - 1) // n_epochs)
    for e in range(n_epochs):
        chunk = sdf.where(
            (F.col("seq") >= e * per_epoch) & (F.col("seq") < (e + 1) * per_epoch)
        )
        pipe.apply_epoch(chunk, e)

    got = (
        pipe.table.read()
        .select("repo", "path", "commit", "lang", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    exp = fold_events_patch(pdf)[
        ["repo", "path", "commit", "lang", "content_sha256"]
    ].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)


# Golden digest for the fixed corpus (deterministic fixtures, seedless hash
# derivation): regenerating the fixture MUST reproduce this digest. If an
# intentional fixture/engine-semantics change breaks it, update the constant
# in the same commit and say why. Captured 2026-08-17 from the replay of
# gen_change_events(n_events=2500, n_keys=300, lines_mod=10).
GOLDEN_DIGEST = "34bc8959a74c09551b59527dd2e0c3a4c3a0a3279c9e2bc6639d7bb5f6ec4856"


def test_golden_digest_fixed_corpus(spark, tmp_path):
    tmp = str(tmp_path)
    ev = gen_change_events(spark, n_events=2500, n_keys=300, lines_mod=10)
    write_event_log(ev, f"{tmp}/events", epoch_size=1000)
    pipe = CdcPipeline(spark, PipelineConfig(pipeline_id="g", table_dir=f"{tmp}/t"))
    pipe.replay_event_dir(f"{tmp}/events")
    got = pipe.table.read().select("repo", "path", "commit", "lang", "content_sha256").toPandas()
    digest = table_digest(got)
    assert digest == GOLDEN_DIGEST, digest


# ------------------------------------------------------- lifecycle chaos

ACTIONS = [
    "compact", "expire", "vacuum", "redeliver", "resume", "derived",
    "rollback", "gc_tombstones", "none",
]


@st.composite
def chaos_logs(draw):
    evs = draw(st.lists(EVENT_ST, min_size=1, max_size=50))
    n_epochs = draw(st.integers(1, 4))
    actions = draw(
        st.lists(st.sampled_from(ACTIONS), min_size=n_epochs, max_size=n_epochs)
    )
    return evs, n_epochs, actions


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)
@given(chaos_logs())
def test_lifecycle_chaos_matches_fold_oracle(spark, tmp_path_factory, log):
    """Arbitrary interleavings of epochs with maintenance — compaction,
    snapshot expiry, retained vacuum, duplicate delivery, process resume,
    derived refreshes, and rollback-then-replay recovery — must never
    change WHAT the table (or its derived rollup) says, only how it is
    stored."""
    from foundry_es_spark.plans import DerivedConfig, DerivedTablePipeline

    evs, n_epochs, actions = log
    tmp = str(tmp_path_factory.mktemp("chaos"))
    rows = []
    for seq, (ri, pi, op, text) in enumerate(evs):
        rows.append(
            {
                "seq": seq,
                "ts": pd.Timestamp("2026-01-01") + pd.Timedelta(seconds=seq),
                "op": op,
                "repo": REPOS[ri],
                "path": PATHS[pi],
                "commit": None if op == "D" else f"c{seq}",
                "lang": None if op == "D" else "python",
                "content": None if op == "D" else text,
            }
        )
    pdf = pd.DataFrame(rows)
    sdf = spark.createDataFrame(
        pdf,
        "seq long, ts timestamp, op string, repo string, path string, "
        "commit string, lang string, content string",
    ).withColumn("part", F.pmod(F.xxhash64("repo"), F.lit(2)))

    def mk_pipe():
        return CdcPipeline(
            spark,
            PipelineConfig(
                pipeline_id="p",
                table_dir=f"{tmp}/t",
                n_buckets=4,
                compact_threshold=2,
            ),
        )

    pipe = mk_pipe()
    d = DerivedTablePipeline(
        spark,
        pipe.table,
        DerivedConfig(name="chaos", derived_dir=f"{tmp}/d", n_buckets=4),
        [F.count("*").alias("n_paths")],
    )
    from foundry_es_spark.lake import log as commitlog

    per_epoch = max(1, (len(rows) + n_epochs - 1) // n_epochs)
    for e in range(n_epochs):
        chunk = sdf.where(
            (F.col("seq") >= e * per_epoch) & (F.col("seq") < (e + 1) * per_epoch)
        )
        v_before = commitlog.current_version(f"{tmp}/t")
        pipe.apply_epoch(chunk, e)
        act = actions[e]
        if act == "rollback" and v_before is not None:
            # undo this epoch (and any auto-compaction it triggered), then
            # re-apply it: fences reverted => NOT skipped, and the final
            # state must still match the oracle exactly
            pipe.table.rollback(v_before)
            assert pipe.apply_epoch(chunk, e)["skipped"] is False
        elif act == "compact":
            pipe.table.compact(files_per_bucket=1)
        elif act == "expire":
            pipe.table.expire_snapshots(keep_last=2)
        elif act == "vacuum":
            pipe.table.vacuum(keep_snapshots=1)
        elif act == "redeliver":
            assert pipe.apply_epoch(chunk, e)["skipped"] is True
        elif act == "resume":
            pipe = mk_pipe()
        elif act == "derived":
            d.refresh()
        elif act == "gc_tombstones":
            # low watermark = end of this epoch's consumed seq range: every
            # event at or below it has been delivered, so the purge must be
            # invisible to all later epochs, re-deliveries, and reads
            pipe.table.purge_tombstones(horizon_seq=(e + 1) * per_epoch - 1)

    got = (
        pipe.table.read()
        .select("repo", "path", "commit", "lang", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    exp = fold_events(pdf)[["repo", "path", "commit", "lang", "content_sha256"]].reset_index(
        drop=True
    )
    pd.testing.assert_frame_equal(got, exp, check_dtype=False)

    # derived rollup catches up to the same truth regardless of what
    # maintenance ran in between (expiry may force its full-recompute path)
    d.refresh()
    got_d = sorted(tuple(r) for r in d.read().collect())
    exp_d = sorted(
        tuple(r)
        for r in pipe.table.read().groupBy("repo").agg(F.count("*").alias("n_paths")).collect()
    )
    assert got_d == exp_d
