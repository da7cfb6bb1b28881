"""M4: schema evolution end-to-end (FIXTURES.md F3): add → rename → widen
mid-stream, with resume across the boundary and old+new file reads."""

import pandas as pd
from pyspark.sql import functions as F

from foundry_es_spark.fixtures import gen_evolved_events, write_event_log
from foundry_es_spark.oracle import fold_events_multi
from foundry_es_spark.plans import CdcPipeline, PipelineConfig


def _none_nulls(df: pd.DataFrame) -> pd.DataFrame:
    """One null representation in object columns: ``toPandas`` gives None,
    while the oracle's pandas concat gives NaN for a column an earlier
    phase lacked; pandas will stop treating the two as equal."""
    out = df.copy()
    for c in out.columns[out.dtypes == object]:
        out[c] = out[c].astype(object).where(out[c].notna(), None)
    return out


def _write_phases(spark, tmp_path, n_events=3000):
    # key space ≫ events/phase so plenty of keys are touched in exactly one
    # phase — that's what exercises old-file → new-schema projection
    a, b, c = gen_evolved_events(
        spark, n_events=n_events, n_keys=1500, lines_mod=20
    )
    dirs = []
    for name, df in [("a", a), ("b", b), ("c", c)]:
        d = str(tmp_path / f"events_{name}")
        write_event_log(df, d, epoch_size=400)
        dirs.append(d)
    return (a, b, c), dirs


def test_evolution_add_rename_widen_full_replay(spark, tmp_path):
    (a, b, c), dirs = _write_phases(spark, tmp_path)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            pipeline_id="evo",
            table_dir=str(tmp_path / "table"),
            rename_map={"meta_license": "license"},
        ),
    )
    # replay the three phases as one continuous stream of epochs
    next_epoch = 0
    for d in dirs:
        import os

        for e in sorted(
            int(x.split("=")[1]) for x in os.listdir(d) if x.startswith("epoch=")
        ):
            batch = spark.read.parquet(os.path.join(d, f"epoch={e}"))
            pipe.apply_epoch(batch, next_epoch)
            next_epoch += 1

    table = pipe.table
    dtypes = dict(table.read().dtypes)
    # final schema: license:string present, n_stars widened to bigint,
    # meta_license gone (renamed, same field id)
    assert dtypes["license"] == "string"
    assert dtypes["n_stars"] == "bigint"
    assert "meta_license" not in dtypes

    expected = fold_events_multi(
        [a.toPandas(), b.toPandas(), c.toPandas()], extra_cols=["license", "n_stars"]
    )
    got = (
        table.read()
        .select("repo", "path", "commit", "content_sha256", "license", "n_stars")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    exp = expected[["repo", "path", "commit", "content_sha256", "license", "n_stars"]].reset_index(
        drop=True
    )
    got["n_stars"] = got["n_stars"].astype("Int64")
    pd.testing.assert_frame_equal(_none_nulls(got), _none_nulls(exp))

    # phase-C rows really carry the >2^31 widened values
    assert got["n_stars"].dropna().max() > 2**31

    # rows last touched in phase A read back with NULL evolved columns
    # through the field-id projection (old files, new schema)
    phase_a_keys = got[got["license"].isna()]
    assert len(phase_a_keys) > 0


def test_evolution_interacts_with_resume(spark, tmp_path):
    """Crash between phases (checkpoint written under the OLD schema),
    resume under the NEW one — SURVEY.md §7 hard part (2)."""
    (a, b, c), dirs = _write_phases(spark, tmp_path, n_events=1800)
    cfg = PipelineConfig(
        pipeline_id="evo",
        table_dir=str(tmp_path / "table"),
        rename_map={"meta_license": "license"},
    )
    import os

    def epochs_of(d):
        return [
            (os.path.join(d, f"epoch={e}"), e)
            for e in sorted(
                int(x.split("=")[1]) for x in os.listdir(d) if x.startswith("epoch=")
            )
        ]

    all_batches = [p for d in dirs for p, _ in epochs_of(d)]
    pipe = CdcPipeline(spark, cfg)
    for i, p in enumerate(all_batches[: len(all_batches) // 2]):
        pipe.apply_epoch(spark.read.parquet(p), i)
    # "crash"; new process resumes from the fence cursor
    pipe2 = CdcPipeline(spark, cfg)
    start = pipe2.table.last_epoch("evo") + 1
    for i, p in enumerate(all_batches):
        if i < start:
            continue
        pipe2.apply_epoch(spark.read.parquet(p), i)

    expected = fold_events_multi(
        [a.toPandas(), b.toPandas(), c.toPandas()], extra_cols=["license", "n_stars"]
    )
    got = (
        pipe2.table.read()
        .select("repo", "path", "content_sha256", "license")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    exp = expected[["repo", "path", "content_sha256", "license"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(_none_nulls(got), _none_nulls(exp))


def test_skew_replay_with_salting(spark, tmp_path):
    """Skew knob: one repo holds 90% of events; salting its bucket over
    ``files_per_bucket`` compaction partitions (C4) still produces
    oracle-exact state, AND no compaction partition straggles (SURVEY
    §5.2: max task duration must stay within 4x the median over loaded
    partitions — the per-partition evidence rides in the epoch's lineage
    record)."""
    from foundry_es_spark.fixtures import gen_change_events
    from foundry_es_spark.oracle import fold_events

    events = gen_change_events(
        spark, n_events=4000, n_keys=300, lines_mod=15, hot_frac=0.9
    )
    ev_dir = str(tmp_path / "events")
    write_event_log(events, ev_dir, epoch_size=1000)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            pipeline_id="skew",
            table_dir=str(tmp_path / "table"),
            files_per_bucket=4,
            record_partition_metrics=True,
            # small epochs: force a real multi-task grid (1000-row epochs /
            # 100 rows-per-task = 10 partitions) so the straggler ratio is
            # measured across genuinely parallel tasks
            compact_rows_per_task=100,
        ),
    )
    pipe.replay_event_dir(ev_dir)

    # §5.2 straggler assertion: with the hot repo salted over
    # files_per_bucket partitions, the slowest compaction task must stay
    # within 4x the median loaded-partition duration. Sub-second maxima
    # are host/scheduling noise at this test scale, not stragglers (a
    # real straggler at 10^10 events is minutes long) — the 1 s floor
    # keeps the assertion meaningful without flaking on a shared disk.
    infos = [i for i in pipe._epoch_infos() if i.get("partition_metrics")]
    assert infos, "partition metrics missing from lineage"
    for info in infos:
        pm = info["partition_metrics"]
        assert pm["n_partitions"] > 1
        assert (
            pm["max_sec"] <= max(4 * pm["median_sec"], 1.0)
        ), f"straggler partition: {pm}"
    expected = fold_events(events.toPandas())
    got = (
        pipe.table.read()
        .select("repo", "path", "commit", "lang", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    pd.testing.assert_frame_equal(
        got, expected[["repo", "path", "commit", "lang", "content_sha256"]].reset_index(drop=True)
    )
    # hot repo really dominates
    hot = events.groupBy("repo").count().orderBy(F.desc("count")).first()
    assert hot["count"] > 0.8 * 4000


def test_adaptive_hot_bucket_salting(spark, tmp_path):
    """C4 adaptive: with bucket = hash(repo), a 90%-hot repo is one hot
    bucket. Flat salting (n_salts = files_per_bucket) leaves its whole
    payload in n_salts compaction tasks — a straggler tail that caps epoch
    scaling at wide parallelism. hot_bucket_salts detects the bucket from
    the PREVIOUS epoch's kernel-reported per-bucket rows (no extra job)
    and salts it over more slices. Asserts (a) final state is byte-equal
    to the flat run and the pandas fold oracle — salting shapes task
    sizing only; (b) the hot bucket is detected after the seed epoch;
    (c) per-partition metrics show the hot epoch-0 concentration gone in
    later epochs."""
    from foundry_es_spark.fixtures import gen_change_events
    from foundry_es_spark.oracle import fold_events

    events = gen_change_events(
        spark, n_events=4000, n_keys=300, lines_mod=15, hot_frac=0.9
    )
    ev_dir = str(tmp_path / "events")
    write_event_log(events, ev_dir, epoch_size=1000)
    pipes = {}
    for tag, hot in (("flat", 0), ("adaptive", 8)):
        pipe = CdcPipeline(
            spark,
            PipelineConfig(
                pipeline_id=f"hot-{tag}",
                table_dir=str(tmp_path / f"table_{tag}"),
                record_partition_metrics=True,
                compact_rows_per_task=100,
                hot_bucket_salts=hot,
            ),
        )
        pipe.replay_event_dir(ev_dir)
        pipes[tag] = pipe

    cols = ["repo", "path", "commit", "lang", "content_sha256"]

    def _state(pipe):
        return (
            pipe.table.read()
            .select(*cols)
            .toPandas()
            .sort_values(["repo", "path"])
            .reset_index(drop=True)
        )

    flat, adaptive = _state(pipes["flat"]), _state(pipes["adaptive"])
    pd.testing.assert_frame_equal(flat, adaptive)
    exp = fold_events(events.toPandas())
    pd.testing.assert_frame_equal(adaptive, exp[cols].reset_index(drop=True))

    pipe = pipes["adaptive"]
    assert pipe._hot_buckets(), "hot bucket not detected from kernel stats"
    infos = [i for i in pipe._epoch_infos() if i.get("partition_metrics")]
    assert len(infos) >= 3
    pms = [i["partition_metrics"] for i in infos]
    # seed epoch (no stats yet): the 90%-hot repo sits in one task
    assert pms[0]["max_rows"] >= 0.8 * 1000, pms[0]
    # adapted epochs: spread over hot_bucket_salts slices (0.9/8 ≈ 0.11 per
    # slice; <= 0.5 tolerates slice-into-partition hash collisions)
    for pm in pms[1:]:
        assert pm["max_rows"] <= 0.5 * 1000, pm


def test_replay_event_dir_inplace_schema_evolution(spark, tmp_path):
    """C7 through the batch-replay entrypoint with IN-PLACE evolution: a
    later epoch in the SAME event directory adds a column. The replay's
    schema cache must re-infer on the fingerprint change — a stale cached
    schema would silently drop the new column (review finding r2)."""
    import os
    import shutil

    (a, b, c), dirs = _write_phases(spark, tmp_path, n_events=1800)
    combined = str(tmp_path / "events_all")
    os.makedirs(combined)
    e = 0
    for d in dirs:
        for src in sorted(
            (x for x in os.listdir(d) if x.startswith("epoch=")),
            key=lambda x: int(x.split("=")[1]),
        ):
            shutil.copytree(os.path.join(d, src), os.path.join(combined, f"epoch={e}"))
            e += 1

    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            pipeline_id="evo_inplace",
            table_dir=str(tmp_path / "table"),
            rename_map={"meta_license": "license"},
        ),
    )
    pipe.replay_event_dir(combined)

    dtypes = dict(pipe.table.read().dtypes)
    assert dtypes.get("license") == "string", dtypes
    assert dtypes.get("n_stars") == "bigint", dtypes
    got = (
        pipe.table.read()
        .select("repo", "path", "content_sha256", "license", "n_stars")
        .toPandas().sort_values(["repo", "path"]).reset_index(drop=True)
    )
    # later-phase columns are actually populated (not silently dropped)
    assert got["license"].notna().any()
    assert got["n_stars"].notna().any()
    expected = fold_events_multi(
        [a.toPandas(), b.toPandas(), c.toPandas()], extra_cols=["license", "n_stars"]
    )
    exp = expected[["repo", "path", "content_sha256", "license", "n_stars"]].reset_index(drop=True)
    got["n_stars"] = got["n_stars"].astype("Int64")
    pd.testing.assert_frame_equal(_none_nulls(got), _none_nulls(exp))
