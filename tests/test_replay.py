"""M1 end-to-end: batch replay of a tiny event log == pandas fold oracle.

The oracle is an independent single-node fold (foundry_es_spark.oracle);
the engine must reproduce it per-row on `sha2(content,256)` — the
BASELINE.json correctness invariant.
"""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from foundry_es_spark.fixtures import gen_change_events, write_event_log
from foundry_es_spark.oracle import fold_events, table_digest
from foundry_es_spark.plans import CdcPipeline, PipelineConfig


def _replay(spark, tmp_path, n_events=5000, n_keys=400, **cfg_kw):
    events = gen_change_events(spark, n_events=n_events, n_keys=n_keys, lines_mod=30)
    ev_dir = str(tmp_path / "events")
    write_event_log(events, ev_dir, epoch_size=1000)
    pipe = CdcPipeline(
        spark,
        PipelineConfig(
            pipeline_id="t", table_dir=str(tmp_path / "table"), n_buckets=8, **cfg_kw
        ),
    )
    results = pipe.replay_event_dir(ev_dir)
    return pipe, events, results


def _check_against_oracle(pipe, events):
    expected = fold_events(events.toPandas())
    got = (
        pipe.table.read()
        .select("repo", "path", "commit", "lang", "content_sha256")
        .toPandas()
        .sort_values(["repo", "path"])
        .reset_index(drop=True)
    )
    exp = expected[["repo", "path", "commit", "lang", "content_sha256"]].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, exp)
    return expected


def test_replay_matches_oracle(spark, tmp_path):
    pipe, events, results = _replay(spark, tmp_path)
    expected = _check_against_oracle(pipe, events)
    assert all(not r["skipped"] for r in results)
    # engine-side digest equals oracle digest (golden rollup, SURVEY.md §5.2)
    got_pd = (
        pipe.table.read()
        .select("repo", "path", "commit", "lang", "content_sha256")
        .toPandas()
    )
    assert table_digest(got_pd) == table_digest(expected)


def test_normalized_columns_populated(spark, tmp_path):
    pipe, events, _ = _replay(spark, tmp_path, n_events=1000, n_keys=100)
    row = pipe.table.read().where(F.col("content").isNotNull()).first()
    assert row.n_lines == row.content.count("\n") + 1
    assert row.n_chars == len(row.content)
    assert row.meta.title == row.content.split("\n", 1)[0].strip()[:120]
    assert row.meta.n_words > 0


@pytest.mark.filterwarnings("error::FutureWarning")
def test_dats_meta_udf_body_nulls_only_null_content(monkeypatch):
    """Spark-free: the DATS meta UDF's pandas body gives all-null fields
    for a null-content row and the Arrow core's values for the others; a
    batch without null content keeps its native dtypes (assigning NA into
    its bool column warned in pandas 2.x, an error in a future pandas)."""
    import pyarrow as pa

    from foundry_es_spark import arrowpin
    from foundry_es_spark.functions.normalize import (
        DATS_META_TYPE,
        dats_meta_arrow,
        dats_normalize_meta,
    )

    monkeypatch.setattr(arrowpin, "prepare_task_worker", lambda: None)  # worker-only hook
    texts = ["MIT License\nx = deadbeef01", None, "def f():\n    return 1"]
    ref = dats_meta_arrow(pa.array(texts, pa.string())).to_pylist()
    out = dats_normalize_meta.func(pd.Series(texts, dtype=object))
    assert list(out.columns) == [f.name for f in DATS_META_TYPE.fields]
    assert out.iloc[1].isna().all()
    assert [out.iloc[i].to_dict() for i in (0, 2)] == [ref[0], ref[2]]
    full = dats_normalize_meta.func(pd.Series([texts[0], texts[2]]))
    assert full.to_dict("records") == [ref[0], ref[2]]


def test_nested_dats_column(spark, tmp_path):
    """SURVEY §1.1 nested model: dats.identifiers[]/dates[] arrays of
    structs, populated from content, null on tombstone-shaped content."""
    import re

    pipe, events, _ = _replay(spark, tmp_path, n_events=600, n_keys=60)
    row = pipe.table.read().where(F.col("content").isNotNull()).first()
    hexes = sorted(set(re.findall(r"\b[0-9a-f]{8,64}\b", row.content)))
    assert [i.value for i in row.dats.identifiers] == hexes
    assert all(i.scheme in ("hex", "sha1", "sha256") for i in row.dats.identifiers)
    # dates extraction on crafted content (fixtures carry no ISO dates)
    from foundry_es_spark.functions.normalize import dats_nested_expr

    df = spark.createDataFrame(
        [("deadbeef00 released 2023-05-17, again 2023-05-17 and 2024-01-02",),
         (None,)],
        "content string",
    ).select(dats_nested_expr("content").alias("dats"))
    got = df.collect()
    assert [d.raw for d in got[0].dats.dates] == ["2023-05-17", "2024-01-02"]
    assert str(got[0].dats.dates[0].d) == "2023-05-17"
    assert got[0].dats.identifiers[0].value == "deadbeef00"
    assert got[1].dats is None


def test_lineage_and_offsets(spark, tmp_path):
    pipe, events, results = _replay(spark, tmp_path, n_events=3000, n_keys=200)
    lin = pipe.lineage().toPandas()
    assert len(lin) == len(results)
    assert (lin["n_keys"] > 0).all()
    offs = pipe.offsets().toPandas()
    # per-partition max_seq is monotone across epochs
    for _, grp in offs.groupby("part"):
        ms = grp.sort_values("epoch")["max_seq"].tolist()
        assert ms == sorted(ms)


def test_dead_letters_quarantined(spark, tmp_path):
    """Malformed events go to the _sys/errors table, never break the epoch."""
    events = gen_change_events(spark, n_events=1000, n_keys=100, lines_mod=20)
    bad = spark.createDataFrame(
        [(99999, None, "U", None, "p", None, None, None, 0)],
        "seq long, ts timestamp, op string, repo string, path string, "
        "commit string, lang string, content string, part long",
    )
    ev_dir = str(tmp_path / "events")
    write_event_log(events.unionByName(bad), ev_dir, epoch_size=100000)
    pipe = CdcPipeline(
        spark, PipelineConfig(pipeline_id="t", table_dir=str(tmp_path / "table"))
    )
    pipe.replay_event_dir(ev_dir)
    assert pipe.dead_letters().count() == 1
    _check_against_oracle(pipe, events)


def test_calendar_invalid_date_token_is_not_a_poison_pill(spark, tmp_path):
    """Content containing a regex-valid but calendar-invalid date token
    (e.g. 2024-13-99) passes validity and MUST NOT fail the epoch under
    Spark 4's default ANSI mode (review finding r1): the dats.dates entry
    keeps the raw token with a null parsed date."""
    from pyspark.sql import functions as F

    rows = [
        (0, "org/r", "a.txt", "c0", "py",
         "released 2024-01-02 then 2024-13-99 happened", 0, "I"),
    ]
    batch = spark.createDataFrame(
        rows, "seq long, repo string, path string, commit string, lang string, "
              "content string, part long, op string",
    )
    pipe = CdcPipeline(
        spark, PipelineConfig(pipeline_id="poison", table_dir=str(tmp_path / "t"))
    )
    res = pipe.apply_epoch(batch, 0)  # must not raise
    assert res["n_keys"] == 1 and res["n_dead_letters"] == 0
    row = pipe.table.read().select(F.col("dats.dates").alias("dates")).collect()[0]
    by_raw = {d["raw"]: d["d"] for d in row["dates"]}
    assert by_raw["2024-13-99"] is None
    assert str(by_raw["2024-01-02"]) == "2024-01-02"


def test_spark_table_digest_matches_pandas_oracle(spark, tmp_path):
    """run_replay's --verify-digest rollup must be BIT-identical to the
    pandas oracle's table_digest (sort by (repo,path) tuples — not rendered
    lines, where '|' outsorts digits and flips repo1/repo10 — trailing
    newline per line, None rendering) and deterministic under any physical
    layout (the old orderBy+collect_list form was cross-partition
    order-unstable)."""
    from foundry_es_spark.oracle import spark_table_digest

    tmp = str(tmp_path)
    events = gen_change_events(spark, n_events=3000, n_keys=400, n_repos=25)
    write_event_log(events, f"{tmp}/events", epoch_size=1000)
    pipe = CdcPipeline(
        spark, PipelineConfig(pipeline_id="dg", table_dir=f"{tmp}/t", n_buckets=4)
    )
    pipe.replay_event_dir(f"{tmp}/events")
    state = pipe.table.read()
    want = table_digest(
        state.select("repo", "path", "commit", "lang", "content_sha256").toPandas()
    )
    assert spark_table_digest(state) == want
    assert spark_table_digest(state.repartition(13)) == want
    assert spark_table_digest(state.coalesce(1)) == want
    # replication shape: digest from content when no stored sha column
    assert spark_table_digest(state.drop("content_sha256")) == want
