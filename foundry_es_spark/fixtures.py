"""Deterministic fixture generation (FIXTURES.md F1/F2/F3), Spark-native.

Everything is derived from integer hashes of (seed, seq/key) with Spark's
built-in hash/sha functions — no wall clock, no RNG state, no per-row
Python — so regeneration is bit-identical at any scale and generation
itself is distributed (the 10^6–10^7-event bench log is produced by the
same code path as the 10k unit-test log).

The reference analogue is the harvest-description-driven ingestors that
produce document envelopes `[F-ES: consumers/.../ingestors — UNVERIFIED,
SURVEY.md §0]`; here the "harvest" is a synthesized binlog.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EPOCH_TS_MS = 1767225600000  # 2026-01-01T00:00:00Z
LANG_EXTS = [
    ("py", "python"),
    ("scala", "scala"),
    ("java", "java"),
    ("sql", "sql"),
    ("md", "markdown"),
    ("json", "json"),
    ("yaml", "yaml"),
    ("c", "c"),
]


def _key_cols(key_col: str, n_repos: int, n_orgs: int, lines_mod: int):
    """repo/path/lang/n_lines expressions derived from an integer key column.

    FIXTURES.md F1 rules: repo = org{(r*2654435761) % n_orgs}/repo{r};
    path = src/{d1}/{d2}/file_{j}.{ext}; n_lines = 5 + hash(path) % lines_mod.
    """
    k = F.col(key_col)
    repo_idx = F.pmod(k, F.lit(n_repos))
    org_idx = F.pmod(repo_idx * F.lit(2654435761), F.lit(n_orgs))
    ext_idx = F.pmod(F.xxhash64(k, F.lit("ext")), F.lit(len(LANG_EXTS)))
    ext_arr = F.array(*[F.lit(e) for e, _ in LANG_EXTS])
    lang_arr = F.array(*[F.lit(l) for _, l in LANG_EXTS])
    repo = F.concat(F.lit("org"), org_idx.cast("string"), F.lit("/repo"), repo_idx.cast("string"))
    d1 = F.pmod(F.xxhash64(k, F.lit("d1")), F.lit(7))
    d2 = F.pmod(F.xxhash64(k, F.lit("d2")), F.lit(11))
    file_j = (k / F.lit(n_repos)).cast("long")
    path = F.concat(
        F.lit("src/d"), d1.cast("string"), F.lit("/d"), d2.cast("string"),
        F.lit("/file_"), file_j.cast("string"), F.lit("."),
        F.element_at(ext_arr, (ext_idx + 1).cast("int")),
    )
    lang = F.element_at(lang_arr, (ext_idx + 1).cast("int"))
    n_lines = F.lit(5) + F.pmod(F.xxhash64(path), F.lit(lines_mod))
    return repo, path, lang, n_lines


def _content_expr(repo, path, version, n_lines):
    """Deterministic multi-line body, new per version (FIXTURES.md F1/F2).

    line k = "line {k}: " + sha256(repo|path|version|k)[:32] — built with
    higher-order functions so content synthesis stays inside whole-stage
    codegen (no Python).
    """
    lines = F.transform(
        F.sequence(F.lit(0), (n_lines - 1).cast("int")),
        lambda i: F.concat(
            F.lit("line "), i.cast("string"), F.lit(": "),
            F.substring(
                F.sha2(
                    F.concat_ws("|", repo, path, version.cast("string"), i.cast("string")),
                    256,
                ),
                1, 32,
            ),
        ),
    )
    return F.array_join(lines, "\n")


def gen_base_snapshot(
    spark: SparkSession,
    n_rows: int = 500,
    n_repos: int = 20,
    n_orgs: int = 7,
    lines_mod: int = 200,
) -> DataFrame:
    """F1 `repos_base` initial snapshot: one row per key, version 0."""
    df = spark.range(n_rows).withColumnRenamed("id", "key")
    repo, path, lang, n_lines = _key_cols("key", n_repos, n_orgs, lines_mod)
    v0 = F.lit(0)
    return df.select(
        repo.alias("repo"),
        path.alias("path"),
        F.sha1(F.concat_ws("|", repo, path, F.lit("0"))).alias("commit"),
        lang.alias("lang"),
        _content_expr(repo, path, v0, n_lines).alias("content"),
    )


def gen_change_events(
    spark: SparkSession,
    n_events: int = 10_000,
    n_keys: int = 2_000,
    n_repos: int = 20,
    n_orgs: int = 7,
    hot_frac: float = 0.0,
    lines_mod: int = 200,
    n_parts: int = 8,
) -> DataFrame:
    """F2 `change_events`: ordered binlog with op ∈ {I,U,D}.

    - event seq → key via xxhash64 (uniform), except a `hot_frac` slice
      forced onto repo 0's keys (the skew knob).
    - first event per key = I; later events U (~85%) / D (~5%) / re-I
      (~10%) by hash draw (FIXTURES.md F2 ratios; the re-I is not
      constrained to follow a D — the fold oracle and the engine both
      treat I and U as upsert, so net semantics are unaffected).
    - `version` = per-key occurrence counter (drives commit + content).
    - `part` = pmod(xxhash64(repo), n_parts): the stream partition; seq is
      monotone within a key's partition by construction (global monotone).
    """
    df = spark.range(n_events).withColumnRenamed("id", "seq")
    hot_cut = int(hot_frac * 1_000_000)
    keys_per_repo = max(1, n_keys // n_repos)
    uniform_key = F.pmod(F.xxhash64("seq", F.lit("key")), F.lit(n_keys))
    # hot keys are exactly the keys whose repo_idx == 0, i.e. k ≡ 0 (mod n_repos)
    hot_key = F.pmod(F.xxhash64("seq", F.lit("hotk")), F.lit(keys_per_repo)) * F.lit(n_repos)
    is_hot = F.pmod(F.xxhash64("seq", F.lit("hot")), F.lit(1_000_000)) < F.lit(hot_cut)
    df = df.withColumn("key", F.when(is_hot, hot_key).otherwise(uniform_key))

    # per-key occurrence index without a window: count of prior events per
    # key would need a shuffle sort anyway; use row_number for exactness.
    from pyspark.sql import Window as W

    w = W.partitionBy("key").orderBy("seq")
    df = df.withColumn("version", F.row_number().over(w) - 1)

    repo, path, lang, n_lines = _key_cols("key", n_repos, n_orgs, lines_mod)
    draw = F.pmod(F.xxhash64("seq", F.lit("op")), F.lit(100))
    op = (
        F.when(F.col("version") == 0, F.lit("I"))
        .when(draw < 85, F.lit("U"))
        .when(draw < 90, F.lit("D"))
        .otherwise(F.lit("I"))
    )
    version = F.col("version")
    content = _content_expr(repo, path, version, n_lines)
    out = df.select(
        F.col("seq"),
        F.timestamp_millis(F.lit(EPOCH_TS_MS) + F.col("seq") * 10).alias("ts"),
        op.alias("op"),
        repo.alias("repo"),
        path.alias("path"),
        F.when(op != "D", F.sha1(F.concat_ws("|", repo, path, version.cast("string")))).alias("commit"),
        F.when(op != "D", lang).alias("lang"),
        F.when(op != "D", content).alias("content"),
    )
    return out.withColumn("part", F.pmod(F.xxhash64("repo"), F.lit(n_parts)))


def as_patch_events(events: DataFrame, every: int = 3) -> DataFrame:
    """Deterministically convert ~1/`every` of the U events into sparse
    ``op='P'`` patches (operators/cdc.py fold_key_runs semantics): variant A patches
    content+commit (lang unset), variant B patches lang only (content and
    commit unset, the value suffixed so the patch is observable). The
    remaining events pass through unchanged — the result is a valid patch
    stream whose full-image equivalent a test can derive by folding."""
    draw = F.pmod(F.xxhash64("seq", F.lit("patch")), F.lit(every * 2))
    to_patch = (F.col("op") == "U") & (draw < 2)
    variant_a = draw == 0  # content patch; draw == 1 -> lang patch
    cols = [
        F.col("seq"),
        F.col("ts"),
        F.when(to_patch, F.lit("P")).otherwise(F.col("op")).alias("op"),
        F.col("repo"),
        F.col("path"),
        F.when(to_patch & ~variant_a, F.lit(None).cast("string"))
        .otherwise(F.col("commit"))
        .alias("commit"),
        F.when(to_patch & variant_a, F.lit(None).cast("string"))
        .when(
            to_patch,
            F.concat(F.col("lang"), F.lit("-p"), F.pmod(F.col("seq"), F.lit(7)).cast("string")),
        )
        .otherwise(F.col("lang"))
        .alias("lang"),
        F.when(to_patch & ~variant_a, F.lit(None).cast("string"))
        .otherwise(F.col("content"))
        .alias("content"),
    ]
    if "part" in events.columns:
        cols.append(F.col("part"))
    return events.select(*cols)


def write_event_log(
    events: DataFrame,
    out_dir: str,
    epoch_size: int = 2_000,
) -> int:
    """Write the event log as `epoch=<e>/part=<p>/…parquet` (FIXTURES.md F2
    layout, epoch-chunked so batch replay and the file-stream source both
    consume it in bounded slices). Returns the number of epochs."""
    events = events.withColumn("epoch", (F.col("seq") / F.lit(epoch_size)).cast("long"))
    (
        events.repartition("epoch", "part")
        .sortWithinPartitions("seq")
        .write.mode("overwrite")
        .partitionBy("epoch", "part")
        .parquet(out_dir)
    )
    # epoch count from the written layout — the old max-epoch aggregate
    # executed the full (window-shuffled) generation plan a SECOND time,
    # doubling fixture cost at bench scale; and it crashed on empty input
    import os as _os

    return sum(1 for d in _os.listdir(out_dir) if d.startswith("epoch="))


def gen_evolved_events(
    spark: SparkSession,
    n_events: int = 9_000,
    s1: int | None = None,
    s2: int | None = None,
    **kwargs,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """F3 `change_events_evolved`: three schema phases of one stream.

    A: base schema (seq < s1); B: + meta_license:string, n_stars:int
    (s1 ≤ seq < s2); C: meta_license renamed → license, n_stars widened to
    long with values > 2^31 (seq ≥ s2).
    """
    s1 = s1 if s1 is not None else n_events // 3
    s2 = s2 if s2 is not None else 2 * n_events // 3
    ev = gen_change_events(spark, n_events=n_events, **kwargs)
    licenses = F.array(F.lit("mit"), F.lit("apache-2.0"), F.lit("gpl-3.0"), F.lit("bsd-3"))
    lic = F.element_at(licenses, (F.pmod(F.xxhash64("repo"), F.lit(4)) + 1).cast("int"))
    stars_small = F.pmod(F.xxhash64("repo", F.lit("stars")), F.lit(100_000)).cast("int")
    stars_big = (F.pmod(F.xxhash64("repo", F.lit("stars")), F.lit(100_000)) + F.lit(2**31 + 7)).cast("long")
    phase_a = ev.where(F.col("seq") < s1)
    phase_b = (
        ev.where((F.col("seq") >= s1) & (F.col("seq") < s2))
        .withColumn("meta_license", F.when(F.col("op") != "D", lic))
        .withColumn("n_stars", F.when(F.col("op") != "D", stars_small))
    )
    phase_c = (
        ev.where(F.col("seq") >= s2)
        .withColumn("license", F.when(F.col("op") != "D", lic))
        .withColumn("n_stars", F.when(F.col("op") != "D", stars_big))
    )
    return phase_a, phase_b, phase_c


def doc_change_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic change stream over the testdata `documents` table:
    every doc is Inserted, then Updated with a revised body; every 10th
    doc is Deleted. Base-row shape per BASELINE.json input_hint
    (repo, path, commit, lang, content). Shared by the driver's flagship
    ``entry()`` and the declarative `doc_changes` ingest method
    (spec/source.py) — the spec layer reproduces entry() bit-identically
    because both run exactly this synthesis."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = d.select(
        F.concat(F.lit("corpus/"), F.col("source")).alias("repo"),
        F.concat(F.lit("docs/doc_"), F.col("doc_id"), F.lit(".txt")).alias("path"),
        F.col("lang"),
        F.col("text"),
        F.col("doc_id"),
    )

    def ev(op, seq_off, content_expr):
        return base.select(
            (F.col("doc_id") * 3 + seq_off).alias("seq"),
            F.timestamp_millis(
                F.lit(EPOCH_TS_MS) + (F.col("doc_id") * 3 + seq_off) * 10
            ).alias("ts"),
            F.lit(op).alias("op"),
            "repo",
            "path",
            F.when(
                F.lit(op) != "D",
                F.sha1(F.concat_ws("|", "repo", "path", F.lit(str(seq_off)))),
            ).alias("commit"),
            F.when(F.lit(op) != "D", F.col("lang")).alias("lang"),
            content_expr.alias("content"),
        )

    inserts = ev("I", 0, F.col("text"))
    updates = ev("U", 1, F.concat(F.col("text"), F.lit("\nrevision 2")))
    deletes = ev("D", 2, F.lit(None).cast("string")).where(
        F.pmod(F.col("doc_id"), F.lit(10)) == 0
    )
    return inserts.unionByName(updates).unionByName(deletes)
