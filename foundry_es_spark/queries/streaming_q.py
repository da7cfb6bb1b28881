"""Streaming query surface Q19–Q23 (SURVEY.md §2.4).

Each callable runs a real Structured Streaming query over the testdata
events (file source, availableNow trigger, memory sink) and returns the
materialized result — so the driver's oracle check exercises genuine
streaming execution, not a batch stand-in. Oracles are batch-equivalent
ANSI SQL (valid because a bounded availableNow run drops nothing).
Late-data drop semantics (which need multiple triggers to observe) are
asserted in tests/test_streaming_semantics.py instead.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from foundry_es_spark.queries.common import table

EVENTS_DDL = (
    "event_id long, ts timestamp, user_id long, event_type string, "
    "value double, props string"
)


def _nullable_pa_type(t):
    """Rebuild a pyarrow type with every (nested) field nullable.

    ``DataFrame.toArrow()`` preserves Spark's not-null markers (window
    structs are non-null), but PySpark's ``createDataFrame(pa.Table)``
    localizes struct-of-timestamp columns by rebuilding them with
    *nullable* children and then force-casts back to the original
    non-null schema — which pyarrow refuses (nullable → non-nullable
    cast). Casting the table all-nullable up front sidesteps that; the
    driver's schema check compares names+types against DuckDB, never
    nullability.
    """
    import pyarrow as pa

    if pa.types.is_struct(t):
        return pa.struct(
            [pa.field(f.name, _nullable_pa_type(f.type), nullable=True) for f in t]
        )
    if pa.types.is_list(t):
        return pa.list_(pa.field("item", _nullable_pa_type(t.value_type), nullable=True))
    if pa.types.is_map(t):
        return pa.map_(_nullable_pa_type(t.key_type), _nullable_pa_type(t.item_type))
    return t


def _detach_view(spark: SparkSession, name: str) -> DataFrame:
    """Materialize a memory-sink temp view into a standalone DataFrame and
    drop the view.

    Catalog/block hygiene (memory sinks register one temp view per run;
    the earlier localCheckpoint detach pinned its blocks for the session's
    lifetime — a storage-memory leak) without the r4 ``collect()`` +
    ``createDataFrame(rows)`` cost: per-Row Python serialization was
    ~1.75 s of q20b's 2.48 s marginal at sf0.1 (~98k rows). The Arrow
    round-trip (``toArrow()`` → ``createDataFrame(pa.Table)``) moves the
    same data columnar, ~3.4× faster, and still leaves no pinned blocks.
    Falls back to the row path for types Arrow can't carry.
    """
    import pyarrow as pa

    tbl = spark.table(name)
    try:
        pat = tbl.toArrow()
        pat = pat.cast(
            pa.schema(
                [
                    pa.field(f.name, _nullable_pa_type(f.type), nullable=True)
                    for f in pat.schema
                ]
            )
        )
        out = spark.createDataFrame(pat)
    except Exception:
        rows, schema = tbl.collect(), tbl.schema
        out = spark.createDataFrame(rows, schema)
    spark.catalog.dropTempView(name)
    return out


def _events_stream_dir(sf: str) -> str:
    """The file stream source needs a DIRECTORY; testdata ships one parquet
    file per table (read-only). Expose it through a symlink dir under the
    temp dir (``tempfile.gettempdir()``, normally /tmp)."""
    import hashlib
    import os
    import tempfile

    d = os.path.join(
        tempfile.gettempdir(),
        "foundry_stream_src",
        hashlib.md5(sf.encode()).hexdigest()[:12],
        "events",
    )
    os.makedirs(d, exist_ok=True)
    link = os.path.join(d, "part-0.parquet")
    if not os.path.exists(link):
        # two sessions may race on the same sf dir; symlink creation is
        # atomic, so losing the race (EEXIST) means the winner already
        # created an identical link — not an error
        try:
            os.symlink(os.path.abspath(f"{sf}/events.parquet"), link)
        except FileExistsError:
            pass
    return d


def _run_stream(
    spark: SparkSession, sf: str, build, n_files: int = 4, output_mode: str | None = None
) -> DataFrame:
    """Drive a bounded streaming query to completion via a memory sink.

    Streaming disables AQE, so the session's batch-sized
    ``shuffle.partitions`` (= state-store count: one store instance per
    shuffle partition, each paying init + per-trigger commit) would spawn
    ~100+ near-empty state stores per stateful stage. Stateful queries pin
    their partitioning at first checkpoint anyway, so a bounded one-shot
    run sizes it explicitly and restores the session value after.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        stream = (
            spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", max(1, n_files))
            .parquet(_events_stream_dir(sf))
        )
        out = build(stream)
        name = "q_" + uuid.uuid4().hex[:12]
        mode = output_mode or ("complete" if out.isStreaming else "append")
        q = (
            out.writeStream.outputMode(mode)
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # Catalog hygiene: the memory sink registers a temp view per run;
        # detach the result (Arrow round-trip — see _detach_view) and drop
        # the view, so repeated harness invocations accumulate neither
        # q_<uuid> tables nor pinned blocks.
        return _detach_view(spark, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


# -------------------------------------------------------------------- Q19

def q19_stream_tumbling_agg(spark, sf):
    def build(s):
        return (
            s.groupBy(F.window("ts", "1 minute").alias("w"), "event_type")
            .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total"))
            .select(F.col("w.start").alias("w_start"), "event_type", "n", "total")
        )

    return _run_stream(spark, sf, build)


Q19_SQL = """
SELECT date_trunc('minute', ts) AS w_start, event_type,
       count(*) AS n, round(sum(value), 2) AS total
FROM events GROUP BY 1, 2
"""

# -------------------------------------------------------------------- Q20

def q20_stream_sliding_agg(spark, sf):
    def build(s):
        return (
            s.groupBy(F.window("ts", "5 minutes", "1 minute").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("w_start"), "n")
        )

    return _run_stream(spark, sf, build)


# each event belongs to exactly 5 sliding windows whose starts are the 5
# minute-aligned points in (ts - 5min, ts]
Q20_SQL = """
SELECT date_trunc('minute', ts) - to_minutes(k) AS w_start, count(*) AS n
FROM events, (SELECT unnest(range(5)) AS k)
GROUP BY 1
"""


def q20b_session_windows(spark, sf):
    """Session windows (10-min gap) per user — streaming session_window."""
    def build(s):
        return (
            s.groupBy(F.session_window("ts", "10 minutes").alias("w"), "user_id")
            .agg(F.count("*").alias("n"))
            .select(
                F.col("w.start").alias("sess_start"),
                F.col("w.end").alias("sess_end"),
                "user_id",
                "n",
            )
        )

    return _run_stream(spark, sf, build)


# gaps-and-islands restatement; session end = last ts + gap (Spark
# semantics). Two boundary details make the twin exact, not approximate:
# the islands cumsum carries the SAME (ts, event_id) tie-break as the
# marked CTE (ts-only ordering made session assignment nondeterministic
# under tied timestamps), and the gap test is >= — Spark's session window
# is end-EXCLUSIVE ([start, last+gap)), so an event at exactly lag+gap
# starts a NEW session.
Q20B_SQL = """
WITH marked AS (
  SELECT user_id, ts, event_id,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                   >= INTERVAL 10 MINUTE OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_sess
  FROM events
), islands AS (
  SELECT user_id, ts,
         sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
                             ROWS UNBOUNDED PRECEDING) AS sess_id
  FROM marked
)
SELECT min(ts) AS sess_start, max(ts) + INTERVAL 10 MINUTE AS sess_end,
       user_id, count(*) AS n
FROM islands GROUP BY user_id, sess_id
"""

# -------------------------------------------------------------------- Q21

def q21_stream_watermarked_agg(spark, sf):
    """Watermarked tumbling aggregation (10-min watermark). In a bounded
    availableNow run nothing is late, so the batch oracle holds; the drop
    path is exercised in the pytest semantics suite."""
    def build(s):
        return (
            s.withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "1 minute").alias("w"))
            .agg(F.count("*").alias("n"))
            .select(F.col("w.start").alias("w_start"), "n")
        )

    return _run_stream(spark, sf, build, n_files=1)


Q21_SQL = """
SELECT date_trunc('minute', ts) AS w_start, count(*) AS n
FROM events GROUP BY 1
"""

# -------------------------------------------------------------------- Q22

def q22_stream_dedup(spark, sf):
    """Stateful dedup under duplicate delivery: the same file list is read
    twice (union in the batch source feeding the stream via two globs is
    not possible — so duplicate within the stream by exploding ×2), then
    ``dropDuplicatesWithinWatermark`` on event_id — watermarked so the
    dedup state store is BOUNDED (keys older than the watermark are
    evicted; plain dropDuplicates would grow state forever on a real
    stream). Duplicates here share a timestamp, so any delay dedups them;
    state expiry itself is asserted in tests/test_streaming_semantics.py."""
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")  # state-store count; see _run_stream
    try:
        stream = (
            spark.readStream.schema(EVENTS_DDL)
            .option("maxFilesPerTrigger", 4)
            .parquet(_events_stream_dir(sf))
        )
        duplicated = stream.withColumn("dup", F.explode(F.array(F.lit(1), F.lit(2)))).drop("dup")
        deduped = duplicated.withWatermark("ts", "30 minutes").dropDuplicatesWithinWatermark(
            ["event_id"]
        )
        import uuid as _uuid

        # append-mode sink: the stateful operator under test is the dedup
        # itself (chaining a complete-mode agg after it is unsupported);
        # the rollup over the deduped stream output is a plain batch agg.
        name = "q_" + _uuid.uuid4().hex[:12]
        q = (
            deduped.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    # materialize the SMALL rollup, then drop the (large) sink view — same
    # catalog/block hygiene as _run_stream
    agg = (
        spark.table(name)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"), F.countDistinct("user_id").alias("n_users"))
    )
    rows, schema = agg.collect(), agg.schema
    spark.catalog.dropTempView(name)
    return spark.createDataFrame(rows, schema)


Q22_SQL = """
SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS n_users
FROM events GROUP BY event_type
"""

# -------------------------------------------------------------------- Q23

def q23_stream_static_join(spark, sf):
    """Stream-static enrichment join: streaming events ⋈ static customer
    dim (broadcast — the static side never shuffles the stream)."""
    cust = table(spark, sf, "customer")

    def build(s):
        enriched = s.join(
            F.broadcast(cust), s.user_id == cust.c_custkey, "inner"
        )
        return enriched.groupBy("c_mktsegment").agg(
            F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("total_value")
        )

    return _run_stream(spark, sf, build)


Q23_SQL = """
SELECT c_mktsegment, count(*) AS n, round(sum(value), 2) AS total_value
FROM events JOIN customer ON user_id = c_custkey
GROUP BY c_mktsegment
"""


def q23b_stream_stateful_custom(spark, sf):
    """Custom stateful operator via ``applyInPandasWithState`` — the escape
    hatch SURVEY §2.4 reserves for operators Spark's built-ins can't
    express (the reference's per-document state machine shape). Per user,
    an arbitrary Python-defined state fold: running event count, value
    sum, and the longest strictly-increasing run of `value`. The
    longest-run statistic needs ordered per-key iteration with carried
    state — not expressible as an aggregate without a full window sort —
    while here state lives in the streaming state store and each trigger
    processes only its micro-batch (bounded memory at any stream length).
    Oracle: a bounded availableNow run sees every event exactly once, so
    the fold equals the same fold computed in SQL over the static table
    (longest run via the classic gaps-and-islands double window)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_type = T.StructType(
        [
            T.StructField("user_id", T.LongType()),
            T.StructField("n_events", T.LongType()),
            T.StructField("total_value", T.DoubleType()),
            T.StructField("longest_run", T.LongType()),
        ]
    )
    state_type = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("total", T.DoubleType()),
            T.StructField("best", T.LongType()),
            T.StructField("cur", T.LongType()),
            T.StructField("last", T.DoubleType()),
        ]
    )

    def fold(key, pdfs, state: GroupState):
        import pandas as pd

        n, total, best, cur, last = (
            state.get if state.exists else (0, 0.0, 0, 0, None)
        )
        import numpy as np

        for pdf in pdfs:
            pdf = pdf.sort_values(["ts", "event_id"])
            vals = pdf["value"].to_numpy()
            m = len(vals)
            if m == 0:
                continue
            n += m
            total += float(vals.sum())
            # vectorized longest-strictly-increasing-run with state carry:
            # prev[0] is the carried last value (+inf when no state, so the
            # first element always restarts a run)
            prev = np.concatenate(([last if last is not None else np.inf], vals[:-1]))
            inc = vals > prev
            idx = np.arange(m)
            resets = np.where(~inc, idx, -1)
            last_reset = np.maximum.accumulate(resets)
            runs = np.where(last_reset >= 0, idx - last_reset + 1, idx + 1 + cur)
            best = max(best, int(runs.max()))
            cur = int(runs[-1])
            last = float(vals[-1])
        state.update((n, total, best, cur, last))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "n_events": [n],
                "total_value": [round(total, 2)],
                "longest_run": [best],
            }
        )

    def build(s):
        return s.groupBy("user_id").applyInPandasWithState(
            fold,
            outputStructType=out_type,
            stateStructType=state_type,
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )

    res = _run_stream(spark, sf, build, output_mode="update")
    # The update-mode memory sink appends one row per key per trigger; only
    # the LAST emission per key is the final state. n_events is strictly
    # increasing across a key's emissions (the fold is only invoked for
    # keys with batch data), so max_by(n_events) selects it exactly —
    # correct at any maxFilesPerTrigger / source-file count, not just the
    # single-trigger layout the testdata happens to have.
    return (
        res.groupBy("user_id")
        .agg(
            F.max_by(
                F.struct("n_events", "total_value", "longest_run"), "n_events"
            ).alias("r")
        )
        .select(
            "user_id",
            F.col("r.n_events").alias("n_events"),
            F.col("r.total_value").alias("total_value"),
            F.col("r.longest_run").alias("longest_run"),
        )
    )


Q23B_SQL = """
WITH ordered AS (
  SELECT user_id, value,
         row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
         CASE WHEN value > lag(value) OVER (PARTITION BY user_id ORDER BY ts, event_id)
              THEN 0 ELSE 1 END AS brk
  FROM events
), grp AS (
  SELECT user_id, rn,
         sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS island
  FROM ordered
), runs AS (
  SELECT user_id, island, count(*) AS run_len FROM grp GROUP BY user_id, island
)
SELECT e.user_id,
       count(*) AS n_events,
       round(sum(e.value), 2) AS total_value,
       (SELECT max(run_len) FROM runs r WHERE r.user_id = e.user_id) AS longest_run
FROM events e GROUP BY e.user_id
"""


def q23c_stream_stream_join(spark, sf):
    """Stream-STREAM interval join — the last Structured Streaming join
    shape the surface lacked: each user's purchases joined to the clicks
    that preceded them by <= 10 minutes. Both sides are watermarked and
    the join carries an event-time range condition, so at unbounded scale
    the state store retains only the watermark-deep window per side (Spark
    derives the state eviction bound from the range predicate); without
    the range this join would be ever-growing state. Bounded availableNow
    run + 1h watermark = nothing dropped, so the batch SQL twin is exact.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try:
        src = _events_stream_dir(sf)

        def side(event_type, pfx):
            return (
                spark.readStream.schema(EVENTS_DDL)
                .option("maxFilesPerTrigger", 4)
                .parquet(src)
                .where(F.col("event_type") == event_type)
                .select(
                    F.col("user_id").alias(f"{pfx}_user"),
                    F.col("ts").alias(f"{pfx}_ts"),
                    F.col("event_id").alias(f"{pfx}_id"),
                    F.col("value").alias(f"{pfx}_value"),
                )
                .withWatermark(f"{pfx}_ts", "1 hour")
            )

        joined = side("click", "c").join(
            side("purchase", "p"),
            F.expr(
                "c_user = p_user AND "
                "p_ts > c_ts AND p_ts <= c_ts + INTERVAL 10 MINUTES"
            ),
            "inner",
        ).select(
            F.col("c_user").alias("user_id"),
            F.col("c_id").alias("click_id"),
            F.col("p_id").alias("purchase_id"),
            F.round("p_value", 2).alias("purchase_value"),
        )

        name = "q_" + uuid.uuid4().hex[:12]
        q = (
            joined.writeStream.outputMode("append")
            .format("memory")
            .queryName(name)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        # detach from the catalog (join output is bounded by the interval
        # predicate — clicks x purchases within 10 min per user); Arrow
        # round-trip keeps the driver hop columnar rather than per-Row
        return _detach_view(spark, name)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


Q23C_SQL = """
SELECT c.user_id AS user_id,
       c.event_id AS click_id,
       p.event_id AS purchase_id,
       round(p.value, 2) AS purchase_value
FROM events c JOIN events p
  ON c.user_id = p.user_id
 AND c.event_type = 'click' AND p.event_type = 'purchase'
 AND p.ts > c.ts AND p.ts <= c.ts + INTERVAL 10 MINUTE
"""


QUERIES = {
    "q19_stream_tumbling_agg": q19_stream_tumbling_agg,
    "q20_stream_sliding_agg": q20_stream_sliding_agg,
    "q20b_session_windows": q20b_session_windows,
    "q21_stream_watermarked_agg": q21_stream_watermarked_agg,
    "q22_stream_dedup": q22_stream_dedup,
    "q23_stream_static_join": q23_stream_static_join,
    "q23b_stream_stateful_custom": q23b_stream_stateful_custom,
    "q23c_stream_stream_join": q23c_stream_stream_join,
}

ORACLES = {
    "q19_stream_tumbling_agg": Q19_SQL,
    "q20_stream_sliding_agg": Q20_SQL,
    "q20b_session_windows": Q20B_SQL,
    "q21_stream_watermarked_agg": Q21_SQL,
    "q22_stream_dedup": Q22_SQL,
    "q23_stream_static_join": Q23_SQL,
    "q23b_stream_stateful_custom": Q23B_SQL,
    "q23c_stream_stream_join": Q23C_SQL,
}
