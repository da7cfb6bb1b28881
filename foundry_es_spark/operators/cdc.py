"""CDC core operators (SURVEY.md §2.2).

C1 latest-wins compaction + C2 op fold run as ONE vectorised Arrow pass
(:func:`compact_sorted_partitions`): events cross the exchange once,
already in the sink's (bucket, salt) write layout and sorted by
``(key, seq)``, so the fold is a boundary compare over each sorted
partition. Hot repos are spread by adaptive hot-bucket salting (C4).
Every epoch compacts through this kernel, sparse-update (op='P') epochs
included: its per-run fold (:func:`fold_key_runs`) folds patch columns
column-wise, and the same fold serves the lake's bucket-local merge, so
the epoch and every reader apply one rule.

Reference analogue: the ingestion service's duplicate/update check and
status classification [F-ES: DocumentIngestionService — UNVERIFIED,
SURVEY.md §0].
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from foundry_es_spark.schema import KEY_COLS, VALID_OPS


def validity_expr(allow_patch: bool = False) -> F.Column:
    """The S7 validity predicate as a reusable column expression.
    ``allow_patch`` admits op='P' sparse updates (null content legal —
    a patch that doesn't touch content); :func:`fold_key_runs` folds them."""
    ops = (*VALID_OPS, "P") if allow_patch else VALID_OPS
    content_free_ops = ("D", "P") if allow_patch else ("D",)
    return (
        F.col("repo").isNotNull()
        & F.col("path").isNotNull()
        & F.col("seq").isNotNull()
        & F.col("op").isin(*ops)
        & (F.col("content").isNotNull() | F.col("op").isin(*content_free_ops))
    )


def validate_split(events: DataFrame, allow_patch: bool = False) -> tuple[DataFrame, DataFrame]:
    """S7 dead-letter split: malformed events are quarantined, never fail
    the epoch (reference failure queues [F-ES: dispatcher config —
    UNVERIFIED])."""
    valid = validity_expr(allow_patch)
    return events.where(valid), events.where(~F.coalesce(valid, F.lit(False)))


def fold_key_runs(tbl, key_cols, op_col: str = "op", seq_col: str = "seq"):
    """C1+C2 latest-wins fold of an Arrow table sorted by ``(key, seq)``:
    one output row per key run, same columns, same order. The one fold
    behind both task kernels — the epoch's :func:`compact_sorted_partitions`
    (``op``/``seq``) and the lake's bucket-local merge (``_op``/``_seq``).

    - A run with no ``P`` row keeps its last row (a boundary compare; the
      whole fold is this when the table holds no ``P``).
    - A run with a full image (I/U/D) keeps its LAST full image, with each
      payload column overridden by the last non-null value among the
      sparse ``P`` rows after it (op becomes ``U``). A base ``D`` stays
      ``D`` with its own seq and values: patches after a delete are
      no-ops, so a D-then-P run stores the same row whether or not the P
      arrived in the same epoch.
    - A pure-``P`` run (its base image, if any, lives in an earlier epoch)
      comes out as net ``P``: the run's max seq and each column's last
      non-null value. The epoch resolves it against the stored row
      (``patch_resolve='write'``) or stores it sparse; the merge drops it,
      since at read time it is an orphan.

    P cannot set a column TO null (the standard sparse-encoding limit; a
    full U image expresses that). Payload columns are every column but
    the keys, ``op_col`` and ``seq_col``. All segmented scans are O(n)
    numpy passes over the sorted table — no per-key Python."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    n = tbl.num_rows
    if n <= 1:
        return tbl
    # sorted by (key, seq): a row is its run's last iff the next row
    # starts a different key run
    neq = None
    for k in key_cols:
        col = tbl.column(k).combine_chunks()
        d = pc.not_equal(col.slice(0, n - 1), col.slice(1))
        neq = d if neq is None else pc.or_(neq, d)
    last_mask = pa.concat_arrays([neq, pa.array([True])])
    ops_col = tbl.column(op_col)
    if not pc.any(pc.equal(ops_col, "P")).as_py():
        return tbl.filter(last_mask)

    last = last_mask.to_numpy(zero_copy_only=False)
    ops = ops_col.to_numpy(zero_copy_only=False)
    is_p = ops == "P"
    idx = np.arange(n)
    first = np.empty(n, dtype=bool)
    first[0] = True
    first[1:] = last[:-1]
    run_start = np.maximum.accumulate(np.where(first, idx, 0))
    image = np.maximum.accumulate(np.where(~is_p, idx, -1))
    image = np.where(image >= run_start, image, -1)  # last full image so far
    k_idx = idx[last]
    i0k = image[k_idx]
    # anchor: the run's last full image, or its last row for a pure-P run
    anchor = np.where(i0k >= 0, i0k, k_idx)
    base_d = ops[anchor] == "D"
    # a patch value counts when it lies after the image (pure-P: in the run)
    after = np.maximum(i0k, run_start[k_idx] - 1)
    cols = []
    for name in tbl.column_names:
        col = tbl.column(name)
        if name in key_cols:
            take = k_idx
        elif name == seq_col:
            take = np.where(base_d, anchor, k_idx)
        elif name == op_col:
            out_ops = np.where(~base_d & (k_idx != anchor), "U", ops[anchor])
            cols.append(pa.array(out_ops, type=col.type))
            continue
        else:
            valid = pc.is_valid(col).to_numpy(zero_copy_only=False)
            j = np.maximum.accumulate(np.where(valid & is_p, idx, -1))[k_idx]
            take = np.where(~base_d & (j > after), j, anchor)
        cols.append(col.take(pa.array(take)))
    return pa.Table.from_arrays(cols, schema=tbl.schema)


def compact_sorted_partitions(
    events: DataFrame,
    n_buckets: int,
    files_per_bucket: int = 1,
    key_cols: list[str] | None = None,
    order_col: str = "seq",
    n_salts: int | None = None,
    emit_meta: bool = False,
    metrics_acc=None,
    num_partitions: int | None = None,
    sink_spec: dict | None = None,
    hot_buckets=None,
    hot_salts: int = 0,
    bucket_acc=None,
) -> DataFrame:
    """C1+C2 latest-wins compaction: ONE payload shuffle, straight to the
    sink's write layout.

    Events are repartitioned by ``(bkt, salt)`` — the exact layout the lake
    table writes — and sorted within partitions by ``(key, seq)``. Because
    bucket and salt are pure functions of the key, every event of a key
    lands in one partition, so latest-wins compaction is a per-partition
    :func:`fold_key_runs` over the sorted Arrow table (a boundary compare,
    plus column-wise patch folding when the partition holds ``P`` rows;
    no per-row Python). No broadcast (nothing driver-serial), no second
    shuffle (the writer sees data already in layout), no key-only join.

    Memory: one partition buffers in the Python worker; partition size =
    epoch_bytes / (n_buckets * files_per_bucket), bounded by choosing
    bucket counts for the target epoch size (the same sizing rule any
    hash-partitioned sink needs).

    ``sink_spec`` — fused-sink mode (``{"abs_dir", "rel", "codec"}``):
    instead of streaming deduped rows back to the JVM, each task writes
    them straight to ``abs_dir/bkt=<b>/part-<pid>-a<attempt>.parquet`` (one
    file per bucket it holds, key-sorted; ``lake/taskfile.py``) and the
    returned DataFrame carries ONE metadata row per file (``TASK_FILE_DDL``
    plus ``deletes``). This is the Iceberg task-writer shape: the epoch's
    only job ends at the data files; the caller commits the collected
    metadata. It removes the
    Python→JVM payload transfer, the JVM parquet encode, and the
    rename-based output committer from the epoch hot path (on object
    stores the committer's renames are copies — this path has none).
    Caller must pre-project rows to the final table schema (+ the
    ``order_col`` and ``_op`` system columns) because no JVM projection
    runs afterwards.

    ``hot_buckets``/``hot_salts`` — adaptive C4: buckets named in
    ``hot_buckets`` (detected by the caller from the PREVIOUS epoch's
    per-bucket row counts, see ``bucket_acc``) salt over ``hot_salts``
    slices instead of ``n_salts``. With bucket = hash(repo), one hot repo
    is one hot bucket: under the flat salt its 10–20 %-of-the-epoch
    payload sits in ``n_salts`` tasks (a straggler tail that caps stage
    scaling at wide parallelism — the per-task share must be ~1/width,
    not 1/n_salts of the hot fraction), while ``hot_salts`` slices put it
    back on the task-size median. Salt stays a pure function of
    (bucket, path) for a given hot set, so every key still lands wholly
    in one partition and dedup correctness is unchanged; only task sizing
    and the hot bucket's files-per-epoch (= slices that hold its rows)
    change.

    ``bucket_acc`` — optional accumulator (``partition_metrics_acc``
    shape: ``{partition_id: {bucket: rows}}``, retry-safe because task
    retries replace their partition's entry). The kernel reports each
    partition's pre-dedup per-bucket input row counts; the caller folds
    them into the hot-set estimate for the NEXT epoch. Costs one
    vectorized ``value_counts`` per task — no extra Spark job, unlike a
    ``groupBy(bucket).count()`` pre-pass.
    """
    key_cols = key_cols or KEY_COLS
    from foundry_es_spark.lake.table import bucket_expr

    # C4 hot-key salting: the salt count sets COMPUTE parallelism for a hot
    # bucket (one giant repo spreads over n_salts partitions), independent
    # of the write layout (`files_per_bucket` only shapes file counts —
    # `partitionBy(bkt)` splits a task's rows per bucket regardless of how
    # many (bkt, salt) combos the task carries).
    if n_salts is None:
        n_salts = max(1, files_per_bucket)
    base_salt = F.pmod(F.xxhash64(key_cols[-1]), F.lit(max(1, n_salts)))
    hot_buckets = sorted(set(hot_buckets)) if hot_buckets else []
    if hot_buckets and hot_salts > max(1, n_salts):
        salt = F.when(
            F.col("bkt").isin(hot_buckets),
            F.pmod(F.xxhash64(key_cols[-1]), F.lit(hot_salts)),
        ).otherwise(base_salt)
    else:
        hot_buckets = []
        salt = base_salt
    events = events.withColumn("bkt", bucket_expr(n_buckets)).withColumn(
        "_salt", salt
    )
    # EXPLICIT partition count. `repartition(cols)` without a count is an
    # AQE-coalescible exchange: at small batch sizes AQE collapses the
    # whole (bkt, salt) grid into ONE task (observed in tests), which
    # defeats the salting and caps the stage at one core. An explicit
    # count pins the layout: every (bkt, salt) combo still lands wholly in
    # one partition for any N (hash of the combo), so dedup correctness is
    # independent of N — N only sets compute parallelism. Callers size N
    # from the batch's row count (pipeline: rows / rows_per_task, clamped
    # to the grid) so tiny epochs don't pay the full grid's task overhead.
    grid = n_buckets * max(1, n_salts) + len(hot_buckets) * max(
        0, hot_salts - max(1, n_salts)
    )
    n_parts = min(grid, num_partitions) if num_partitions else grid
    parted = events.repartition(
        max(1, n_parts), F.col("bkt"), F.col("_salt")
    ).sortWithinPartitions(*key_cols, order_col)
    kc = list(key_cols)

    out_fields = list(parted.schema.fields)
    if emit_meta:
        from pyspark.sql import types as T

        from foundry_es_spark.functions.normalize import DATS_META_TYPE

        out_fields = out_fields + [T.StructField("meta", DATS_META_TYPE, True)]
        out_schema = T.StructType(out_fields)
    else:
        out_schema = parted.schema
    op_col = "_op" if "_op" in parted.columns else "op"

    def _dedup_gen(batches):
        """Whole partition in Arrow: :func:`fold_key_runs` over the sorted
        key runs, then (optionally) the DATS meta struct — zero pandas
        conversion, RE2-backed kernels, no per-row Python. When a metrics
        accumulator is supplied, the partition reports (rows, seconds) for
        the straggler assertion (operators/metrics.py) — consuming the
        input iterator is inside the window, so shuffle fetch counts."""
        import time as _time

        import pyarrow as pa
        import pyarrow.compute as pc

        from foundry_es_spark.arrowpin import prepare_task_worker

        prepare_task_worker()  # Arrow pool pin + zip finder drop; see arrowpin.py
        _t0 = _time.monotonic()

        def _report(n_rows):
            if metrics_acc is not None:
                from pyspark import TaskContext

                pid = TaskContext.get().partitionId()
                metrics_acc.add(
                    {pid: {"rows": int(n_rows), "sec": _time.monotonic() - _t0}}
                )

        batches = list(batches)
        if not batches:
            _report(0)
            return
        tbl = pa.Table.from_batches(batches).combine_chunks()
        n = tbl.num_rows
        if n == 0:
            _report(0)
            return
        if bucket_acc is not None:
            # pre-dedup per-bucket input rows — the skew signal the caller
            # folds into the next epoch's hot-bucket set (C4 adaptive)
            from pyspark import TaskContext as _BTC

            vc = pc.value_counts(tbl.column("bkt").combine_chunks())
            bucket_acc.add(
                {
                    _BTC.get().partitionId(): dict(
                        zip(
                            (int(v) for v in vc.field("values").to_pylist()),
                            (int(c) for c in vc.field("counts").to_pylist()),
                        )
                    )
                }
            )
        out = fold_key_runs(tbl, kc, op_col, order_col)
        if emit_meta:
            from foundry_es_spark.functions.normalize import dats_meta_arrow

            out = out.append_column("meta", dats_meta_arrow(out.column("content")))
        if sink_spec is None:
            yield from out.to_batches(max_chunksize=8192)
            _report(n)
            return
        # Fused sink: write this task's rows per bucket, emit metadata.
        from pyspark import TaskContext as _TC

        from foundry_es_spark.lake.taskfile import task_file_batch, write_task_file

        pid = _TC.get().partitionId()
        bkt_vals = out.column("bkt")
        data = out.drop(["bkt"] + (["_salt"] if "_salt" in out.column_names else []))
        for b in pc.unique(bkt_vals).to_pylist():
            piece = data.filter(pc.equal(bkt_vals, b))
            if piece.num_rows == 0:
                continue
            meta = write_task_file(
                piece, sink_spec["abs_dir"], sink_spec["rel"], int(b), pid,
                kc[0], codec=sink_spec.get("codec", "zstd"),
            )
            meta["deletes"] = (
                pc.sum(pc.equal(piece.column(op_col), "D").cast(pa.int64())).as_py() or 0
            )
            yield task_file_batch(meta)
        _report(n)

    if sink_spec is not None:
        from foundry_es_spark.lake.taskfile import TASK_FILE_DDL

        return parted.mapInArrow(_dedup_gen, schema=TASK_FILE_DDL + ", deletes long")
    return parted.mapInArrow(_dedup_gen, schema=out_schema).drop("_salt")


def suppress_unchanged(
    batch: DataFrame,
    current_state: DataFrame,
    hash_col: str = "content_sha256",
    key_cols: list[str] | None = None,
) -> DataFrame:
    """C3 no-op suppression: drop upserts whose content hash equals the
    stored row's — cuts MERGE write amplification on re-harvests where
    most records are unchanged. D rows always pass through."""
    key_cols = key_cols or KEY_COLS
    state = current_state.select(*key_cols, F.col(hash_col).alias("_cur_hash"))
    joined = batch.join(state, on=key_cols, how="left")
    changed = (
        (F.col("_op") == "D")
        | F.col("_cur_hash").isNull()
        | (F.col(hash_col) != F.col("_cur_hash"))
    )
    return joined.where(changed).drop("_cur_hash")


def snapshot_diff_events(
    current_state: DataFrame,
    snapshot: DataFrame,
    base_seq: int,
    key_cols: list[str] | None = None,
    ts_millis: int | None = None,
) -> DataFrame:
    """C8 deletion-by-absence: keys present in the table but absent from a
    full re-harvest snapshot become D events (reference end-of-batch
    missing-doc flagging [F-ES — UNVERIFIED]). Returned as change events
    so they flow through the normal merge path.

    Deterministic (VERDICT r2 item 6): seq is a pure function of the key —
    base_seq + hash_bucket * 2^32 + rank-within-bucket in key order — and
    ts is the caller-supplied snapshot timestamp, so a replayed diff is
    byte-identical under any partitioning/re-run
    (``monotonically_increasing_id``/``current_timestamp`` made generated
    seqs differ across runs and diverged lineage digests). The rank window
    partitions by a 1024-way key hash, NOT globally — a whole-source
    disappearance can diff millions of keys, and a global row_number would
    sort them in ONE task. Seqs are sparse but unique and all > base_seq,
    which is everything the seq-conditional merge needs."""
    from pyspark.sql import Window as W

    key_cols = key_cols or KEY_COLS
    missing = current_state.select(*key_cols).join(
        snapshot.select(*key_cols), on=key_cols, how="left_anti"
    )
    bucket = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(1024))
    # 1-based on purpose: bucket 0's first key would otherwise get seq ==
    # base_seq exactly, and with base_seq = the table's current max seq
    # (the natural low watermark) the seq-conditional merge (s._seq >
    # t._seq) would silently drop that key's delete.
    rank = F.row_number().over(
        W.partitionBy(bucket).orderBy(*[F.col(c) for c in key_cols])
    )
    ts = (
        F.timestamp_millis(F.lit(int(ts_millis)))
        if ts_millis is not None
        else F.timestamp_millis(F.lit(0))
    )
    return missing.select(
        (F.lit(base_seq) + bucket * F.lit(1 << 32) + rank).alias("seq"),
        ts.alias("ts"),
        F.lit("D").alias("op"),
        *[F.col(c) for c in key_cols],
        F.lit(None).cast("string").alias("commit"),
        F.lit(None).cast("string").alias("lang"),
        F.lit(None).cast("string").alias("content"),
    )


_REHARVEST_RESERVED = ("seq", "ts", "op", "_op", "part", "epoch")


def reharvest_diff_events(
    current_state: DataFrame,
    snapshot: DataFrame,
    base_seq: int,
    key_cols: list[str] | None = None,
    ts_millis: int | None = None,
    hash_col: str = "content_sha256",
    content_col: str = "content",
) -> DataFrame:
    """Full re-harvest classification — the reference's core ingest
    semantic: compare a fresh harvest dump against the existing doc store
    and emit exactly the difference as change events [F-ES:
    DocumentIngestionService re-harvest check — UNVERIFIED, SURVEY.md
    §1.1.5]. Per key:

    - in snapshot, not in table            → I (new document)
    - in both, content digest differs      → U (revised document)
    - in both, digest equal                → suppressed (C3 — no event)
    - in table, not in snapshot            → D (deletion-by-absence, C8)

    One job, ONE shuffle: a single full-outer join on the key columns
    subsumes the three joins (anti for I, anti for D, inner for U+C3)
    a naive composition of :func:`snapshot_diff_events` +
    :func:`suppress_unchanged` would run. Scale shape at 100 TB: the
    table side is projected to keys + the STORED content digest before
    the exchange (column-pruned scan, ~100 B/row through the shuffle
    regardless of document size — when ``hash_col`` is absent the digest
    is computed in the scan projection, still pre-exchange); the snapshot
    side carries the payload it must carry anyway (the new images).

    Seq assignment is the :func:`snapshot_diff_events` scheme —
    deterministic, partition-parallel, strictly above ``base_seq``:
    ``base_seq + key_bucket(1024) * 2^32 + rank-within-bucket`` with a
    1-based rank (a tie at base_seq would be dropped by the
    seq-conditional merge). A crash-retry re-run over the unchanged
    (table, dump) pair therefore regenerates a byte-identical event
    batch, which together with epoch fencing makes re-harvest
    exactly-once end-to-end.
    """
    from pyspark.sql import Window as W

    key_cols = key_cols or KEY_COLS
    if content_col not in snapshot.columns:
        raise ValueError(
            f"reharvest snapshot must carry {content_col!r} (the digest "
            f"basis); got columns {snapshot.columns}"
        )
    clash = [c for c in snapshot.columns if c in _REHARVEST_RESERVED]
    if clash:
        raise ValueError(
            f"reharvest snapshot columns {clash} collide with generated "
            f"event columns — a harvest dump is a keyed snapshot, not a "
            f"change log; drop or rename them in the mapping block (a "
            f"dump that already has seq/op IS an event source — replay it)"
        )
    payload_cols = [c for c in snapshot.columns if c not in key_cols]

    cur_hash = (
        F.col(hash_col) if hash_col in current_state.columns
        else F.sha2(F.col(content_col), 256)
    )
    state = current_state.select(
        *key_cols, cur_hash.alias("_cur_hash"), F.lit(True).alias("_in_state")
    )
    snap = snapshot.select(
        *key_cols,
        F.sha2(F.col(content_col), 256).alias("_new_hash"),
        F.lit(True).alias("_in_snap"),
        *[F.col(c).alias(f"_p_{c}") for c in payload_cols],
    )
    j = snap.join(state, on=key_cols, how="full_outer")
    op = (
        F.when(F.col("_in_snap").isNull(), "D")
        .when(F.col("_in_state").isNull(), "I")
        .when(~(F.col("_new_hash").eqNullSafe(F.col("_cur_hash"))), "U")
        # else: unchanged → no event (C3 suppression, pre-merge)
    )
    changed = j.withColumn("_rh_op", op).where(F.col("_rh_op").isNotNull())

    bucket = F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(1024))
    rank = F.row_number().over(
        W.partitionBy(bucket).orderBy(*[F.col(c) for c in key_cols])
    )
    ts = F.timestamp_millis(F.lit(int(ts_millis) if ts_millis is not None else 0))
    return changed.select(
        (F.lit(base_seq) + bucket * F.lit(1 << 32) + rank).alias("seq"),
        ts.alias("ts"),
        F.col("_rh_op").alias("op"),
        *[F.col(c) for c in key_cols],
        *[
            F.when(F.col("_rh_op") != "D", F.col(f"_p_{c}")).alias(c)
            for c in payload_cols
        ],
    )
