"""The CDC epoch body: validate → evolve → compact + enrich → merge.

This is the Spark-native restatement of the reference's
ingest→dispatch→enhance→index state machine (SURVEY.md §3.1): what the
reference runs as per-document status transitions across queue-connected
JVMs is here ONE declarative plan per micro-batch, optimized by Catalyst
as a whole. Exactly-once comes from the lake table's epoch fence being
committed atomically with the data files; lineage / metrics / per-partition
offsets ride inside the same commit record (S6 + C5, SURVEY.md §2.2) and
are exposed back as DataFrames via :meth:`CdcPipeline.lineage` /
:meth:`CdcPipeline.offsets`.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from foundry_es_spark.functions.normalize import NORMALIZED_FIELDS
from foundry_es_spark.lake import LakeTable
from foundry_es_spark.lake import log as commitlog
from foundry_es_spark.lake.backend import supports_fused_sink
from foundry_es_spark.lake.table import _fields_to_struct, bucket_expr
from foundry_es_spark.operators.cdc import (
    compact_sorted_partitions,
    suppress_unchanged,
    validate_split,
    validity_expr,
)
from foundry_es_spark.operators.metrics import partition_metrics_acc, summarize_partitions
from foundry_es_spark.schema import BASE_SCHEMA

# Envelope columns that never become table columns.
ENVELOPE_COLS = {"seq", "ts", "op", "part", "epoch"}


class AuditFailed(Exception):
    """A Write-Audit-Publish check rejected the epoch's staged rows: the
    publishing commit was withheld, the epoch stays unfenced (resume will
    retry it after the cause is fixed), and on the fused sink the staged
    files were discarded."""


_AQE_EMPTY_RULE = (
    "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
)


@contextmanager
def exact_observations(spark: SparkSession):
    """Exclude AQE's empty-relation propagation for the duration of an
    epoch body.

    The epoch's merge stats ride on CollectMetrics (Observation) nodes
    inside the write job; AQEPropagateEmptyRelation may eliminate those
    nodes when a runtime-materialized subtree turns out empty (e.g. an
    epoch whose every event is a dead letter), silently zeroing or — for
    nodes whose input HAD rows, like the footer path's dead-letter
    counter — undercounting lineage metrics. An epoch with empty
    subtrees is trivially cheap, so the lost optimization is noise; exact
    lineage is not. Session-scoped conf, restored on exit (the epoch body
    is the only query the pipeline runs concurrently)."""
    key = "spark.sql.adaptive.optimizer.excludedRules"
    try:
        prev = spark.conf.get(key)
    except Exception:
        prev = None
    spark.conf.set(key, f"{prev},{_AQE_EMPTY_RULE}" if prev else _AQE_EMPTY_RULE)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def observed_metrics(obs: Observation, **defaults) -> dict:
    """Observation metrics with exact zero-row defaults.

    AQE's empty-relation propagation may eliminate a CollectMetrics node
    whose input subtree provably produced 0 rows (e.g. an epoch whose every
    event is a dead letter folds to an empty merge batch); the query then
    completes with a schema-LESS empty metrics Row, and ``Observation.get``
    dies inside ``PythonSQLUtils.toPyRow`` (``assert
    row.isInstanceOf[GenericRowWithSchema]``). Because that pruning only
    fires when zero rows flowed through the observed node, the caller's
    zero-valued defaults are the exact metric values, not approximations —
    so this helper returns them instead of propagating the Py4J assertion.
    Any other failure re-raises."""
    try:
        return dict(obs.get)
    except Exception as e:  # Py4JJavaError: schema-less Row rejected by toPyRow
        if "toPyRow" not in str(e):
            raise
        return dict(defaults)


def offsets_from_footers(epoch_dir: str) -> dict | None:
    """Per-partition consumed offsets from parquet FOOTER statistics — a
    driver-side metadata read (a few KB per file), replacing a cluster-wide
    pre-scan job. Offsets are raw stream positions, so row-group
    ``num_rows`` and the ``seq`` column's min/max stats are exact.
    Returns None when the layout/stats don't allow it (caller falls back to
    the pre-scan job)."""
    import pyarrow.parquet as pq

    offsets: dict[str, dict] = {}
    gmin: int | None = None
    gmax: int | None = None
    total = 0
    try:
        part_dirs = [d for d in os.listdir(epoch_dir) if d.startswith("part=")]
        if not part_dirs:
            return None
        for pd_ in part_dirs:
            part = pd_.split("=", 1)[1]
            p_rows, p_max = 0, None
            for fn in os.listdir(os.path.join(epoch_dir, pd_)):
                if not fn.endswith(".parquet"):
                    continue
                meta = pq.read_metadata(os.path.join(epoch_dir, pd_, fn))
                names = meta.schema.names
                if "seq" not in names:
                    return None
                seq_i = names.index("seq")
                p_rows += meta.num_rows
                for rg in range(meta.num_row_groups):
                    st = meta.row_group(rg).column(seq_i).statistics
                    if st is None or not st.has_min_max:
                        return None
                    p_max = st.max if p_max is None else max(p_max, st.max)
                    gmin = st.min if gmin is None else min(gmin, st.min)
                    gmax = st.max if gmax is None else max(gmax, st.max)
            if p_rows:
                offsets[part] = {"max_seq": int(p_max), "n_events": int(p_rows)}
                total += p_rows
    except OSError:
        return None
    return {"offsets": offsets, "n_events": total, "min_seq": gmin, "max_seq": gmax}


def _epoch_schema_fingerprint(epoch_dir: str) -> str | None:
    """Stable fingerprint of an epoch's event schema from ONE parquet
    footer (name:type pairs) — the cheap guard that lets batch replay
    reuse its inferred Spark schema until an epoch actually evolves."""
    import pyarrow.parquet as pq

    try:
        for root, _, files in os.walk(epoch_dir):
            for fn in sorted(files):
                if fn.endswith(".parquet"):
                    sch = pq.read_schema(os.path.join(root, fn))
                    return ";".join(f"{n}:{t}" for n, t in zip(sch.names, sch.types))
    except OSError:
        return None
    return None


@dataclass
class PipelineConfig:
    pipeline_id: str
    table_dir: str
    n_buckets: int = 16
    n_parts: int = 8                 # stream partitions for offset tracking
    files_per_bucket: int = 1        # >1 parallelizes writes of hot buckets
    normalize: bool = True           # T1-T3 enrichment, once per surviving row:
                                     # content_sha256 is the JVM's sha2 before the
                                     # exchange; lang/n_lines/n_chars/meta/dats are
                                     # filled in the compaction kernel after the
                                     # fold (functions/normalize.py enrich_arrow),
                                     # on either sink
    suppress_no_ops: bool = False    # C3 (extra state read per epoch; JVM writer)
    rename_map: dict[str, str] = field(default_factory=dict)  # C7 declared renames
    compact_threshold: int = 8       # compact a bucket once it holds this many delta generations
    record_partition_metrics: bool = False  # §5.2 straggler evidence in lineage
    compact_rows_per_task: int = 50_000  # target rows per compaction task
                                         # (sets explicit partition count = rows/target,
                                         # clamped to the (bucket x salt) grid)
    hot_bucket_salts: int = 0        # C4 adaptive: buckets whose input-row share in the
                                     # PREVIOUS epoch exceeded HOT_BUCKET_FACTOR x median
                                     # salt over this many slices (0 = flat salting only).
                                     # Bucket = hash(repo): one hot repo's 10-20% payload
                                     # otherwise sits in files_per_bucket tasks — a
                                     # straggler tail that caps epoch scaling at wide
                                     # parallelism. Stats ride the compaction kernel's
                                     # accumulator channel: no extra Spark job, and the
                                     # final table state is identical for any value
                                     # (salt only shapes task sizing / file counts).
    audit_fn: object | None = None   # Write-Audit-Publish hook: callable
                                     # (staged_df, ctx) -> bool run on the epoch's
                                     # staged rows BEFORE the publishing commit.
                                     # False/raise => AuditFailed: nothing published,
                                     # epoch unfenced (resume retries it). Catches
                                     # table-level invariant breaks (row counts,
                                     # mass-delete events, null floods) that
                                     # row-level dead-lettering can't see. On the
                                     # fused sink this is true WAP (staged files
                                     # audited, publish = metadata swap); on the
                                     # JVM path the audit pass re-executes the
                                     # epoch plan (the documented cost).
    patch_ops: bool = False          # C2 extension: accept op='P' sparse updates
                                     # (Debezium/Mongo partial images — only the
                                     # changed columns non-null). The sorted
                                     # kernel folds patches column-wise (the one
                                     # fold, operators/cdc.py fold_key_runs, that
                                     # the bucket-local merge also runs); keys whose
                                     # base image lives in an EARLIER epoch come out
                                     # as net 'P' and are stored sparse, so every
                                     # read and compaction folds them over the base
                                     # (the Paimon partial-update shape) and the
                                     # epoch reads no stored state. An orphan patch
                                     # (no live base) drops at read and compaction,
                                     # uncounted. Incompatible with suppress_no_ops
                                     # (content digest can't witness non-content
                                     # patches).
    concurrent_writers: bool = False # multi-writer OCC on the local backend: the
                                     # pipeline's commits REBASE past concurrent
                                     # maintenance commits (compaction cron, another
                                     # route's pipeline) instead of failing, and
                                     # uncommitted version dirs are treated as
                                     # in-flight rather than reclaimable debris.
                                     # See LakeTable(concurrent_writers=...).
    backend: object | None = None    # injected TableBackend (S5 seam, SURVEY §4.4).
                                     # None = LocalLakeBackend (LakeTable) built from
                                     # table_dir. Pass an IcebergBackend to run the
                                     # SAME epoch body against Iceberg MERGE INTO /
                                     # ALTER TABLE SQL; table_dir then only hosts the
                                     # pipeline's system dirs (dead-letter quarantine).


# C4 adaptive salting: a bucket is hot when its input rows last epoch
# exceeded this multiple of the median loaded bucket (CdcPipeline._hot_buckets).
HOT_BUCKET_FACTOR = 4.0


class CdcPipeline:
    def __init__(self, spark: SparkSession, config: PipelineConfig):
        self.spark = spark
        self.cfg = config
        # C4 adaptive-salting state: per-bucket input rows observed in the
        # most recent epoch (driver-side, rebuilt from live traffic after a
        # resume — one unsalted epoch re-seeds it, correctness unaffected).
        self._bucket_rows: dict[int, int] = {}
        if config.backend is not None:
            from foundry_es_spark.lake.backend import TableBackend

            if not isinstance(config.backend, TableBackend):
                raise TypeError(
                    "config.backend must implement the TableBackend protocol; "
                    f"got {type(config.backend).__name__}"
                )
        if config.patch_ops and config.suppress_no_ops:
            raise ValueError(
                "patch_ops is incompatible with suppress_no_ops: C3 compares "
                "content digests, which cannot witness a patch that changed "
                "only non-content columns — it would wrongly suppress it"
            )

    # ------------------------------------------------------------- table

    def ensure_table(self):
        """The injected backend, or a LocalLakeBackend from table_dir.
        Everything past this point consumes only the TableBackend protocol
        (lake/backend.py) — the epoch body is backend-agnostic."""
        fields = [(f.name, f.dataType.simpleString()) for f in BASE_SCHEMA.fields]
        if self.cfg.normalize:
            fields += NORMALIZED_FIELDS
        be = self.cfg.backend
        if be is not None:
            # first touch: create the table if the backend has no schema yet
            # (create() is backend-specific — outside the protocol — so
            # pre-created backends simply skip this)
            if not be.schema_fields() and hasattr(be, "create"):
                be.create(fields)
            # C9: a patch-enabled pipeline delivers sparse _op='P' rows to
            # the sink; backends whose MERGE statement must coalesce
            # per column instead of overwriting expose a patch_mode switch
            # (IcebergBackend.merge_patch_sql).
            if self.cfg.patch_ops and hasattr(be, "patch_mode"):
                be.patch_mode = True
            return be
        if LakeTable.exists(self.cfg.table_dir):
            return LakeTable(
                self.spark, self.cfg.table_dir,
                concurrent_writers=self.cfg.concurrent_writers,
            )
        t = LakeTable.create(
            self.spark, self.cfg.table_dir, fields, n_buckets=self.cfg.n_buckets
        )
        t.concurrent_writers = self.cfg.concurrent_writers
        return t

    @property
    def table(self):
        return self.ensure_table()

    def _compact_partitions(self, n_events: int) -> int:
        """Partition count for the sorted-compaction exchange: enough tasks
        to (a) hit the rows-per-task target AND (b) keep every core busy —
        the whole epoch body (dedup kernel, sha256, DATS enrichment, parquet
        write) runs at this width, so undersizing it serializes the epoch on
        a handful of cores regardless of cluster size. Clamped by the
        (bucket x salt) grid in compact_sorted_partitions, so on a real
        cluster the table's bucket count must be sized >= executor cores —
        the same rule Iceberg's bucket(N, key) spec imposes."""
        by_rows = -(-n_events // max(1, self.cfg.compact_rows_per_task))
        by_cores = 2 * self.spark.sparkContext.defaultParallelism
        return max(1, by_rows, by_cores)

    # ----------------------------------------------- C4 adaptive salting

    def _bucket_acc(self):
        """A fresh per-epoch accumulator for the kernel's per-bucket input
        row counts, or None when adaptive salting is off."""
        if self.cfg.hot_bucket_salts <= 0:
            return None
        return partition_metrics_acc(self.spark)

    def _hot_buckets(self) -> list[int]:
        """Buckets whose input-row share last epoch exceeded
        ``HOT_BUCKET_FACTOR`` x the median loaded bucket. Driver-side pure
        arithmetic over <= n_buckets counters; deterministic given the
        event stream, so replays reproduce the same salt layout."""
        if self.cfg.hot_bucket_salts <= 0 or len(self._bucket_rows) < 2:
            return []
        import statistics

        med = statistics.median(self._bucket_rows.values())
        cut = HOT_BUCKET_FACTOR * max(1, med)
        return sorted(b for b, r in self._bucket_rows.items() if r > cut)

    def _fold_bucket_acc(self, acc) -> None:
        """Replace the hot-set estimate with THIS epoch's observed counts
        (last-epoch-wins: CDC hotness is sticky across adjacent epochs and
        a stale hot set only costs extra small files, never correctness)."""
        if acc is None:
            return
        folded: dict[int, int] = {}
        for per_bucket in acc.value.values():
            for b, r in per_bucket.items():
                folded[b] = folded.get(b, 0) + r
        if folded:
            self._bucket_rows = folded

    # -------------------------------------------------------- epoch body

    def apply_epoch(
        self, batch: DataFrame, epoch_id: int, offsets_hint: dict | None = None
    ) -> dict:
        """Apply one micro-batch / replay chunk as epoch `epoch_id`.

        Idempotent: a fenced epoch is skipped entirely (C5). Safe under
        re-delivery because the merge is additionally seq-conditional.

        `offsets_hint` (from :func:`offsets_from_footers`) carries the
        per-partition consumed offsets pre-computed from parquet footer
        statistics — the batch-replay path supplies it so the epoch needs
        NO separate pre-scan job; without it (streaming / ad-hoc batches)
        a light per-partition aggregate job derives the same numbers.
        """
        with exact_observations(self.spark):
            return self._apply_epoch_body(batch, epoch_id, offsets_hint)

    def _apply_epoch_body(
        self, batch: DataFrame, epoch_id: int, offsets_hint: dict | None = None
    ) -> dict:
        table = self.ensure_table()
        if table.is_epoch_committed(self.cfg.pipeline_id, epoch_id):
            return {"epoch": epoch_id, "skipped": True}

        # The key→bucket mapping comes from the TABLE, never the config: a
        # pre-existing table (or one rebucket()ed since the config was
        # written) owns its layout, and writing this epoch's files under
        # cfg.n_buckets would break the bucket-local merge invariant.
        # One metadata read per epoch; foreign backends without the
        # attribute fall back to the config.
        nb = int(getattr(table, "n_buckets", 0) or self.cfg.n_buckets)

        t0 = time.monotonic()
        stage_sec: dict[str, float] = {}
        part_col = (
            F.col("part") if "part" in batch.columns
            else F.pmod(F.xxhash64("repo"), F.lit(self.cfg.n_parts))
        )

        ok = validity_expr(self.cfg.patch_ops)
        raw_batch = batch  # un-observed plan, reused for quarantine splits
        n_dead_prescan = 0
        if offsets_hint is not None:
            # Offsets are raw consumed stream positions (C5/C6), so footer
            # row-counts/min-max are exact regardless of validity.
            offsets = offsets_hint["offsets"]
            n_events = int(offsets_hint["n_events"])  # raw rows incl. invalid
            min_seq, max_seq = offsets_hint["min_seq"], offsets_hint["max_seq"]
        else:
            # Pre-scan (ONE light job, no shuffle beyond n_parts groups).
            # Offsets/lineage record RAW consumed positions — the same
            # contract as the footer path, so the `_offsets` / lineage
            # system tables mean one thing regardless of apply path.
            pre_rows = (
                batch.groupBy(part_col.alias("_part"))
                .agg(
                    F.count(F.lit(1)).alias("n_rows"),
                    F.count(F.when(~F.coalesce(ok, F.lit(False)), 1)).alias("n_dead"),
                    F.min("seq").alias("min_seq"),
                    F.max("seq").alias("max_seq"),
                )
                .collect()
            )
            n_events = int(sum(r["n_rows"] for r in pre_rows))
            n_dead_prescan = int(sum(r["n_dead"] for r in pre_rows))
            offsets = {
                str(r["_part"]): {"max_seq": r["max_seq"], "n_events": r["n_rows"]}
                for r in pre_rows
                if r["n_rows"]
            }
            min_seq = min((r["min_seq"] for r in pre_rows if r["min_seq"] is not None), default=None)
            max_seq = max((r["max_seq"] for r in pre_rows if r["max_seq"] is not None), default=None)
            if n_dead_prescan:
                _, dead = validate_split(batch, self.cfg.patch_ops)
                self._write_dead_letters(dead, epoch_id)
        # Footer-hint path: validity is counted by an Observation riding the
        # main job (pre-filter), so no extra scan happens either way.
        obs_pre = None
        if offsets_hint is not None:
            obs_pre = Observation()
            batch = batch.observe(
                obs_pre,
                F.sum((~F.coalesce(ok, F.lit(False))).cast("int")).alias("n_dead"),
            )
        valid = batch.where(ok)
        stage_sec["prescan"] = round(time.monotonic() - t0, 3)

        info = {
            "pipeline_id": self.cfg.pipeline_id,
            "epoch": int(epoch_id),
            "n_events": int(n_events),
            "n_dead_letters": n_dead_prescan,
            "min_seq": min_seq,
            "max_seq": max_seq,
            "offsets": offsets,
        }

        # C7 — evolve the table to accept this batch's payload shape.
        payload_fields = [f for f in batch.schema.fields if f.name not in ENVELOPE_COLS]
        table.evolve_for_batch(T.StructType(payload_fields), self.cfg.rename_map)

        if n_events == 0:
            # nothing to merge — still fence the epoch atomically via a
            # metadata-only commit.
            info = {**info, "n_keys": 0, "n_deletes": 0}
            table.fence_epoch_only(
                self.cfg.pipeline_id, epoch_id,
                info={**info, "wall_sec": time.monotonic() - t0},
            )
            return {**info, "skipped": False, "buckets_rewritten": 0}

        # C1+C2 (operators/cdc.py): the payload crosses the exchange once,
        # straight into the sink's (bucket, salt) write layout; patch
        # epochs included (the kernel folds P runs column-wise).
        part_acc = (
            partition_metrics_acc(self.spark) if self.cfg.record_partition_metrics else None
        )
        bucket_acc = self._bucket_acc()

        def kernel(**sink) -> DataFrame:
            return compact_sorted_partitions(
                self._to_table_schema(table, valid),
                nb,
                self.cfg.files_per_bucket,
                order_col="_seq",
                enrich=self.cfg.normalize,
                metrics_acc=part_acc,
                num_partitions=self._compact_partitions(n_events),
                hot_buckets=self._hot_buckets(),
                hot_salts=self.cfg.hot_bucket_salts,
                bucket_acc=bucket_acc,
                **sink,
            )

        committed: dict = {}

        def commit_info(n_keys: int, n_deletes: int) -> dict:
            # The epoch's commit record. Runs after the write job and
            # BEFORE the fencing commit, so the S7 quarantine of the
            # footer-hint path happens here: a crash after the commit can
            # never lose dead letters (the epoch would be skipped on
            # resume and `_sys/errors/epoch=N` never written).
            out = {**info, "n_keys": n_keys, "n_deletes": n_deletes}
            if obs_pre is not None:
                n_dead = int(observed_metrics(obs_pre, n_dead=0)["n_dead"] or 0)
                if n_dead:
                    _, dead = validate_split(raw_batch, self.cfg.patch_ops)
                    self._write_dead_letters(dead, epoch_id)
                out["n_dead_letters"] = n_dead
            out["wall_sec"] = time.monotonic() - t0
            out["stage_sec"] = stage_sec
            if part_acc is not None:
                out["partition_metrics"] = summarize_partitions(part_acc.value)
            committed.update(out)
            return out

        fence = (self.cfg.pipeline_id, epoch_id)
        # The sink is chosen from the epoch, not configured: the rows are
        # final when the kernel emits them (enrichment runs inside it, on
        # the folded survivors; patch epochs included, since net-'P' rows
        # are stored sparse), so the fused task-writer sink takes every
        # epoch whose backend has a task writer, unless C3 suppression
        # must join the stored state after the kernel. Else the JVM writer
        # takes the same kernel output.
        if not self.cfg.suppress_no_ops and supports_fused_sink(table):
            # Fused task-writer sink: ONE job whose tasks end at the delta
            # parquet files. Projection to the table schema runs before the
            # (bucket, salt) exchange; Arrow dedup, enrichment and the
            # parquet encode run inside the kernel; the driver collects
            # per-file metadata and swaps the commit — the Iceberg
            # writer/commit split. No Python→JVM payload return, no second
            # encode, no rename-based committer in the epoch hot path.
            #
            # Schema version the write job runs under (post-evolve) —
            # passed to commit_delta_files as `expect` so the committed
            # file metadata matches what was physically written, even if
            # a concurrent writer evolves or rebuckets before the commit.
            write_sv = int(table._current()["schema_version"])
            version, rel = table.begin_delta_version()
            t2 = time.monotonic()
            file_rows = kernel(
                sink_spec={
                    "abs_dir": os.path.join(self.cfg.table_dir, rel),
                    "rel": rel,
                    "codec": "zstd",
                },
            ).collect()  # the epoch's one job
            stage_sec["merge_write"] = round(time.monotonic() - t2, 3)

            if self.cfg.audit_fn is not None and file_rows:
                # True Write-Audit-Publish: data files are staged under the
                # reserved (uncommitted) version dir; the audit reads THEM —
                # no recompute — and only a pass releases the metadata swap.
                t_aud = time.monotonic()
                staged = self.spark.read.schema(
                    _fields_to_struct(table.schema_fields(), with_sys=True)
                ).parquet(*[
                    os.path.join(self.cfg.table_dir, r["path"]) for r in file_rows
                ])
                passed = self.cfg.audit_fn(
                    staged, {"epoch_id": epoch_id, "n_events": n_events}
                )
                stage_sec["audit"] = round(time.monotonic() - t_aud, 3)
                if not passed:
                    shutil.rmtree(
                        os.path.join(self.cfg.table_dir, rel), ignore_errors=True
                    )
                    raise AuditFailed(
                        f"epoch {epoch_id}: audit_fn rejected the staged files; "
                        "version dir discarded, nothing was published"
                    )

            merge_stats = table.commit_delta_files(
                version,
                [
                    {"path": r["path"], "bucket": r["bucket"], "rows": r["rows"],
                     "rmin": r["rmin"], "rmax": r["rmax"], "kfp": r["kfp"]}
                    for r in file_rows
                ],
                fence=fence,
                info=commit_info(
                    int(sum(r["rows"] for r in file_rows)),
                    int(sum(r["deletes"] for r in file_rows)),
                ),
                # what the write job actually ran under: files must be
                # stamped with this schema even if a concurrent evolve
                # landed meanwhile, and a concurrent rebucket must
                # conflict, not silently commit
                expect={"n_buckets": nb, "schema_version": write_sv},
            )
        else:
            # append_delta derives `bkt` itself (the foreign backends take
            # table columns only)
            merge_batch = kernel().drop("bkt")

            if self.cfg.suppress_no_ops:
                # C3's state read is bucket-pruned: the comparison only
                # needs rows whose bucket the batch touches — one narrow
                # distinct over bucket ids (<= n_buckets values) instead of
                # a full table read per epoch. Derived from the RAW valid
                # batch, not merge_batch: bucket is a function of repo alone
                # and compaction adds no keys, while a distinct over
                # merge_batch would execute the whole compaction plan
                # (mapInArrow is a projection barrier) as an extra job.
                touched = [
                    r[0]
                    for r in valid.select(
                        bucket_expr(nb).alias("b")
                    ).distinct().collect()
                ]
                merge_batch = suppress_unchanged(
                    merge_batch, table.read_internal(buckets=touched)
                )

            if self.cfg.audit_fn is not None:
                # WAP on the JVM path: audit the exact rows that would
                # publish. The audit action re-executes the epoch plan once
                # (no staged files to reuse here — the fused sink audits
                # those instead).
                if not self.cfg.audit_fn(
                    merge_batch, {"epoch_id": epoch_id, "n_events": n_events}
                ):
                    raise AuditFailed(
                        f"epoch {epoch_id}: audit_fn rejected the batch; "
                        "nothing was published"
                    )

            # The whole epoch — compaction shuffle, Arrow fold and
            # enrichment, sorted parquet write — executes
            # as ONE Spark job; merge stats ride on Observations instead of
            # a second materialization (no persist, no duplicate shuffle).
            t2 = time.monotonic()
            obs = Observation()
            merge_batch = merge_batch.observe(
                obs,
                F.count(F.lit(1)).alias("n_keys"),
                F.sum((F.col("_op") == "D").cast("int")).alias("n_deletes"),
            )

            def _info() -> dict:
                # the sink calls this post-write, pre-commit: the main job
                # has finished, so its wall and Observations are final
                stage_sec["merge_write"] = round(time.monotonic() - t2, 3)
                vals = observed_metrics(obs, n_keys=0, n_deletes=0)
                return commit_info(int(vals["n_keys"]), int(vals["n_deletes"] or 0))

            merge_stats = table.append_delta(
                merge_batch,
                fence=fence,
                files_per_bucket=self.cfg.files_per_bucket,
                info=_info,
                pre_partitioned=True,
            )
        self._fold_bucket_acc(bucket_acc)
        merge_stats = self._maybe_compact(table, merge_stats, stage_sec)
        # `info` backs a sink that never asks for the record (Iceberg plan mode)
        return {**info, **committed, **merge_stats, "stage_sec": stage_sec, "skipped": False}

    def _to_table_schema(self, table, df: DataFrame) -> DataFrame:
        """Project rows to the table's (post-evolve) schema plus the
        `_seq`/`_op` system columns; columns the batch lacks are typed
        nulls. With ``normalize`` that includes the enrichment columns the
        kernel fills (``compact_sorted_partitions(enrich=True)``), except
        ``content_sha256``: pyarrow has no SHA-256, so it is the JVM's
        ``sha2`` here, in the scan's codegen (64 B per row through the
        exchange)."""
        if self.cfg.normalize:
            df = df.withColumn("content_sha256", F.sha2(F.col("content"), 256))
        return df.select(
            *[
                (F.col(uf.name) if uf.name in df.columns else F.lit(None))
                .cast(uf.type)
                .alias(uf.name)
                for uf in table.schema_fields()
            ],
            F.col("seq").alias("_seq"),
            F.col("op").alias("_op"),
        )

    def _maybe_compact(self, table, merge_stats: dict, stage_sec: dict) -> dict:
        """Amortized maintenance: compact only buckets whose delta-
        generation count crossed the threshold (driver-side check, no
        Spark job)."""
        t3 = time.monotonic()
        hot = [
            b
            for b, c in table.bucket_delta_generations().items()
            if c >= self.cfg.compact_threshold
        ]
        if hot:
            merge_stats = {
                **merge_stats,
                "compacted": table.compact_buckets(
                    hot, files_per_bucket=self.cfg.files_per_bucket
                ),
            }
            stage_sec["compaction"] = round(time.monotonic() - t3, 3)
        return merge_stats

    # ------------------------------------------------------ batch replay

    def replay_event_dir(self, events_dir: str, from_epoch: int | None = None) -> list[dict]:
        """S2 bounded replay of an `epoch=<e>/part=<p>/` event log, resuming
        after the last fenced epoch by default (C6)."""
        table = self.ensure_table()
        start = (
            table.last_epoch(self.cfg.pipeline_id) + 1 if from_epoch is None else from_epoch
        )
        epochs = sorted(
            int(d.split("=")[1])
            for d in os.listdir(events_dir)
            if d.startswith("epoch=")
        )
        results = []
        schema = None
        schema_fp = None
        for e in epochs:
            if e < start:
                continue
            epoch_dir = os.path.join(events_dir, f"epoch={e}")
            # Reuse the inferred schema across epochs (per-epoch inference
            # is a fixed ~100 ms footer sweep — pure overhead at 10^4+
            # epochs) but guard it with a per-epoch footer FINGERPRINT:
            # in-place schema evolution (an epoch that adds/widens a
            # column, C7) must re-infer, otherwise reader.schema() would
            # silently drop the new column. The fingerprint read is one
            # pyarrow footer — microseconds, not a Spark job.
            fp = _epoch_schema_fingerprint(epoch_dir)
            reader = self.spark.read
            if schema is not None and fp is not None and fp == schema_fp:
                reader = reader.schema(schema)
                batch = reader.parquet(epoch_dir)
            else:
                batch = reader.parquet(epoch_dir)
                schema, schema_fp = batch.schema, fp
            results.append(
                self.apply_epoch(batch, e, offsets_hint=offsets_from_footers(epoch_dir))
            )
        return results

    def apply_snapshot(
        self,
        snapshot: DataFrame,
        snapshot_ts_ms: int | None = None,
        skip_empty: bool = True,
    ) -> dict:
        """Re-harvest a full dump: classify `snapshot` (a keyed image of
        the source — mapped harvest records) against the live table and
        apply exactly the difference as ONE fenced epoch. This closes the
        reference's harvest loop [F-ES: DocumentIngestionService —
        UNVERIFIED, SURVEY.md §1.1.5]: new keys insert, changed content
        updates, unchanged rows are suppressed before the merge (C3),
        keys absent from the dump delete (C8) — all through the same
        epoch body (fencing, lineage, dead-letters, normalization) as
        stream replay.

        Interleaving contract (the Debezium snapshot-fences-stream model):
        a re-harvest asserts "this dump is the newest truth", so its
        events are stamped strictly ABOVE the table's high-water seq
        (:meth:`_table_high_water_seq`, spanning every pipeline feeding
        the table). Stream events already consumed can therefore never
        resurrect overwritten rows — but a tail that RESUMES after a
        re-harvest must emit seqs above ``epoch_summary()['max_seq']``
        (re-position the connector), exactly as a binlog connector
        re-snapshots its offset after a snapshot load.

        Exactly-once: the diff's seqs are a deterministic function of
        (table max_seq, key) — see :func:`reharvest_diff_events` — and
        the epoch id is the next unfenced epoch, so a crash-retry re-run
        regenerates the identical batch and the fence/seq-conditional
        merge absorbs it. A re-run over an UNCHANGED dump diffs to zero
        events and (with ``skip_empty``) fences nothing — a no-op, not an
        empty epoch per cron tick.

        Scale shape: the diff join runs ONCE — its (small) output, the
        changed set, is persisted, counted, merged, and unpersisted; the
        table side ships only keys + stored digest through the exchange.
        ``snapshot_ts_ms`` stamps the generated events (pass the dump's
        harvest/mtime timestamp for deterministic re-runs; defaults 0).
        """
        from pyspark import StorageLevel

        from foundry_es_spark.operators.cdc import reharvest_diff_events

        table = self.ensure_table()
        next_epoch = table.last_epoch(self.cfg.pipeline_id) + 1
        base_seq = self._table_high_water_seq()
        events = reharvest_diff_events(
            table.read(), snapshot, base_seq=base_seq, ts_millis=snapshot_ts_ms
        ).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            n_diff = events.count()
            if n_diff == 0 and skip_empty:
                return {
                    "pipeline_id": self.cfg.pipeline_id,
                    "epoch": None,
                    "n_events": 0,
                    "base_seq": base_seq,
                    "unchanged": True,
                }
            info = self.apply_epoch(events, next_epoch)
            info["reharvest"] = {
                "base_seq": base_seq,
                "snapshot_ts_ms": int(snapshot_ts_ms or 0),
            }
            return info
        finally:
            events.unpersist()

    def _table_high_water_seq(self) -> int:
        """Max seq any writer of THIS table has consumed — across ALL
        pipeline ids, because a table may be fed by several (a routed
        stream plus a re-harvest pipeline share one table but keep
        separate fence domains). Driver-side commit-log metadata, no
        Spark job; a table with rows but no lineage (imported/foreign)
        falls back to one column-pruned ``max(_seq)`` aggregate so
        generated diff seqs still clear every stored row. So does a table
        whose oldest commits were expired: their ``max_seq`` is gone with
        them, and the stored rows (tombstones included) are what the
        seq-conditional merge compares against."""
        retained = commitlog.list_versions(self.cfg.table_dir)
        hw = None
        for i in retained:
            info = commitlog.read_commit(self.cfg.table_dir, i).get("epoch_info")
            if info and info.get("max_seq") is not None:
                s = int(info["max_seq"])
                hw = s if hw is None or s > hw else hw
        if hw is not None and retained[0] == 0:
            return hw
        table = self.ensure_table()
        if hasattr(table, "read_internal"):
            row = table.read_internal().agg(F.max("_seq")).collect()[0][0]
            if row is not None:
                return int(row) if hw is None else max(hw, int(row))
        return hw or 0

    # ------------------------------------------------- system-table views

    def _epoch_infos(self) -> list[dict]:
        v = commitlog.current_version(self.cfg.table_dir)
        infos = []
        for i in range((v or -1) + 1):
            rec = commitlog.read_commit(self.cfg.table_dir, i)
            info = rec.get("epoch_info")
            if info and info.get("pipeline_id") == self.cfg.pipeline_id:
                infos.append({**info, "table_version": rec["version"]})
        return infos

    def epoch_summary(self) -> dict:
        """Driver-side lineage rollup — the numbers an operator's log line
        needs (fenced epochs, events consumed, high-water seq), straight
        from commit metadata: ZERO Spark jobs, unlike summing the
        :meth:`lineage` DataFrame (VERDICT r4 item 6)."""
        infos = self._epoch_infos()
        return {
            "epochs_fenced": len(infos),
            "last_epoch": max((int(i["epoch"]) for i in infos), default=-1),
            "events_replayed": int(sum(i.get("n_events") or 0 for i in infos)),
            "max_seq": max(
                (int(i["max_seq"]) for i in infos if i.get("max_seq") is not None),
                default=None,
            ) if any(i.get("max_seq") is not None for i in infos) else None,
        }

    def lineage(self) -> DataFrame:
        """S6 lineage/metrics table: one row per committed epoch, from the
        commit log (atomic with the fence by construction). ``stage_sec``
        holds the epoch's stage walls (prescan, merge_write, audit) as
        committed; compaction runs after the commit, so its wall is only
        in :meth:`apply_epoch`'s return."""
        cols = [
            ("pipeline_id", "string"), ("epoch", "long"), ("table_version", "long"),
            ("n_events", "long"), ("n_keys", "long"), ("n_deletes", "long"),
            ("n_dead_letters", "long"), ("min_seq", "long"), ("max_seq", "long"),
            ("wall_sec", "double"), ("buckets_rewritten", "long"),
            ("files_written", "long"), ("stage_sec", "map<string,double>"),
        ]
        rows = [{k: info.get(k) for k, _ in cols} for info in self._epoch_infos()]
        return self.spark.createDataFrame(rows, schema=", ".join(f"{k} {t}" for k, t in cols))

    def offsets(self) -> DataFrame:
        """C5/C6 per-partition checkpointed offsets table."""
        rows = []
        for info in self._epoch_infos():
            for part, o in (info.get("offsets") or {}).items():
                rows.append(
                    {
                        "pipeline_id": info["pipeline_id"],
                        "epoch": info["epoch"],
                        "part": int(part),
                        "max_seq": o["max_seq"],
                        "n_events": o.get("n_events", o.get("n_keys")),
                    }
                )
        return self.spark.createDataFrame(
            rows, schema="pipeline_id string, epoch long, part int, max_seq long, n_events long"
        )

    def dead_letters(self) -> DataFrame:
        d = os.path.join(self.cfg.table_dir, "_sys", "errors")
        if not os.path.isdir(d):
            return self.spark.createDataFrame([], "epoch long")
        return self.spark.read.parquet(d)

    def _write_dead_letters(self, dead: DataFrame, epoch_id: int) -> int:
        n = dead.count()
        if n:
            out = os.path.join(self.cfg.table_dir, "_sys", "errors", f"epoch={epoch_id}")
            dead.write.mode("overwrite").parquet(out)  # idempotent per epoch
        return int(n)
