"""IcebergBackend: the production sink (SURVEY.md §4.4 backend 1).

Implements the :class:`~foundry_es_spark.lake.backend.TableBackend` protocol
by generating real Iceberg Spark-SQL — `CREATE TABLE … USING iceberg
PARTITIONED BY (bucket(N, repo))`, seq-conditional `MERGE INTO`,
`ALTER TABLE` schema evolution, `rewrite_data_files` compaction — and
executing it through ``spark.sql`` when an Iceberg catalog is on the
classpath. In this sandbox no Iceberg runtime jar exists, so the backend
runs in **plan mode** by default: every statement is appended to
``self.sql_log`` and validated by golden-SQL unit tests
(tests/test_iceberg_backend.py), which pins the exact DDL/DML a cluster
deployment will issue.

Exactly-once on Iceberg (C5): correctness does NOT depend on the fence
being atomic with the MERGE — every WHEN MATCHED branch is additionally
conditioned on ``s._seq > t._seq``, so re-applying an epoch is a no-op at
the row level (the same order-conditional idempotence the local backend's
tombstone merge uses). The fence (a ``graft.fence.<pipeline>`` table
property, or a snapshot summary property via CommitMetadata on the JVM
path) is the cheap skip, not the safety mechanism.

MoR vs CoW maps to Iceberg table properties, not different statements:
``write.merge.mode = merge-on-read`` makes the same MERGE INTO write
delete-files + data-files (delta generations), ``copy-on-write`` rewrites
touched files; ``compact_buckets`` becomes ``rewrite_data_files`` with a
bucket-partition filter.

File-pruning stat parity: the local backend's per-file key bounds and
key-fingerprint sets (lake/kfp.py) correspond on Iceberg to manifest
column bounds (collected automatically) and parquet bloom filters —
``write.parquet.bloom-filter-enabled.column.repo = true`` in the CREATE
properties below — so selective reads prune the same way on both
backends.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from foundry_es_spark.lake import log as commitlog
from foundry_es_spark.lake.table import WIDENINGS, LakeField

# Iceberg commit exceptions, classified by what the driver may do next.
# Matched by NAME inside the raised error's string form because on a real
# cluster they surface as Py4J-wrapped java exceptions (no importable
# Python class), and in this jar-less sandbox tests raise stand-ins.
#
# - RETRY-SAFE (re-issue the same statement): the catalog CAS was lost
#   (CommitFailedException, after Iceberg's own commit.retry budget) or the
#   commit outcome is UNKNOWN (CommitStateUnknownException). Blind re-issue
#   is safe for every statement this backend emits because they are all
#   idempotent at the row level — the MERGE's branches are seq-conditional
#   (re-applying an epoch is a no-op), rewrite_data_files is a binpack of
#   whatever files currently exist, and property SETs are absolute values.
#   This mirrors lake/table.py:_publish's rebase-and-retry loop.
# - CONFLICT (re-plan from current state): serializable validation found
#   that files this operation read/rewrote were changed concurrently
#   (ValidationException). Mapped to the local backend's
#   ConcurrentWriteConflict so callers handle both backends identically
#   (CdcPipeline re-runs the merge, run_maintain skips the step this tick).
_RETRY_MARKERS = ("CommitFailedException", "CommitStateUnknownException")
_CONFLICT_MARKERS = ("ValidationException",)

KEY_COLS = ("repo", "path")


def _ddl(fields: list[tuple[str, str]], required: set[str] | None = None) -> str:
    req = required or set()
    return ", ".join(
        f"{n} {t.upper()}" + (" NOT NULL" if n in req else "") for n, t in fields
    )


@dataclass
class IcebergBackend:
    """One Iceberg table addressed as `catalog.db.name`. Single-writer per
    pipeline; cross-writer interleaving (another pipeline, the maintenance
    procedures) is Iceberg's native optimistic commit: appends retry/rebase
    via the catalog CAS and rewrites fail validation when their input files
    moved — exactly the contract the local backend reimplements in
    `lake/table.py:_publish` (`concurrent_writers=True`), so behavior is
    portable across backends."""

    spark: SparkSession
    fqtn: str
    n_buckets: int = 16
    merge_mode: str = "merge-on-read"  # Iceberg write.merge.mode
    patch_mode: bool = False           # C9: source may carry sparse _op='P' rows
    execute: bool = False              # False = plan mode (no jar locally)
    commit_retries: int = 3            # driver-level re-issues on lost/unknown
                                       # commits, ON TOP of Iceberg's internal
                                       # commit.retry.num-retries CAS budget
    sql_log: list[str] = field(default_factory=list)
    # plan-mode shadow state so the protocol behaves without a catalog
    _fields: list[LakeField] = field(default_factory=list)
    _props: dict = field(default_factory=dict)

    # ------------------------------------------------------------------ util

    def _execute(self, sql: str):
        # seam for the OCC tests (and a deployment's statement hook)
        return self.spark.sql(sql)

    @staticmethod
    def _exc_names(exc: Exception) -> str:
        """The exception's CLASS-NAME surface, not its full repr (ADVICE
        r4): a Py4J error embeds the whole Java stack trace, where a
        retry-safe CommitFailedException's caused-by chain may mention
        ValidationException — substring-matching repr() would misroute it.
        We match against (a) the Python class name (the scripted-catalog
        stand-ins), (b) the Java exception's class name when Py4J exposes
        one, (c) the first line of str(exc) (where Py4J prints
        `java.lang.Foo: message`)."""
        names = [type(exc).__name__]
        je = getattr(exc, "java_exception", None)
        if je is not None:
            try:
                names.append(je.getClass().getName())
            except Exception:
                pass
        s = str(exc).strip()
        if s:
            names.append(s.splitlines()[0])
        return " ".join(names)

    def _run(
        self, sql: str, retryable: bool = False, still_needed=None
    ) -> bool:
        """Issue one statement. ``retryable`` marks write statements whose
        re-issue is row-level idempotent (see _RETRY_MARKERS note): lost or
        unknown commits are re-issued up to ``commit_retries`` times, then
        surfaced as ConcurrentWriteConflict; serializable-validation
        failures surface immediately as ConcurrentWriteConflict (the caller
        must re-plan from the new snapshot — retrying verbatim is what the
        re-run IS, the statement re-reads current state, but the DECISION
        to re-run belongs to the caller, exactly like the local backend).

        ``still_needed`` (ADVICE r4, medium): re-evaluated before every
        RE-issue — a retryable statement whose effect is now moot (e.g. a
        fence SET after a concurrent writer fenced a LATER epoch of the
        same pipeline between attempts) must not be replayed verbatim, or
        it would regress state the race already advanced. The first issue
        is the caller's decision; only retries re-check.

        Returns True when the statement took effect (or plan mode logged
        it); False when a retry was abandoned because ``still_needed``
        said the effect is moot — callers maintaining shadow state must
        not record an abandoned statement."""
        sql = " ".join(sql.split())
        attempts = (self.commit_retries + 1) if retryable else 1
        for i in range(attempts):
            if i > 0 and still_needed is not None and not still_needed():
                return False
            self.sql_log.append(sql)
            if not self.execute:
                return True
            try:
                self._execute(sql)
                return True
            except commitlog.ConcurrentWriteConflict:
                raise
            except Exception as exc:
                names = self._exc_names(exc)
                # retry markers FIRST for retryable statements: a lost
                # commit wins over an incidental conflict mention
                if retryable and any(m in names for m in _RETRY_MARKERS):
                    if i < attempts - 1:
                        continue
                    raise commitlog.ConcurrentWriteConflict(
                        f"commit retry budget ({self.commit_retries}) "
                        f"exhausted for: {sql[:120]}…"
                    ) from exc
                if any(m in names for m in _CONFLICT_MARKERS):
                    raise commitlog.ConcurrentWriteConflict(
                        f"serializable validation failed for: {sql[:120]}…"
                    ) from exc
                raise

    # ------------------------------------------------------------------- DDL

    def create(self, fields: list[tuple[str, str]]) -> "IcebergBackend":
        self._fields = [LakeField(i + 1, n, t) for i, (n, t) in enumerate(fields)]
        # identifier fields MUST be declared NOT NULL — Iceberg rejects
        # SET IDENTIFIER FIELDS on nullable columns; _seq/_op are engine
        # invariants (every row carries them) so they are required too
        cols = _ddl(
            [(f.name, f.type) for f in self._fields]
            + [("_seq", "bigint"), ("_op", "string")],
            required=set(KEY_COLS) | {"_seq", "_op"},
        )
        self._run(
            f"""CREATE TABLE IF NOT EXISTS {self.fqtn} ({cols})
            USING iceberg
            PARTITIONED BY (bucket({self.n_buckets}, repo))
            TBLPROPERTIES (
              'format-version' = '2',
              'write.merge.mode' = '{self.merge_mode}',
              'write.update.mode' = '{self.merge_mode}',
              'write.delete.mode' = '{self.merge_mode}',
              'write.distribution-mode' = 'hash',
              'write.parquet.compression-codec' = 'zstd',
              'write.parquet.bloom-filter-enabled.column.repo' = 'true',
              'commit.retry.num-retries' = '8',
              'commit.retry.min-wait-ms' = '100',
              'commit.retry.max-wait-ms' = '60000',
              'write.merge.isolation-level' = 'serializable',
              'write.update.isolation-level' = 'serializable',
              'write.delete.isolation-level' = 'serializable'
            )"""
        )
        self._run(f"ALTER TABLE {self.fqtn} SET IDENTIFIER FIELDS {', '.join(KEY_COLS)}")
        return self

    # --------------------------------------------------------------- fencing

    def _fence_key(self, pipeline_id: str) -> str:
        return f"graft.fence.{pipeline_id}"

    def properties(self) -> dict:
        if self.execute:
            rows = self._execute(f"SHOW TBLPROPERTIES {self.fqtn}").collect()
            return {r["key"]: r["value"] for r in rows}
        return dict(self._props)

    def is_epoch_committed(self, pipeline_id: str, epoch_id: int) -> bool:
        return epoch_id <= self.last_epoch(pipeline_id)

    def last_epoch(self, pipeline_id: str) -> int:
        return int(self.properties().get(self._fence_key(pipeline_id), -1))

    def _advance_fence_sql(self, pipeline_id: str, epoch_id: int) -> None:
        # Production-atomic variant: CommitMetadata.withCommitProperties
        # around the MERGE puts this in the snapshot summary instead; the
        # property form is the SQL-only fallback (safe because MERGE is
        # seq-conditionally idempotent — see module docstring).
        #
        # Monotonic: a fence never moves BACKWARDS. If another writer
        # raced past us (fenced a later epoch of the same pipeline while
        # our merge was in flight), overwriting the property with our
        # lower epoch would reopen theirs for double-apply on the next
        # resume. Concurrent SETs of DIFFERENT pipelines' keys never
        # clobber each other — each statement is a metadata commit that
        # rebases onto reloaded base metadata under commit.retry.
        if epoch_id <= self.last_epoch(pipeline_id):
            return
        applied = self._run(
            f"ALTER TABLE {self.fqtn} SET TBLPROPERTIES "
            f"('{self._fence_key(pipeline_id)}' = '{epoch_id}')",
            retryable=True,
            # ADVICE r4 (medium): re-check monotonicity before every
            # RE-issue — if a concurrent writer fenced a later epoch of
            # this pipeline between attempts, replaying our lower SET
            # would regress the fence and reopen theirs for double-apply
            still_needed=lambda: epoch_id > self.last_epoch(pipeline_id),
        )
        if applied:
            self._props[self._fence_key(pipeline_id)] = str(epoch_id)

    def fence_epoch_only(self, pipeline_id: str, epoch_id: int, info: dict | None = None) -> None:
        self._advance_fence_sql(pipeline_id, epoch_id)

    # ---------------------------------------------------------------- schema

    def schema_fields(self) -> list[LakeField]:
        return list(self._fields)

    def spark_schema(self, with_sys: bool = False) -> T.StructType:
        out = [T.StructField(f.name, f.spark_type(), f.nullable) for f in self._fields]
        if with_sys:
            out += [T.StructField("_seq", T.LongType(), False), T.StructField("_op", T.StringType(), False)]
        return T.StructType(out)

    def add_column(self, name: str, type_ddl: str) -> None:
        self._run(f"ALTER TABLE {self.fqtn} ADD COLUMN {name} {type_ddl.upper()}")
        nid = max((f.id for f in self._fields), default=0) + 1
        self._fields.append(LakeField(nid, name, type_ddl))

    def rename_column(self, old: str, new: str) -> None:
        self._run(f"ALTER TABLE {self.fqtn} RENAME COLUMN {old} TO {new}")
        self._fields = [
            LakeField(f.id, new if f.name == old else f.name, f.type, f.nullable)
            for f in self._fields
        ]

    def drop_column(self, name: str) -> None:
        if name in KEY_COLS:
            raise ValueError(f"cannot drop key column {name}")
        self._run(f"ALTER TABLE {self.fqtn} DROP COLUMN {name}")
        self._fields = [f for f in self._fields if f.name != name]

    def widen_column(self, name: str, new_type: str) -> None:
        cur = next(f for f in self._fields if f.name == name)
        if cur.type != new_type and (cur.type, new_type) not in WIDENINGS:
            raise ValueError(f"illegal type change {cur.type} → {new_type}")
        self._run(f"ALTER TABLE {self.fqtn} ALTER COLUMN {name} TYPE {new_type.upper()}")
        self._fields = [
            LakeField(f.id, f.name, new_type if f.name == name else f.type, f.nullable)
            for f in self._fields
        ]

    def evolve_for_batch(self, batch_schema: T.StructType, rename_map=None) -> None:
        """Same registry-diff policy as the local backend, emitted as
        Iceberg ALTER statements (C7)."""
        rename_map = rename_map or {}
        cur = {f.name: f for f in self._fields}
        for old, new in rename_map.items():
            if old in cur and any(bf.name == new for bf in batch_schema.fields):
                self.rename_column(old, new)
                cur = {f.name: f for f in self._fields}
        for bf in batch_schema.fields:
            if bf.name in ("seq", "ts", "op", "part", "epoch"):
                continue
            ddl = bf.dataType.simpleString()
            if bf.name not in cur:
                self.add_column(bf.name, ddl)
            elif cur[bf.name].type != ddl and (cur[bf.name].type, ddl) in WIDENINGS:
                self.widen_column(bf.name, ddl)

    # ---------------------------------------------------------------- writes

    def merge_sql(self, source: str) -> str:
        """The S5 statement: seq-conditional upsert with tombstone-free
        deletes (Iceberg's MERGE deletes rows natively — no _op='D'
        tombstone rows needed, unlike the local backend)."""
        on = " AND ".join(f"t.{k} = s.{k}" for k in KEY_COLS)
        cols = [f.name for f in self._fields] + ["_seq", "_op"]
        sets = ", ".join(f"t.{c} = s.{c}" for c in cols)
        names = ", ".join(cols)
        vals = ", ".join(f"s.{c}" for c in cols)
        return (
            f"MERGE INTO {self.fqtn} t USING {source} s ON {on} "
            f"WHEN MATCHED AND s._seq > t._seq AND s._op = 'D' THEN DELETE "
            f"WHEN MATCHED AND s._seq > t._seq THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED AND s._op != 'D' THEN INSERT ({names}) VALUES ({vals})"
        )

    def merge_patch_sql(self, source: str) -> str:
        """C9 cluster twin (operators/cdc.py fold_key_runs): when the
        source carries SPARSE patch rows (``_op='P'``, unset columns null)
        alongside full images, resolution rides the MERGE itself — no
        pre-read of the stored rows (the local backend stores them sparse
        and folds them at read; here Iceberg's own MATCHED branch folds
        them). Per column: matched patches coalesce ``s.c`` over ``t.c``,
        full images overwrite; a patch with no matching row is NOT inserted
        (the orphan no-op semantic); ``_op`` is stored as 'U' for applied
        patches so the table never contains partial-image markers."""
        on = " AND ".join(f"t.{k} = s.{k}" for k in KEY_COLS)
        cols = [f.name for f in self._fields]
        # key columns never coalesce (they are equal by the ON clause and
        # non-null by validity); only payload columns patch per-column
        sets = ", ".join(
            f"t.{c} = s.{c}"
            if c in KEY_COLS
            else f"t.{c} = CASE WHEN s._op = 'P' THEN coalesce(s.{c}, t.{c}) ELSE s.{c} END"
            for c in cols
        )
        sets += ", t._seq = s._seq, t._op = CASE WHEN s._op = 'P' THEN 'U' ELSE s._op END"
        names = ", ".join(cols + ["_seq", "_op"])
        vals = ", ".join(f"s.{c}" for c in cols + ["_seq", "_op"])
        return (
            f"MERGE INTO {self.fqtn} t USING {source} s ON {on} "
            f"WHEN MATCHED AND s._seq > t._seq AND s._op = 'D' THEN DELETE "
            f"WHEN MATCHED AND s._seq > t._seq THEN UPDATE SET {sets} "
            f"WHEN NOT MATCHED AND s._op NOT IN ('D', 'P') THEN INSERT ({names}) VALUES ({vals})"
        )

    def merge_upsert(self, batch: DataFrame, fence=None, files_per_bucket: int = 1,
                     info=None, touched_buckets: list[int] | None = None) -> dict:
        # touched_buckets is accepted for protocol parity and ignored:
        # Iceberg prunes bucket partitions from the MERGE's join predicate.
        view = "graft_merge_src"
        # Zombie-driver abort (C5, mirror of lake/table.py:_publish's
        # in-commit fence check, pinned by test_concurrent.py::
        # test_duplicate_epoch_from_second_writer_is_rejected): if another
        # writer already fenced this (pipeline, epoch), issue NOTHING.
        # The check-then-merge pair is not atomic here — the residual
        # window is harmless because every MERGE branch is seq-conditional
        # (a double-apply updates no rows) and the fence advance below is
        # monotonic; the production-atomic variant rides CommitMetadata
        # (module docstring).
        if fence is not None and self.is_epoch_committed(*fence):
            raise commitlog.EpochAlreadyFenced(
                f"epoch {fence[1]} of pipeline {fence[0]} already fenced on "
                f"{self.fqtn} — another writer applied it; discarding"
            )
        if self.execute:
            batch.createOrReplaceTempView(view)
        # C9: a patch-enabled pipeline delivers sparse _op='P' rows (net
        # patches are stored sparse); the plain statement would null-clobber
        # matched rows and insert orphan patches. merge_patch_sql degrades
        # to the plain semantics when no P rows are present, so dispatch on
        # the configured mode, not the data.
        self._run(
            self.merge_patch_sql(view) if self.patch_mode else self.merge_sql(view),
            retryable=True,
        )
        if callable(info):
            # The info callback may carry Observation-backed stats that only
            # resolve once the source plan has EXECUTED (the pipeline's
            # epoch-body contract: "invoke post-write"). In plan mode the
            # MERGE never runs, so calling it would block forever — record
            # stats only when the statement really executed.
            info = info() if self.execute else None
        if fence:
            self._advance_fence_sql(*fence)
        return {"buckets_rewritten": -1, "files_written": -1, "epoch_info": info}

    # On Iceberg MoR-vs-CoW is a table property; the statement is identical.
    def append_delta(self, batch: DataFrame, fence=None, files_per_bucket: int = 1,
                     info=None, pre_partitioned: bool = False) -> dict:
        return self.merge_upsert(batch, fence=fence, files_per_bucket=files_per_bucket, info=info)

    def overwrite_snapshot(self, df: DataFrame, fence=None) -> None:
        if self.execute:
            df.createOrReplaceTempView("graft_snapshot_src")
        cols = ", ".join([f.name for f in self._fields])
        self._run(
            f"INSERT OVERWRITE {self.fqtn} SELECT {cols}, "
            f"CAST(-1 AS BIGINT) AS _seq, 'I' AS _op FROM graft_snapshot_src",
            retryable=True,
        )
        if fence:
            self._advance_fence_sql(*fence)

    # ----------------------------------------------------------- maintenance

    def bucket_delta_generations(self) -> dict[int, int]:
        # Iceberg tracks delete-file counts per partition in its metadata
        # tables; compaction scheduling reads `<t>.files`. Plan mode: none.
        return {}

    def compact_buckets(self, buckets: list[int], files_per_bucket: int = 1) -> dict:
        catalog = self.fqtn.split(".")[0]
        tbl = self.fqtn.split(".", 1)[1]
        # `system.bucket(N, col)` is the Iceberg Spark function form the
        # rewrite procedure's where-filter resolves against TABLE columns
        # (Iceberg >= 1.4); `partition.repo_bucket` is metadata-table
        # syntax and does not resolve as a row predicate.
        where = f"system.bucket({self.n_buckets}, repo) IN ({', '.join(str(b) for b in sorted(buckets))})"
        # use-starting-sequence-number (default true, pinned explicit):
        # the rewritten files keep their input's sequence number, so a MoR
        # ingest committing BETWEEN this rewrite's read and its commit
        # still wins on its (newer) deletes — the rebase rule that lets
        # compaction run beside a live pipeline (test_concurrent.py::
        # test_ingest_races_compaction). A conflicting rewrite of the same
        # files still fails serializable validation -> the _run layer maps
        # it to ConcurrentWriteConflict and the cron re-plans next tick.
        self._run(
            f"""CALL {catalog}.system.rewrite_data_files(
              table => '{tbl}',
              strategy => 'binpack',
              where => '{where}',
              options => map('delete-file-threshold', '1',
                             'use-starting-sequence-number', 'true')
            )""",
            retryable=True,
        )
        return {"buckets_rewritten": len(buckets), "files_written": -1}

    # ---------------------------------------------------------------- reads

    def read(self) -> DataFrame:
        return self.spark.sql(f"SELECT {', '.join(f.name for f in self._fields)} FROM {self.fqtn}")

    def read_internal(self, buckets: list[int] | None = None) -> DataFrame:
        # bucket pruning is Iceberg's job (partition pruning on
        # bucket(N, repo) via the MERGE/scan predicates); the hint is
        # accepted for protocol parity and ignored
        return self.spark.sql(f"SELECT * FROM {self.fqtn}")

    def read_at_version_sql(self, snapshot_or_ts) -> str:
        """Time travel — the Iceberg twin of LakeTable.read_at_version:
        `VERSION AS OF <snapshot-id>` (or `TIMESTAMP AS OF` for a str)."""
        cols = ", ".join(f.name for f in self._fields)
        clause = (
            f"TIMESTAMP AS OF '{snapshot_or_ts}'"
            if isinstance(snapshot_or_ts, str)
            else f"VERSION AS OF {int(snapshot_or_ts)}"
        )
        return f"SELECT {cols} FROM {self.fqtn} {clause}"

    def read_at_version(self, snapshot_or_ts) -> DataFrame:
        sql = self.read_at_version_sql(snapshot_or_ts)
        self.sql_log.append(" ".join(sql.split()))
        return self.spark.sql(sql) if self.execute else None

    def table_changes_sql(self, start_snapshot: int, end_snapshot: int | None = None) -> str:
        """Incremental read — the Iceberg twin of LakeTable.table_changes:
        the `create_changelog_view` procedure, which emits per-snapshot
        change rows with _change_type (INSERT/DELETE/UPDATE_BEFORE/AFTER)
        — Iceberg's name for the _op/_commit_version feed the local
        backend derives from its delta files."""
        catalog = self.fqtn.split(".")[0]
        tbl = self.fqtn.split(".", 1)[1]
        end = (
            f", 'end-snapshot-id', '{end_snapshot}'" if end_snapshot is not None else ""
        )
        return (
            f"CALL {catalog}.system.create_changelog_view("
            f"table => '{tbl}', "
            f"options => map('start-snapshot-id', '{start_snapshot}'{end}), "
            f"changelog_view => 'graft_changes')"
        )

    def table_changes(self, start_snapshot: int, end_snapshot: int | None = None) -> DataFrame:
        sql = self.table_changes_sql(start_snapshot, end_snapshot)
        self.sql_log.append(" ".join(sql.split()))
        if self.execute:
            self.spark.sql(sql)
            return self.spark.sql("SELECT * FROM graft_changes")
        return None

    # ------------------------------------------------------------ maintenance

    def expire_snapshots_sql(self, keep_last: int = 1) -> str:
        """Retention — the Iceberg twin of LakeTable.expire_snapshots:
        `system.expire_snapshots(retain_last => N)` (snapshot metadata AND
        the data files only expired snapshots reference, so it covers the
        local backend's expire_snapshots + vacuum(keep_snapshots) pair)."""
        catalog = self.fqtn.split(".")[0]
        tbl = self.fqtn.split(".", 1)[1]
        return (
            f"CALL {catalog}.system.expire_snapshots("
            f"table => '{tbl}', retain_last => {int(keep_last)})"
        )

    def expire_snapshots(self, keep_last: int = 1) -> int:
        self._run(self.expire_snapshots_sql(keep_last), retryable=True)
        return -1  # count comes from the procedure's result set on a cluster

    def rollback_sql(self, snapshot_id: int) -> str:
        """Restore-to-snapshot — the Iceberg twin of LakeTable.rollback:
        `system.rollback_to_snapshot` moves the table's current snapshot
        pointer back (metadata-only, history retained, same
        rollback-then-replay recovery contract)."""
        catalog = self.fqtn.split(".")[0]
        tbl = self.fqtn.split(".", 1)[1]
        return (
            f"CALL {catalog}.system.rollback_to_snapshot("
            f"table => '{tbl}', snapshot_id => {int(snapshot_id)})"
        )

    def vacuum_sql(self, older_than: str | None = None) -> str:
        """Orphan cleanup — the twin of the local vacuum's attempt-debris
        sweep: files in the table location no snapshot references
        (crashed/speculative writers).

        ``older_than`` (a ``YYYY-MM-DD HH:MM:SS`` timestamp the caller
        computes as now − grace) is the Iceberg form of the local
        backend's ``writer_grace_sec``: a LIVE concurrent writer's staged
        files are not yet referenced by any snapshot, so without the
        grace window this procedure would delete them mid-commit
        (test_concurrent.py::test_vacuum_spares_inflight_but_reclaims_
        stale). Omitted, Iceberg applies its own 3-day default — safe,
        just coarser."""
        catalog = self.fqtn.split(".")[0]
        tbl = self.fqtn.split(".", 1)[1]
        grace = (
            f", older_than => TIMESTAMP '{older_than}'" if older_than else ""
        )
        return (
            f"CALL {catalog}.system.remove_orphan_files(table => '{tbl}'{grace})"
        )

    def vacuum(self, keep_snapshots: int = 0, older_than: str | None = None) -> int:
        # both retryable: metadata commits that can lose the catalog CAS,
        # idempotent on re-issue — same posture as expire_snapshots()
        if keep_snapshots:
            self._run(self.expire_snapshots_sql(keep_snapshots + 1), retryable=True)
        self._run(self.vacuum_sql(older_than), retryable=True)
        return -1
