"""LocalLakeBackend: an Iceberg-semantics table on plain Parquet + commit log.

Design (SURVEY.md §4.4): data files live under ``data/c{version}/bucket=<b>/``;
each commit records the full live-file list, the schema (stable field ids,
like Iceberg's), per-pipeline epoch fences, and properties. MERGE-equivalent
upsert rewrites ONLY the hash-buckets touched by the batch — the local
analogue of Iceberg's ``bucket(N, repo)`` partition spec keeping MERGE
write amplification proportional to touched keys, not table size.

Rows carry two system columns: ``_seq`` (ordering metadata of the last
applied event) and ``_op`` (last op; ``D`` rows are retained as tombstones
and filtered from public reads). Tombstones make the merge idempotent and
order-tolerant: an event only wins if its seq exceeds the stored one, so
re-delivery and modest cross-batch reordering cannot corrupt state — the
Spark-native restatement of the reference's status-based skip of
already-processed docs [F-ES: DocumentIngestionService — UNVERIFIED,
SURVEY.md §0].
"""

from __future__ import annotations

import itertools
import os
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from foundry_es_spark.lake import log as commitlog
from foundry_es_spark.lake.taskfile import TASK_FILE_DDL

SYS_COLS = ["_seq", "_op"]

# Allowed type promotions (Iceberg evolution rules).
WIDENINGS = {
    ("int", "bigint"),
    ("int", "double"),
    ("bigint", "double"),
    ("float", "double"),
    ("date", "timestamp"),
}


@dataclass
class LakeField:
    id: int
    name: str
    type: str  # Spark DDL type string
    nullable: bool = True

    def to_json(self) -> dict:
        return {"id": self.id, "name": self.name, "type": self.type, "nullable": self.nullable}

    @staticmethod
    def from_json(d: dict) -> "LakeField":
        return LakeField(d["id"], d["name"], d["type"], d.get("nullable", True))

    def spark_type(self) -> T.DataType:
        return T._parse_datatype_string(self.type)


def _fields_to_struct(fields: list[LakeField], with_sys: bool = True) -> T.StructType:
    out = [T.StructField(f.name, f.spark_type(), f.nullable) for f in fields]
    if with_sys:
        out.append(T.StructField("_seq", T.LongType(), False))
        out.append(T.StructField("_op", T.StringType(), False))
    return T.StructType(out)


def _footer_key_bounds(path: str, key_col: str) -> tuple[str, str, int] | None:
    """File-level [min,max] of a string key column plus the file's row
    count, all from one parquet footer read (driver-side — the Iceberg
    manifest column-bounds analogue, recorded at write so selective reads
    can prune whole FILES before any task is scheduled, and so describe()
    can report row counts without a job). None when stats are unusable."""
    try:
        import pyarrow.parquet as pq

        meta = pq.read_metadata(path)
        idx = meta.schema.names.index(key_col)
        lo = hi = None
        for rg in range(meta.num_row_groups):
            st = meta.row_group(rg).column(idx).statistics
            if st is None or not st.has_min_max:
                return None
            if not (isinstance(st.min, str) and isinstance(st.max, str)):
                return None
            lo = st.min if lo is None else min(lo, st.min)
            hi = st.max if hi is None else max(hi, st.max)
        return None if lo is None else (lo, hi, int(meta.num_rows))
    except Exception:
        return None


def _file_key_fingerprints(path: str, key_col: str) -> str | None:
    """Key-fingerprint set (lake/kfp.py) for a file the JVM writer just
    produced. The fused sinks compute this in-task over the Arrow column
    for free; here the file already exists, so it is one driver-side
    single-column read of a freshly written local file — gated by file
    size so the initial-load / compacted-base case (large files whose
    distinct keys exceed KFP_CAP anyway) skips straight to None, the
    same driver-side-stat-collection budget as :func:`_footer_key_bounds`.
    None = no fingerprint recorded = file kept conservatively."""
    try:
        if os.path.getsize(path) > 32 * 1024 * 1024:
            return None
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        from foundry_es_spark.lake.kfp import kfp_encode

        t = pq.read_table(path, columns=[key_col])
        return kfp_encode(pc.unique(t.column(key_col)).to_pylist())
    except Exception:
        return None


KEY_SEP = "\x00"  # minimal codepoint: combined-key concat-compare == tuple-compare


def _row_group_key_bounds(meta, rg: int, phys: list[str]) -> tuple[str, str] | None:
    """Conservative [min,max] combined-key bounds of a row group from
    per-column stats (per-column min/max bracket the true tuple min/max;
    parquet stat truncation only widens them, so overlap tests stay safe).
    Non-string key stats return None — lexicographic edges would misorder
    numeric keys, so those tables take the whole-bucket path / conservative
    include. ``phys``: the file's physical key-column names."""
    names = meta.schema.names
    vals = []
    for k in phys:
        if k not in names:
            return None
        st = meta.row_group(rg).column(names.index(k)).statistics
        if st is None or not st.has_min_max:
            return None
        if not (isinstance(st.min, str) and isinstance(st.max, str)):
            return None
        vals.append((st.min, st.max))
    return KEY_SEP.join(v[0] for v in vals), KEY_SEP.join(v[1] for v in vals)


def _phys_keys(proj: dict, spec: dict, key_idx: list[int]) -> list[str] | None:
    """Physical names of the key columns in a file's schema version (files
    carry historical names; resolved through the field-id projection).
    None when any key column is unmapped in that version."""
    phys = [proj[spec["sv"]][i] for i in key_idx]
    return None if any(p is None for p in phys) else phys


def _plan_key_ranges(
    specs: list[dict], proj: dict, key_idx: list[int], range_target: int
) -> list[str] | None:
    """Combined-key range edges for merging an OVERSIZED bucket in
    ``(lo, hi]`` slices: the driver splits a fused rewrite into parallel
    per-range tasks, a read task merges range by range in bounded memory.
    Edges come from the row-group stats of the bucket's largest file — a
    pure function of footers (one footer read, the same budget class as
    ``_footer_key_bounds``), so it runs on either side. Returns None
    (caller keeps the whole-bucket path) when stats are unusable or give
    no interior bound."""
    import pyarrow.parquet as pq

    sizes = [os.path.getsize(s["path"]) for s in specs]
    n_ranges = max(2, -(-sum(sizes) // max(1, range_target)))
    big = max(range(len(specs)), key=lambda i: sizes[i])
    phys = _phys_keys(proj, specs[big], key_idx)
    if phys is None:
        return None
    try:
        meta = pq.ParquetFile(specs[big]["path"]).metadata
    except OSError:
        return None
    cands = []
    for rg in range(meta.num_row_groups):
        kb = _row_group_key_bounds(meta, rg, phys)
        if kb is None:
            return None
        cands.append(kb[1])
    step = max(1, len(cands) // n_ranges)
    bounds = sorted(set(cands[step - 1 :: step]))[:-1]
    return [""] + bounds + ["\U0010ffff" * 4] if bounds else None


def _pack_bins(items: list, weights: list[int], k: int) -> list[list]:
    """Greedy largest-first packing of ``items`` into at most ``k`` bins:
    each item, heaviest first, joins the currently lightest bin. The
    heaviest bin ends at most one item above the mean load (the bin was
    the lightest, so at or below the mean, when its last item joined).
    Empty bins are dropped."""
    import heapq

    k = max(1, min(k, len(items)))
    bins: list[list] = [[] for _ in range(k)]
    heap = [(0, j) for j in range(k)]
    for i in sorted(range(len(items)), key=lambda i: -weights[i]):
        load, j = heapq.heappop(heap)
        bins[j].append(items[i])
        heapq.heappush(heap, (load + weights[i], j))
    return [b for b in bins if b]


def bucket_expr(n_buckets: int):
    """Bucket assignment — pmod(xxhash64(repo), N). On the Iceberg backend
    this is the partition spec ``bucket(N, repo)``; co-locating a repo's
    keys keeps the merge shuffle aligned with the write layout."""
    return F.pmod(F.xxhash64(F.col("repo")), F.lit(n_buckets)).cast("int")


class LakeTable:
    """One lake table rooted at `table_dir`. Single-writer per table."""

    # Ranged-merge threshold: a bucket whose base+delta bytes exceed this
    # is merged in key-range chunks (bounded worker memory) instead of as
    # one in-memory table. Size for executor memory; tests shrink it to
    # force the ranged path on toy data.
    merge_range_target_bytes: int = 512 * 1024 * 1024
    # Row-group size for files written by the fused (pyarrow) writers.
    # None = pyarrow default; smaller groups tighten ranged-merge and
    # selective-read pruning at a small metadata cost.
    parquet_row_group_rows: int | None = None

    def __init__(
        self,
        spark: SparkSession,
        table_dir: str,
        concurrent_writers: bool = False,
        writer_grace_sec: float = 60.0,
    ):
        self.spark = spark
        self.table_dir = table_dir
        # Multi-writer optimistic concurrency (SURVEY §2.6): every data
        # write stages under data/.stage-<uuid> and publishes by renaming
        # to data/c{version} (first-rename-wins reservation) followed by
        # the atomic log commit; on CommitConflict append-shaped commits
        # REBASE onto the new head and retry (Iceberg fast-append
        # semantics), rewrite-shaped commits validate their read set and
        # raise ConcurrentWriteConflict when it moved. The flag only
        # changes how an UNCOMMITTED dir already at the target name is
        # treated: single-writer (default) reclaims it immediately as
        # crashed-writer debris (exactly today's recovery behavior);
        # concurrent_writers treats it as in-flight until it is
        # writer_grace_sec old (zombie reclaim).
        self.concurrent_writers = concurrent_writers
        self.writer_grace_sec = writer_grace_sec

    # ------------------------------------------------------------------ DDL

    @staticmethod
    def create(
        spark: SparkSession,
        table_dir: str,
        fields: list[tuple[str, str]] | list[LakeField],
        n_buckets: int = 16,
        key_cols: tuple[str, str] = ("repo", "path"),
        props: dict | None = None,
    ) -> "LakeTable":
        if commitlog.current_version(table_dir) is not None:
            raise ValueError(f"table already exists at {table_dir}")
        lf = [
            f if isinstance(f, LakeField) else LakeField(i + 1, f[0], f[1])
            for i, f in enumerate(fields)
        ]
        record = {
            "version": 0,
            "schema_version": 0,
            "schemas": {"0": [f.to_json() for f in lf]},
            "next_field_id": max(f.id for f in lf) + 1,
            "files": [],
            "fences": {},
            "n_buckets": n_buckets,
            "key_cols": list(key_cols),
            "props": props or {},
        }
        commitlog.write_commit(table_dir, record)
        return LakeTable(spark, table_dir)

    @staticmethod
    def exists(table_dir: str) -> bool:
        return commitlog.current_version(table_dir) is not None

    # ------------------------------------------------------------ snapshot

    def _current(self) -> dict:
        v = commitlog.current_version(self.table_dir)
        if v is None:
            raise ValueError(f"no table at {self.table_dir}")
        rec = commitlog.read_commit(self.table_dir, v)
        # per-commit payload; must not be inherited by the next commit
        rec.pop("epoch_info", None)
        return rec

    def _commit(self, record: dict) -> None:
        """Publish a commit record with DEAD schema versions pruned: only
        versions referenced by a live file (plus the current one) ride
        forward, so the record's size tracks the LIVE table, not its full
        evolution history (VERDICT r2 item 7). Historical commits keep
        their own schema copies — time travel reads them directly, and
        the change feed resolves old file schemas from the commit that
        added the files."""
        live = {str(record["schema_version"])} | {
            str(f["schema_version"]) for f in record.get("files", [])
        }
        record = {
            **record,
            "schemas": {k: v for k, v in record["schemas"].items() if k in live},
        }
        commitlog.write_commit(self.table_dir, record)

    # ------------------------------------------- optimistic publish (OCC)

    @staticmethod
    def _fence_covers(fences: dict, pipeline_id: str, epoch_id: int) -> bool:
        f = fences.get(pipeline_id)
        if not f:
            return False
        return int(epoch_id) <= f.get("max_epoch", -1) or int(epoch_id) in set(
            f.get("extra", [])
        )

    def _stage_rel(self) -> str:
        """Reserve a collision-free staging dir for a data write. Staged
        dirs are invisible to readers (only committed file lists are read)
        and reclaimed by vacuum() if their writer dies."""
        import uuid

        rel = f"data/.stage-{uuid.uuid4().hex[:16]}"
        os.makedirs(os.path.join(self.table_dir, rel), exist_ok=True)
        return rel

    def _may_reclaim(self, path: str) -> bool:
        """May an UNCOMMITTED dir occupying a target version slot be
        deleted? Single-writer mode: yes — versions only advance on log
        commit, so it is crashed-writer debris (the historical recovery
        contract). Concurrent mode: only once it is writer_grace_sec old
        (a younger dir is presumed in-flight; its writer will commit or
        rebase away within the grace).

        Age = the NEWEST mtime in the dir TREE, not the top dir's: a fused
        write creates its bkt=N subdirs early and then streams parquet
        files into them for the whole job, so the top dir's mtime goes
        stale minutes before the write finishes — judging by it would let
        a concurrent vacuum reclaim a LIVE staging dir mid-write. Task
        file creation keeps advancing the tree's newest mtime, so a live
        writer is never older than its last progress."""
        if not self.concurrent_writers:
            return True
        import time as _time

        try:
            newest = os.path.getmtime(path)
            for root, dirs, fns in os.walk(path):
                for name in dirs + fns:
                    try:
                        newest = max(newest, os.path.getmtime(os.path.join(root, name)))
                    except OSError:
                        continue  # entry raced away mid-walk
            return _time.time() - newest > self.writer_grace_sec
        except OSError:
            return True  # vanished: slot is free

    @staticmethod
    def _reprefix(files: list[dict], staged_rel: str, final_rel: str) -> list[dict]:
        return [
            {**f, "path": final_rel + f["path"][len(staged_rel):]}
            if f["path"].startswith(staged_rel + "/")
            else dict(f)
            for f in files
        ]

    def _publish(self, staged_rel: str | None, make_record, max_retries: int = 64) -> dict:
        """Atomically publish a staged write under the next free version.

        Loop: claim ``data/c{head+1}`` by RENAMING the staged dir onto it
        (rename fails if the slot is taken — the filesystem is the lock,
        mirroring the commit log's hard-link CAS), then attempt the log
        commit built by ``make_record(cur_rec, final_rel)``. On
        CommitConflict (a metadata-only commit can win the version without
        owning a data dir) re-read the head, re-rename the claim forward,
        and retry — make_record re-derives the record from the NEW current
        record, which is what makes the retry a REBASE, not a blind
        replay. make_record may raise ConcurrentWriteConflict (validation
        against the new head failed); the claimed dir is discarded then.

        ``staged_rel=None`` publishes a metadata-only record (no data dir,
        no claim)."""
        cur = self._current()
        claimed: str | None = None
        claimed_abs: str | None = None
        try:
            for _ in range(max_retries):
                version = cur["version"] + 1
                final_rel = f"data/c{version:08d}"
                final_abs = os.path.join(self.table_dir, final_rel)
                if staged_rel is not None and claimed != final_rel:
                    src = claimed_abs or os.path.join(self.table_dir, staged_rel)
                    try:
                        os.rename(src, final_abs)
                    except OSError:
                        head = commitlog.current_version(self.table_dir)
                        if head is not None and head >= version:
                            cur = self._current()
                            continue  # slot committed under us: rebase
                        if self._may_reclaim(final_abs):
                            shutil.rmtree(final_abs, ignore_errors=True)
                            os.rename(src, final_abs)
                        else:  # in-flight concurrent writer holds the slot
                            import time as _time

                            _time.sleep(0.05)
                            cur = self._current()
                            continue
                    claimed, claimed_abs = final_rel, final_abs
                try:
                    record = make_record(cur, final_rel)
                    assert record["version"] == version
                    self._commit(record)
                    claimed = claimed_abs = None  # committed: now owned by the log
                    return record
                except commitlog.CommitConflict:
                    cur = self._current()
            raise commitlog.CommitConflict(
                f"gave up after {max_retries} rebase attempts on {self.table_dir}"
            )
        finally:
            if claimed_abs is not None:  # aborted after claiming: discard
                shutil.rmtree(claimed_abs, ignore_errors=True)

    def schema_fields(self, rec: dict | None = None, schema_version: int | None = None) -> list[LakeField]:
        rec = rec or self._current()
        sv = rec["schema_version"] if schema_version is None else schema_version
        return [LakeField.from_json(d) for d in rec["schemas"][str(sv)]]

    def spark_schema(self, with_sys: bool = False) -> T.StructType:
        return _fields_to_struct(self.schema_fields(), with_sys=with_sys)

    def properties(self) -> dict:
        return self._current()["props"]

    @property
    def n_buckets(self) -> int:
        """The COMMITTED bucket count — the single source of truth for the
        key→bucket mapping. Writers must derive layouts from this, never
        from their own config: a pipeline whose ``PipelineConfig.n_buckets``
        disagrees with the table (pre-existing table, or a ``rebucket()``
        since the config was written) would otherwise write delta files
        into the wrong bucket dirs and break the bucket-local merge
        invariant (all generations of a bucket hold the same key slice)."""
        return int(self._current()["n_buckets"])

    # -------------------------------------------------------------- fences

    def is_epoch_committed(self, pipeline_id: str, epoch_id: int) -> bool:
        fences = self._current()["fences"].get(pipeline_id, {})
        return epoch_id <= fences.get("max_epoch", -1) or epoch_id in fences.get("extra", [])

    def last_epoch(self, pipeline_id: str) -> int:
        return self._current()["fences"].get(pipeline_id, {}).get("max_epoch", -1)

    @staticmethod
    def _advance_fence(fences: dict, pipeline_id: str, epoch_id: int) -> dict:
        """Record epoch_id. Contiguous epochs collapse into max_epoch; gaps
        (backfill chunks applied out of order) go to an `extra` set that is
        re-collapsed on each advance — bounded state even at 10^10 events."""
        f = dict(fences.get(pipeline_id, {"max_epoch": -1, "extra": []}))
        extra = set(f.get("extra", []))
        extra.add(int(epoch_id))
        mx = f.get("max_epoch", -1)
        while mx + 1 in extra:
            mx += 1
            extra.discard(mx)
        return {**fences, pipeline_id: {"max_epoch": mx, "extra": sorted(extra)}}

    # --------------------------------------------------------------- reads

    def _bucket_local_merge(
        self,
        rec: dict,
        files: list[dict],
        write_rel: str | None = None,
        files_per_bucket: int = 1,
        codec: str = "zstd",
        filter_repos: list[str] | None = None,
        drop_tombstones_below: int | None = None,
    ) -> DataFrame:
        """Merge-on-read with NO payload shuffle: every file of a bucket
        holds a disjoint key range vs other buckets (the write layout is
        ``bucket(N, repo)`` across ALL generations), so latest-row-per-key
        is a bucket-local problem. The driver makes one metadata row per
        bucket (per key range of an oversized bucket in fused-write mode)
        and packs the rows largest-first by bytes into at most
        ``defaultParallelism`` bins (:func:`_pack_bins`). The merge is a
        ``mapInArrow`` over ``spark.range(k, numPartitions=k)``: task j
        takes bin j from its closure, so a task crosses into Python once,
        with no Python RDD upstream of it. For each of its rows the task
        reads that bucket's base+delta files with pyarrow, aligns old
        schema versions to the current one by stable field id, sorts by
        ``(key, _seq, generation)`` and folds each key run with
        ``operators.cdc.fold_key_runs`` — the same fold the epoch kernel
        (``compact_sorted_partitions``) runs.

        Versus the old ``groupBy(key).agg(max_by(payload, _seq))``: that
        plan ships the ENTIRE table (content included) through an exchange
        whenever a single delta file exists. Here the only thing that moves
        is the file lists in the task closure; the payload is read once,
        merged in place, and streamed out. This is the Hudi/Iceberg MoR
        file-group-local merge restated for the local backend — the plan
        contains no Exchange (asserted in tests/test_mor.py).

        Tie-break: equal ``_seq`` (e.g. snapshot rows at -1) resolves to the
        later generation, a strictly stronger guarantee than max_by's
        unspecified tie order.

        ``write_rel``: fused-compaction mode. Instead of streaming the
        merged rows back, each task writes them straight to
        ``<table>/<write_rel>/bkt=<b>/`` as parquet (one file per bucket or
        key range, or ``files_per_bucket`` row-sliced files) and emits
        ONE metadata row per file — the Iceberg writer shape: tasks
        produce data files, the driver commits a metadata swap. This
        halves compaction IO (no Arrow→JVM transfer, no second encode
        pass through Spark's writer, no Hadoop committer renames) and is
        why compaction cost stays proportional to the bytes of the
        compacted buckets.
        """
        assert drop_tombstones_below is None or write_rel is not None, (
            "tombstone GC is a compaction-rewrite concern; a plain merged "
            "READ must keep tombstones (internal readers rely on them)"
        )
        gc_below = drop_tombstones_below
        key_cols = list(rec.get("key_cols", ["repo", "path"]))
        cur_fields = self.schema_fields(rec)
        out_schema = _fields_to_struct(cur_fields, with_sys=True)

        # Per-schema-version projection plan: for each current field, the
        # source column name in that version's files (None → null fill).
        svs = sorted({f["schema_version"] for f in files})
        proj: dict[int, list[str | None]] = {}
        for sv in svs:
            old_by_id = {f.id: f.name for f in self.schema_fields(rec, schema_version=sv)}
            proj[sv] = [old_by_id.get(cf.id) for cf in cur_fields]
        cur_names = [cf.name for cf in cur_fields]

        from pyspark.sql.pandas.types import to_arrow_type

        target_types = [to_arrow_type(f.dataType) for f in out_schema.fields]
        by_bucket: dict[int, list[dict]] = {}
        for gen, f in enumerate(files):
            by_bucket.setdefault(f["bucket"], []).append(
                {"path": os.path.join(self.table_dir, f["path"]), "sv": f["schema_version"], "gen": gen}
            )
        abs_write_dir = os.path.join(self.table_dir, write_rel) if write_rel else None

        range_target = self.merge_range_target_bytes
        key_idx = [cur_names.index(k) for k in key_cols]

        # Fused-write mode (compaction / rebucket / tombstone GC): a bucket
        # larger than range_target is split into PARALLEL per-range tasks —
        # without this a skewed bucket (one hot repo = 20%+ of the table)
        # rewrites in ONE task and its wall time caps the whole maintenance
        # job at any cluster width. Edges come from one driver-side footer
        # read of the bucket's largest file (:func:`_plan_key_ranges`);
        # when stats are unusable the bucket is rewritten whole by one
        # task. Ranges partition the combined-key space, so per-range dedup
        # stays complete, and file names carry the task attempt and a
        # per-task index — no coordination needed.
        meta_rows, weights = [], []
        for b, specs in sorted(by_bucket.items()):
            size = sum(os.path.getsize(s["path"]) for s in specs)
            edges = None
            if write_rel and size > range_target:
                edges = _plan_key_ranges(specs, proj, key_idx, range_target)
            if edges is None:
                meta_rows.append((b, specs, size, None, None))
                weights.append(size)
            else:
                for lo, hi in zip(edges[:-1], edges[1:]):
                    meta_rows.append((b, specs, size, lo, hi))
                    weights.append(size // (len(edges) - 1))
        # at most one bin per slot; task j of the range below takes bin j
        bins = _pack_bins(
            meta_rows, weights, self.spark.sparkContext.defaultParallelism
        )
        rg_rows = self.parquet_row_group_rows

        def _merge_bin(iterator):
            import pyarrow as pa
            import pyarrow.compute as pc
            import pyarrow.parquet as pq

            from foundry_es_spark.arrowpin import prepare_task_worker
            from foundry_es_spark.lake.taskfile import task_file_batch, write_task_file
            from foundry_es_spark.operators.cdc import fold_key_runs

            prepare_task_worker()  # Arrow pool pin + zip finder drop; see arrowpin.py

            def align(t, spec):
                """Project a file's table to the current schema by field id
                and append the _gen tie-break column."""
                cols, names = [], []
                for i, name in enumerate(cur_names):
                    src = proj[spec["sv"]][i]
                    if src is None or src not in t.column_names:
                        col = pa.nulls(t.num_rows, target_types[i])
                    else:
                        col = t.column(src)
                        if col.type != target_types[i]:
                            col = pc.cast(col, target_types[i])
                    cols.append(col)
                    names.append(name)
                for sc_ in ("_seq", "_op"):
                    cols.append(pc.cast(t.column(sc_), target_types[len(names)]))
                    names.append(sc_)
                cols.append(pa.array([spec["gen"]] * t.num_rows, pa.int32()))
                names.append("_gen")
                return pa.table(dict(zip(names, cols)))

            def dedup(parts):
                """Sort by (key, _seq, _gen) and fold each key run
                (``operators.cdc.fold_key_runs``, the epoch kernel's fold):
                runs holding sparse ``P`` delta rows (every patch epoch's
                net-P rows, the Paimon partial-update shape) fold column-
                wise. A pure-P run has no full image in any generation — an
                orphan patch (key never existed) — and drops."""
                tbl = pa.concat_tables(parts).combine_chunks()
                if tbl.num_rows == 0:
                    return None
                order = [(k, "ascending") for k in key_cols] + [
                    ("_seq", "ascending"), ("_gen", "ascending"),
                ]
                tbl = tbl.take(pc.sort_indices(tbl, sort_keys=order)).combine_chunks()
                out = fold_key_runs(tbl, key_cols, "_op", "_seq").drop(["_gen"])
                is_p = pc.equal(out.column("_op"), "P")
                if pc.any(is_p).as_py():
                    out = out.filter(pc.invert(is_p))
                if gc_below is not None:
                    # Tombstone GC (fused-compaction mode only): the merged
                    # row is the key's LATEST state and every older
                    # generation of this bucket is being collapsed, so once
                    # the caller's low watermark guarantees no future event
                    # carries seq <= horizon, a D row at seq <= horizon can
                    # never be needed again (any later event outranks it
                    # legitimately) — drop it instead of rewriting it.
                    out = out.filter(
                        pc.invert(
                            pc.and_(
                                pc.equal(out.column("_op"), "D"),
                                pc.less_equal(out.column("_seq"), gc_below),
                            )
                        )
                    )
                return out

            # file index unique across every row this task handles: two
            # ranges of one bucket can share a task and must not share a
            # file name
            file_idx = itertools.count()

            def emit(out, b):
                """Stream back (read mode) or write a parquet file and
                yield its metadata row (fused write mode)."""
                if abs_write_dir is None:
                    yield from out.to_batches(max_chunksize=8192)
                    return
                yield task_file_batch(write_task_file(
                    out, abs_write_dir, write_rel, b, next(file_idx),
                    key_cols[0], codec=codec, row_group_rows=rg_rows,
                ))

            def merge_ranged(specs, b, edges):
                """Bounded-memory path for buckets larger than
                `merge_range_target_bytes`: partition the key space into
                ranges and merge range by range — per-range memory is the
                range's bytes plus at most one boundary row group per
                file, so a 100 GB bucket streams through a worker that
                never holds more than ~the target. Keys cannot straddle
                ranges (ranges partition the combined-key space), so
                per-range dedup is complete. Row groups are selected by
                conservative stat bounds, then rows are filtered exactly
                by combined key — stat truncation or missing stats only
                cost extra read, never correctness."""
                pfs = [pq.ParquetFile(spec["path"]) for spec in specs]
                metas = [pf.metadata for pf in pfs]
                physes = [_phys_keys(proj, spec, key_idx) for spec in specs]
                for lo, hi in zip(edges[:-1], edges[1:]):
                    parts = []
                    for pf, meta, spec, phys in zip(pfs, metas, specs, physes):
                        if phys is None or any(
                            p not in meta.schema.names for p in phys
                        ):
                            # Key column unmapped/absent in this file's
                            # physical schema: align() would null-fill the
                            # key, and a null key matches no (lo, hi] range
                            # — nothing from this file can land here.
                            continue
                        rgs = []
                        for rg in range(meta.num_row_groups):
                            kb = _row_group_key_bounds(meta, rg, phys)
                            if kb is None:
                                rgs.append(rg)  # no stats → conservative
                            # Range is (lo, hi]: a group whose min lower-
                            # bound EQUALS hi may still hold combined == hi
                            # rows, so prune only on strictly-greater — the
                            # >= variant silently dropped boundary updates.
                            elif not (kb[1] < lo or kb[0] > hi):
                                rgs.append(rg)
                        if not rgs:
                            continue
                        t = pf.read_row_groups(rgs)
                        combined = pc.binary_join_element_wise(
                            *[pc.cast(t.column(k), pa.string()) for k in phys],
                            KEY_SEP,
                        )
                        m = pc.less_equal(combined, hi)
                        if lo:
                            m = pc.and_(pc.greater(combined, lo), m)
                        t = t.filter(m)
                        if t.num_rows:
                            parts.append(align(t, spec))
                    if not parts:
                        continue
                    out = dedup(parts)
                    if out is not None and out.num_rows:
                        yield from emit(out, b)

            def merge_row(b, specs, size, lo, hi):
                """Merge one metadata row: a driver-split key range, or a
                whole bucket."""
                if lo is not None:
                    # driver-split range: merge exactly this (lo, hi]
                    # slice of the bucket (in parallel with the bucket's
                    # other ranges when they land in other tasks)
                    yield from merge_ranged(specs, b, [lo, hi])
                    return
                # read mode: an oversized bucket merges range by range
                # (bounded memory); fused writes were split, or found
                # unsplittable, by the driver already
                if abs_write_dir is None and filter_repos is None and size > range_target:
                    edges = _plan_key_ranges(specs, proj, key_idx, range_target)
                    if edges is not None:
                        yield from merge_ranged(specs, b, edges)
                        return
                parts = []
                for spec in specs:
                    # Selective lookups push the repo predicate into the
                    # parquet read: files are key-sorted, so min/max row-
                    # group stats skip everything but the target repos.
                    # The predicate must use the file's PHYSICAL column
                    # name (historical schemas may carry a renamed key).
                    flt = None
                    if filter_repos:
                        phys_repo = proj[spec["sv"]][key_idx[0]]
                        if phys_repo is not None:
                            flt = [(phys_repo, "in", filter_repos)]
                    t = pq.read_table(spec["path"], filters=flt)
                    parts.append(align(t, spec))
                out = dedup(parts)
                if out is None:
                    return
                if abs_write_dir is None:
                    yield from out.to_batches(max_chunksize=8192)
                    return
                m = out.num_rows
                k = max(1, min(files_per_bucket, m))
                step = -(-m // k)
                for i in range(k):
                    piece = out.slice(i * step, step)
                    if piece.num_rows:
                        yield from emit(piece, b)

            for mb in iterator:
                for j in mb.column(0).to_pylist():
                    for row in bins[j]:
                        yield from merge_row(*row)

        result_schema = TASK_FILE_DDL if write_rel else out_schema
        return self.spark.range(len(bins), numPartitions=len(bins)).mapInArrow(
            _merge_bin, schema=result_schema
        )

    def _read_merged(
        self, rec: dict, files: list[dict], filter_repos: list[str] | None = None
    ) -> DataFrame | None:
        """Current rows (latest per key, tombstones included). Pure base
        snapshots read directly with zero extra work (Spark pushes any
        caller predicate into the scan); any delta generation triggers the
        bucket-local merge above, with `filter_repos` pushed into the
        pyarrow reads."""
        if not files:
            return None
        if not any(f.get("delta") for f in files):
            return self._read_files(rec, files)
        return self._bucket_local_merge(rec, files, filter_repos=filter_repos)

    def _read_files(self, rec: dict, files: list[dict]) -> DataFrame | None:
        """Read a set of data files, aligning every schema version to the
        current one by stable field id (Iceberg-style column projection)."""
        if not files:
            return None
        cur_fields = self.schema_fields(rec)
        by_sv: dict[int, list[str]] = {}
        for f in files:
            by_sv.setdefault(f["schema_version"], []).append(
                os.path.join(self.table_dir, f["path"])
            )
        parts: list[DataFrame] = []
        for sv, paths in by_sv.items():
            old_fields = self.schema_fields(rec, schema_version=sv)
            phys = _fields_to_struct(old_fields, with_sys=True)
            df = self.spark.read.schema(phys).parquet(*paths)
            old_by_id = {f.id: f for f in old_fields}
            select = []
            for cf in cur_fields:
                of = old_by_id.get(cf.id)
                if of is None:
                    select.append(F.lit(None).cast(cf.type).alias(cf.name))
                else:
                    select.append(F.col(of.name).cast(cf.type).alias(cf.name))
            select += [F.col("_seq"), F.col("_op")]
            parts.append(df.select(*select))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    def _buckets_for_repos(self, repos: list[str], n_buckets: int) -> set[int]:
        """Bucket ids for a set of repo keys, computed with the SAME hash
        Spark uses for the write layout (a tiny literal-frame job — the
        driver cannot replicate Spark's xxhash64 seed natively, and a few
        hundred literals is a millisecond task)."""
        df = self.spark.createDataFrame([(r,) for r in repos], "repo string")
        return {row[0] for row in df.select(bucket_expr(n_buckets)).collect()}

    def _pruned_files(
        self,
        rec: dict,
        repos: list[str] | None,
        buckets: list[int] | None = None,
    ) -> list[dict]:
        """Bucket-prune the live file list for a selective key lookup —
        the local analogue of Iceberg partition pruning on bucket(N, repo):
        a k-repo lookup touches at most k of N buckets' files, not the
        table. Within the surviving files, the repo predicate then prunes
        row groups via parquet min/max stats (files are key-sorted).
        `buckets` prunes by explicit bucket ids (callers that already know
        the touched buckets, e.g. the no-op-suppression state read).

        Within the surviving buckets, two driver-side metadata checks drop
        files before a single footer is opened or task scheduled:

        1. key RANGE — files carrying recorded bounds (``rmin``/``rmax``,
           written by every sink path) are dropped when no target repo
           falls inside them;
        2. key SET — files carrying a fingerprint set (``kfp``, see
           lake/kfp.py) are dropped when no target repo's fingerprint is
           a member. This is what actually prunes DELTA generations: an
           epoch's delta file holds few distinct repos scattered across
           the key space, so its [min,max] spans everything while its
           key set is tiny.

        Files lacking either stat are kept for that check (conservative);
        both stats only over-keep, never over-prune."""
        files = rec["files"]
        if buckets is not None:
            bset = set(buckets)
            files = [f for f in files if f["bucket"] in bset]
        if not repos:
            return files
        bkts = self._buckets_for_repos(repos, rec["n_buckets"])
        files = [f for f in files if f["bucket"] in bkts]
        import bisect

        from foundry_es_spark.lake.kfp import key_fingerprint, kfp_probe

        rs = sorted(repos)
        probe_fps = {key_fingerprint(r) for r in repos}

        def overlaps(f: dict) -> bool:
            # first repo >= rmin; the file matches iff it also fits rmax —
            # O(log repos) per file instead of a linear scan (wide lookups
            # over many files are a driver-side cost)
            if f.get("rmin") is not None:
                i = bisect.bisect_left(rs, f["rmin"])
                if not (i < len(rs) and rs[i] <= f["rmax"]):
                    return False
            if f.get("kfp") is not None and not kfp_probe(f["kfp"], probe_fps):
                return False
            return True

        return [f for f in files if overlaps(f)]

    def read_internal(
        self, repos: list[str] | None = None, buckets: list[int] | None = None
    ) -> DataFrame:
        """All rows incl. tombstones and system columns (latest per key).
        `repos`/`buckets` prune to the matching buckets before any file is
        opened."""
        rec = self._current()
        df = self._read_merged(
            rec, self._pruned_files(rec, repos, buckets), filter_repos=repos
        )
        if df is None:
            return self.spark.createDataFrame([], _fields_to_struct(self.schema_fields(rec)))
        if repos:
            df = df.where(F.col("repo").isin(list(repos)))
        return df

    def read(self, repos: list[str] | None = None) -> DataFrame:
        """Public snapshot read: live rows, user columns only. `repos`
        makes this a selective lookup: only the matching buckets' files are
        read (see :meth:`_pruned_files`) — the "queryable serving copy"
        path for point/targeted queries that must not scan the table."""
        rec = self._current()
        df = self._read_merged(rec, self._pruned_files(rec, repos), filter_repos=repos)
        names = [f.name for f in self.schema_fields(rec)]
        if df is None:
            return self.spark.createDataFrame([], _fields_to_struct(self.schema_fields(rec), with_sys=False))
        if repos:
            df = df.where(F.col("repo").isin(list(repos)))
        return df.where(F.col("_op") != "D").select(*names)

    def read_at_version(self, version: int) -> DataFrame:
        """Time travel: the table state as of commit `version` (live rows,
        that version's schema). Valid until :meth:`vacuum` removes the
        version's unreferenced files — the Iceberg snapshot-read contract."""
        rec = commitlog.read_commit(self.table_dir, version)
        rec.pop("epoch_info", None)
        df = self._read_merged(rec, rec["files"])
        names = [f.name for f in self.schema_fields(rec)]
        if df is None:
            return self.spark.createDataFrame(
                [], _fields_to_struct(self.schema_fields(rec), with_sys=False)
            )
        return df.where(F.col("_op") != "D").select(*names)

    def export_snapshot(self, out_dir: str, version: int | None = None) -> dict:
        """Publish an immutable, self-describing copy of the table's live
        rows as PLAIN parquet + ``_MANIFEST.json`` — the handoff artifact a
        training run / downstream consumer reads without this engine:
        decoupled from table maintenance (later vacuum/expiry/GC cannot
        touch it) and pinned to a source version for provenance.

        Write protocol: data files land under a temp dir that is atomically
        renamed to ``out_dir`` (a crashed export leaves no half-published
        snapshot; re-export is idempotent — same version, same row set).
        The manifest carries the source table dir + version, the schema,
        per-file row counts (summed driver-side from parquet footers — no
        counting job), and the total. Scale shape: the read is the MoR
        bucket-local merge (no exchange); the writer streams straight out.
        Iceberg twin: ``CREATE TABLE export AS SELECT * FROM t VERSION AS
        OF v`` or a registered snapshot-ref — here restated for plain
        parquet consumers."""
        import json as _json

        import pyarrow.parquet as _pq

        rec = (
            self._current()
            if version is None
            else commitlog.read_commit(self.table_dir, version)
        )
        src_version = rec["version"]
        df = (
            self.read() if version is None else self.read_at_version(src_version)
        )
        tmp = f"{out_dir.rstrip('/')}._staging"
        if os.path.isdir(tmp):
            shutil.rmtree(tmp)
        df.write.mode("errorifexists").parquet(tmp)
        files, total = [], 0
        for fn in sorted(os.listdir(tmp)):
            if fn.endswith(".parquet"):
                n = _pq.ParquetFile(os.path.join(tmp, fn)).metadata.num_rows
                files.append({"file": fn, "rows": n})
                total += n
        manifest = {
            "source_table": os.path.abspath(self.table_dir),
            "source_version": src_version,
            "schema": [
                {"id": f.id, "name": f.name, "type": f.type}
                for f in self.schema_fields(rec)
            ],
            "rows": total,
            "files": files,
        }
        with open(os.path.join(tmp, "_MANIFEST.json"), "w") as fh:
            _json.dump(manifest, fh, indent=1)
        if os.path.isdir(out_dir):
            shutil.rmtree(out_dir)
        os.rename(tmp, out_dir)
        return {"rows": total, "files": len(files), "source_version": src_version}

    def rollback(self, version: int) -> int:
        """Iceberg ``rollback_to_snapshot`` parity: restore the table to
        the exact state of commit `version` as a NEW commit. Pure
        metadata — no data file is read or written; the undone commits
        stay readable for time travel until :meth:`expire_snapshots`, and
        their now-unreferenced files are reclaimed by :meth:`vacuum`.

        The WHOLE state reverts, fences included: epochs applied after
        `version` become unfenced again, so replaying the same event log
        re-applies them exactly-once — rollback + replay is the
        recover-from-bad-deploy path, not a data-loss footgun. (Lineage is
        an append-only side table and intentionally keeps the full
        history, including the rolled-back epochs.)

        Rolling back PAST a retention floor raises ``SnapshotExpired``
        (loud), and past a vacuum'd snapshot the restored metadata would
        reference deleted files — same hazard as Iceberg rollback after
        ``expire_snapshots``; keep retention ≥ rollback horizon.

        Returns the new head version."""
        cur = self._current()
        if version > cur["version"]:
            raise ValueError(
                f"cannot roll forward: table at {cur['version']}, asked {version}"
            )
        old = commitlog.read_commit(self.table_dir, version)
        old.pop("epoch_info", None)
        new_version = cur["version"] + 1
        self._commit({**old, "version": new_version,
                      "rolled_back_from": cur["version"],
                      "rolled_back_to": version})
        return new_version

    def table_changes(
        self, from_version: int = 0, to_version: int | None = None
    ) -> DataFrame:
        """Incremental read / change feed: every change row committed in
        versions [from_version, to_version], with ``_op`` (I/U upsert, D
        delete, P sparse patch of a patch-enabled pipeline), ``_seq`` and
        ``_commit_version``. Source rows are the
        MoR delta files added at each commit — per-epoch compacted
        latest-per-key changes, which is exactly the CDC feed a downstream
        incremental consumer wants. Compaction/rewrite commits add no
        delta files and therefore contribute nothing (they are physical,
        not logical, changes). CoW merge commits rewrite whole buckets, so
        a change feed is only available for MoR-written tables.

        All versions are projected to the CURRENT schema by stable field
        id, so renames/adds/widenings do not fragment the feed.

        Scale shape (VERDICT r2 item 4): the plan is O(schema-versions),
        NOT O(versions). A 10^10-event replay has 10^3–10^4 commits; one
        scan per commit made the feed a thousand-way union whose plan
        build alone blew up the driver. Delta files are grouped by
        schema_version and each group is ONE multi-path parquet scan;
        ``_commit_version`` is recovered per row from the file path
        (``data/c{v:08d}/`` is the commit the file was added in — the
        same invariant the per-version loop selected on)."""
        cur = commitlog.current_version(self.table_dir)
        if cur is None:
            raise ValueError(f"no table at {self.table_dir}")
        to_version = cur if to_version is None else to_version
        cur_rec = self._current()
        by_sv: dict[int, list[str]] = {}
        # Historical schemas come from the commit that ADDED the files —
        # the current record prunes schema versions no live file uses
        # (:meth:`_commit`), so a since-compacted delta's version may be
        # absent from it.
        sv_fields: dict[int, list[LakeField]] = {}
        for v in range(from_version, to_version + 1):
            prefix = f"data/c{v:08d}/"
            rec_v = commitlog.read_commit(self.table_dir, v)
            for f in rec_v["files"]:
                if f.get("delta") and f["path"].startswith(prefix):
                    p = os.path.join(self.table_dir, f["path"])
                    if not os.path.exists(p):
                        # the commit record survived but vacuum() reclaimed
                        # the version's data files (compacted-away deltas are
                        # unreferenced by retained snapshots) — the feed for
                        # this window is gone; fail TYPED so consumers fall
                        # back to full recompute instead of silently missing
                        # changes (Iceberg couples these by expiring snapshot
                        # + files together; here vacuum can outrun expiry, so
                        # the read detects it). Keep vacuum's keep_snapshots
                        # at or above your slowest feed consumer's lag to
                        # stay on the incremental path.
                        raise commitlog.SnapshotExpired(
                            f"change feed over version {v} of {self.table_dir}: "
                            f"delta file {f['path']} was reclaimed by vacuum; "
                            "re-read from a full snapshot"
                        )
                    sv = f["schema_version"]
                    by_sv.setdefault(sv, []).append(p)
                    if sv not in sv_fields:
                        sv_fields[sv] = [
                            LakeField.from_json(d)
                            for d in rec_v["schemas"][str(sv)]
                        ]
        cur_fields = self.schema_fields(cur_rec)
        if not by_sv:
            schema = _fields_to_struct(cur_fields, with_sys=True).add(
                "_commit_version", T.LongType()
            )
            return self.spark.createDataFrame([], schema)
        commit_ver = F.regexp_extract(
            F.input_file_name(), r"/data/c(\d{8})/", 1
        ).cast("long")
        parts: list[DataFrame] = []
        for sv, paths in sorted(by_sv.items()):
            old_fields = sv_fields[sv]
            phys = _fields_to_struct(old_fields, with_sys=True)
            df = self.spark.read.schema(phys).parquet(*paths)
            old_by_id = {f.id: f for f in old_fields}
            select: list = []
            for cf in cur_fields:
                of = old_by_id.get(cf.id)
                if of is None:
                    select.append(F.lit(None).cast(cf.type).alias(cf.name))
                else:
                    select.append(F.col(of.name).cast(cf.type).alias(cf.name))
            select += [F.col("_seq"), F.col("_op"), commit_ver.alias("_commit_version")]
            parts.append(df.select(*select))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    # -------------------------------------------------------------- writes

    def _write_bucket_data(
        self,
        df: DataFrame,
        staged_rel: str,
        schema_version: int,
        files_per_bucket: int = 1,
        pre_partitioned: bool = False,
        n_buckets: int | None = None,
        key_cols: tuple[str, ...] | list[str] = ("repo", "path"),
    ) -> list[dict]:
        """Write df (which carries `bkt`) under the collision-free
        ``staged_rel`` dir (from :meth:`_stage_rel`) and return file
        metadata with staged paths — :meth:`_publish` renames the dir onto
        its final ``data/c{version}`` name and reprefixes the paths at
        commit time, so the path==commit-version invariant the change feed
        relies on still holds. `files_per_bucket` > 1 splits each bucket by
        a key-salt so one hot bucket still writes in parallel (C4).
        `pre_partitioned`: caller guarantees the frame is already in
        (bkt, salt) layout sorted by key — skip the shuffle and sort."""
        rel = staged_rel
        out_dir = os.path.join(self.table_dir, rel)
        shutil.rmtree(out_dir, ignore_errors=True)  # _stage_rel pre-made it
        if not pre_partitioned:
            # Explicit partition count: repartition(cols) with no count is
            # an AQE-coalescible exchange that can collapse the whole
            # bucket grid into one or two tasks at small batch sizes,
            # serializing the write (same trap fixed in
            # operators/cdc.compact_sorted_partitions).
            n_buckets = n_buckets or 16
            if files_per_bucket > 1:
                salt = F.pmod(F.xxhash64(F.col(key_cols[-1])), F.lit(files_per_bucket))
                df = df.repartition(n_buckets * files_per_bucket, F.col("bkt"), salt)
            else:
                df = df.repartition(n_buckets, "bkt")
            df = df.sortWithinPartitions(*key_cols)
        (
            df.write.mode("errorifexists")
            .partitionBy("bkt")
            .parquet(out_dir)
        )
        files = []
        for bdir in sorted(os.listdir(out_dir)):
            if not bdir.startswith("bkt="):
                continue
            b = int(bdir.split("=", 1)[1])
            for fn in sorted(os.listdir(os.path.join(out_dir, bdir))):
                if fn.endswith(".parquet"):
                    entry = {
                        "path": f"{rel}/{bdir}/{fn}",
                        "bucket": b,
                        "schema_version": schema_version,
                    }
                    fpath = os.path.join(out_dir, bdir, fn)
                    bounds = _footer_key_bounds(fpath, key_cols[0])
                    if bounds is not None:
                        entry["rmin"], entry["rmax"], entry["rows"] = bounds
                    kfp = _file_key_fingerprints(fpath, key_cols[0])
                    if kfp is not None:
                        entry["kfp"] = kfp
                    files.append(entry)
        return files

    def overwrite_snapshot(
        self,
        df: DataFrame,
        fence: tuple[str, int] | None = None,
        props_update: dict | None = None,
    ) -> None:
        """Initial load / full replace (S3). `df` has user columns (+
        optionally _seq/_op)."""
        rec = self._current()
        if "_seq" not in df.columns:
            df = df.withColumn("_seq", F.lit(-1).cast("long"))
        if "_op" not in df.columns:
            df = df.withColumn("_op", F.lit("I"))
        df = df.withColumn("bkt", bucket_expr(rec["n_buckets"]))
        staged = self._stage_rel()
        files = self._write_bucket_data(
            df, staged, rec["schema_version"], n_buckets=rec["n_buckets"],
            key_cols=rec.get("key_cols", ["repo", "path"]),
        )

        def make(cur, final_rel):
            if (cur["schema_version"], cur["n_buckets"]) != (
                rec["schema_version"], rec["n_buckets"],
            ):
                raise commitlog.ConcurrentWriteConflict(
                    "schema/bucket layout changed under overwrite_snapshot"
                )
            fences = cur["fences"]
            if fence:
                if self._fence_covers(fences, fence[0], fence[1]):
                    raise commitlog.EpochAlreadyFenced(
                        f"epoch {fence} already fenced by a concurrent writer"
                    )
                fences = self._advance_fence(fences, fence[0], fence[1])
            record = {
                **cur,
                "version": cur["version"] + 1,
                "files": self._reprefix(files, staged, final_rel),
                "fences": fences,
            }
            if props_update:
                record["props"] = {**record.get("props", {}), **props_update}
            return record

        self._publish(staged, make)

    def append_delta(
        self,
        batch: DataFrame,
        fence: tuple[str, int] | None = None,
        files_per_bucket: int = 1,
        info: dict | None = None,
        pre_partitioned: bool = False,
    ) -> dict:
        """Merge-on-read upsert: append the pre-compacted batch as a new
        delta generation, bucketed like the base files, WITHOUT reading or
        rewriting existing data. Readers collapse generations per key
        (:meth:`_bucket_local_merge`); :meth:`compact_buckets` amortizes the
        read cost back down.

        This is the scale path for 10^10-event replay: copy-on-write MERGE
        rewrites every touched bucket per epoch (O(table) writes per epoch
        when keys are uniform), while a delta append writes O(batch) and
        defers the rewrite to periodic compaction — the Iceberg
        merge-on-read / Hudi MOR strategy restated for the local backend.
        """
        rec = self._current()
        if "bkt" not in batch.columns:
            batch = batch.withColumn("bkt", bucket_expr(rec["n_buckets"]))
        cur_names = [f.name for f in self.schema_fields(rec)]
        batch = batch.select(*cur_names, "_seq", "_op", "bkt")
        staged = self._stage_rel()
        new_files = self._write_bucket_data(
            batch, staged, rec["schema_version"],
            files_per_bucket=files_per_bucket, pre_partitioned=pre_partitioned,
            n_buckets=rec["n_buckets"], key_cols=rec.get("key_cols", ["repo", "path"]),
        )
        for f in new_files:
            f["delta"] = True
        if info is not None and callable(info):
            info = info()  # post-write: lets Observation-based stats resolve

        def make(cur, final_rel):
            # append-shaped: rebases onto any concurrent head — EXCEPT one
            # that changed the bucket layout. These files' key→bucket
            # mapping was computed under rec["n_buckets"]; committing them
            # past a concurrent rebucket() would scatter a key's delta rows
            # into a different bucket than its base rows and the bucket-
            # local merge would never see them together (stale reads /
            # tombstone resurrection). Typed conflict → caller re-plans.
            if cur["n_buckets"] != rec["n_buckets"]:
                raise commitlog.ConcurrentWriteConflict(
                    "bucket layout changed by a concurrent rebucket "
                    f"({rec['n_buckets']} -> {cur['n_buckets']}); "
                    "re-bucket the batch and retry"
                )
            fences = cur["fences"]
            if fence:
                if self._fence_covers(fences, fence[0], fence[1]):
                    raise commitlog.EpochAlreadyFenced(
                        f"epoch {fence} already fenced by a concurrent writer"
                    )
                fences = self._advance_fence(fences, fence[0], fence[1])
            stats = {
                "version": cur["version"] + 1,
                "buckets_rewritten": 0,
                "files_written": len(new_files),
            }
            record = {
                **cur,
                "version": cur["version"] + 1,
                "files": cur["files"] + self._reprefix(new_files, staged, final_rel),
                "fences": fences,
            }
            if info is not None:
                record["epoch_info"] = {**info, **stats}
            return record

        record = self._publish(staged, make)
        return {
            "version": record["version"],
            "buckets_rewritten": 0,
            "files_written": len(new_files),
        }

    def begin_delta_version(self) -> tuple[int, str]:
        """Reserve a STAGING directory for a fused task-write
        (operators.cdc sink_spec) and return (provisional_version, rel).
        The version is advisory — :meth:`commit_delta_files` assigns the
        real one when it renames the staged dir onto ``data/c{v}`` inside
        the optimistic publish loop, so concurrent writers (another
        pipeline, a compaction cron) can interleave; staged dirs are
        uuid-named and never collide. Crashed-writer staging dirs are
        reclaimed by :meth:`vacuum`."""
        rec = self._current()
        return rec["version"] + 1, self._stage_rel()

    def commit_delta_files(
        self,
        version: int,
        files: list[dict],
        fence: tuple[str, int] | None = None,
        info: dict | None = None,
        expect: dict | None = None,
    ) -> dict:
        """Publish task-written delta files (fused sink) as one atomic
        commit — data files were already written under the reserved
        version dir; this is the driver-side metadata swap (the Iceberg
        commit shape). `files`: [{"path", "bucket"}] relative paths.

        ``expect``: ``{"n_buckets": .., "schema_version": ..}`` captured by
        the caller when it PLANNED the write. The files were produced
        between ``begin_delta_version`` and this call, so the current
        record may already reflect a concurrent rebucket/evolve — the
        files must be stamped with the schema they were actually written
        under, and a bucket-layout change is a typed conflict (the files'
        key→bucket mapping is stale). Without ``expect`` both come from
        the current record (single-writer behavior)."""
        rec = self._current()
        expect = expect or {}
        write_sv = int(expect.get("schema_version", rec["schema_version"]))
        write_nb = int(expect.get("n_buckets", rec["n_buckets"]))
        new_files = [
            {
                "path": f["path"],
                "bucket": int(f["bucket"]),
                "schema_version": write_sv,
                "delta": True,
                # file-level key bounds (when the writer supplied them) —
                # driver-side file pruning for selective reads
                **({"rmin": f["rmin"], "rmax": f["rmax"]}
                   if f.get("rmin") is not None else {}),
                **({"kfp": f["kfp"]} if f.get("kfp") is not None else {}),
                **({"rows": int(f["rows"])} if f.get("rows") is not None else {}),
            }
            for f in files
        ]
        if info is not None and callable(info):
            info = info()
        # staged prefix comes from the paths themselves (data/.stage-*/...)
        staged = None
        for f in new_files:
            parts = f["path"].split("/", 2)
            if len(parts) == 3 and parts[1].startswith(".stage-"):
                staged = f"{parts[0]}/{parts[1]}"
                break
        if staged is None:  # empty epoch through the fused sink: fence only
            assert not new_files

        def make(cur, final_rel):
            if cur["n_buckets"] != write_nb:
                raise commitlog.ConcurrentWriteConflict(
                    "bucket layout changed since the fused write was "
                    f"planned ({write_nb} -> {cur['n_buckets']}); "
                    "re-bucket the batch and retry"
                )
            fences = cur["fences"]
            if fence:
                if self._fence_covers(fences, fence[0], fence[1]):
                    raise commitlog.EpochAlreadyFenced(
                        f"epoch {fence} already fenced by a concurrent writer"
                    )
                fences = self._advance_fence(fences, fence[0], fence[1])
            stats = {
                "version": cur["version"] + 1,
                "buckets_rewritten": 0,
                "files_written": len(new_files),
            }
            record = {
                **cur,
                "version": cur["version"] + 1,
                "files": cur["files"]
                + (self._reprefix(new_files, staged, final_rel) if staged else []),
                "fences": fences,
            }
            if info is not None:
                record["epoch_info"] = {**info, **stats}
            return record

        record = self._publish(staged, make)
        return {
            "version": record["version"],
            "buckets_rewritten": 0,
            "files_written": len(new_files),
        }

    def fence_epoch_only(self, pipeline_id: str, epoch_id: int, info: dict | None = None) -> None:
        """Metadata-only commit: advance the epoch fence without touching
        data (used for empty epochs so resume still skips them)."""
        def make(cur, final_rel):
            record = {
                **cur,
                "version": cur["version"] + 1,
                "fences": self._advance_fence(cur["fences"], pipeline_id, epoch_id),
            }
            if info is not None:
                record["epoch_info"] = info
            return record

        self._publish(None, make)

    def update_properties(self, props: dict) -> None:
        """Metadata-only commit merging ``props`` into the table properties
        (`ALTER TABLE ... SET TBLPROPERTIES` analogue). Goes through the
        optimistic `_publish` loop, so under concurrent writers it REBASES
        past racing commits instead of failing on CommitConflict — the
        correct path for maintainer cursors (plans/derived.py,
        plans/dedup_maintain.py) whose no-op windows race live ingest."""

        def make(cur, final_rel):
            return {
                **cur,
                "version": cur["version"] + 1,
                "props": {**cur.get("props", {}), **props},
            }

        self._publish(None, make)

    def describe(self) -> dict:
        """Operational table summary from commit metadata alone — zero
        Spark jobs, zero file I/O beyond the (O(1)-resolved) current
        commit record. The DESCRIBE TABLE EXTENDED / metadata-tables
        analogue a cluster operator checks before deciding on compaction,
        retention, or rebucketing."""
        rec = self._current()
        files = rec["files"]
        # generations = distinct commit dirs, NOT delta files: a bucket
        # written as k files per generation (files_per_bucket, hot-bucket
        # salting) must not look k× hotter to an operator sizing compaction
        # (same contract as bucket_delta_generations()).
        gens: dict[int, set] = {}
        for f in files:
            if f.get("delta"):
                gens.setdefault(f["bucket"], set()).add(f["path"].split("/")[1])
        return {
            "version": rec["version"],
            "schema_version": rec["schema_version"],
            "n_buckets": rec["n_buckets"],
            "key_cols": rec.get("key_cols", ["repo", "path"]),
            "schema": [(f.name, f.type) for f in self.schema_fields(rec)],
            "n_files": len(files),
            "n_delta_files": sum(1 for f in files if f.get("delta")),
            "max_delta_generations": max((len(s) for s in gens.values()), default=0),
            "files_with_key_bounds": sum(1 for f in files if f.get("rmin") is not None),
            "files_with_key_fingerprints": sum(1 for f in files if f.get("kfp")),
            # physical rows incl. tombstones/superseded deltas (live row
            # count needs the MoR merge — a job); None if any file predates
            # row-count recording
            "physical_rows": (
                sum(f["rows"] for f in files)
                if files and all(f.get("rows") is not None for f in files)
                else None
            ),
            "earliest_retained_version": commitlog.earliest_version(self.table_dir),
            "fences": dict(rec.get("fences", {})),
            "props": dict(rec.get("props", {})),
        }

    def bucket_file_counts(self) -> dict[int, int]:
        """files per bucket (driver-side, from the commit record — no job)."""
        counts: dict[int, int] = {}
        for f in self._current()["files"]:
            counts[f["bucket"]] = counts.get(f["bucket"], 0) + 1
        return counts

    def bucket_delta_generations(self) -> dict[int, int]:
        """DELTA generations per bucket (distinct commit dirs), driver-side.
        The compaction trigger counts generations, not files — a bucket
        written as k files per generation must not look k× hotter."""
        gens: dict[int, set] = {}
        for f in self._current()["files"]:
            if f.get("delta"):
                gens.setdefault(f["bucket"], set()).add(f["path"].split("/")[1])
        return {b: len(s) for b, s in gens.items()}

    def purge_tombstones(self, horizon_seq: int, files_per_bucket: int = 1) -> dict:
        """Tombstone GC (the Cassandra ``gc_grace`` / Hudi cleaner analogue
        for the local backend): rewrite every bucket, dropping D rows with
        ``_seq <= horizon_seq``.

        Tombstones exist to block STALE re-delivered events: without the D
        row for key K deleted at seq S, a late event with seq < S would
        look like a fresh insert and resurrect dead data. ``horizon_seq``
        is the caller's LOW WATERMARK — the assertion that every event with
        seq <= horizon has been fully delivered — under which any future
        event outranks the dropped tombstone legitimately, so dropping it
        cannot change any reachable state. Without GC a 10^10-event stream
        with key churn carries every deleted key's tombstone forever: the
        table's dead weight grows with lifetime deletes, not live rows.

        Rides the fused compaction kernel (buckets packed into at most
        one task per slot, no exchange); idempotent and crash-safe like
        any compaction. The
        IcebergBackend twin needs no GC — its MERGE deletes rows physically
        (``lake/iceberg.py:merge_sql``), trading this backend's stronger
        stale-re-delivery protection for zero tombstone debt."""
        rec = self._current()
        buckets = sorted({f["bucket"] for f in rec["files"]})
        return self.compact_buckets(
            buckets,
            files_per_bucket=files_per_bucket,
            drop_tombstones_below=horizon_seq,
        )

    def compact_buckets(
        self,
        buckets: list[int],
        files_per_bucket: int = 1,
        drop_tombstones_below: int | None = None,
    ) -> dict:
        """rewrite_data_files for a subset of buckets: collapse their delta
        generations into one base generation. Pure maintenance — idempotent,
        crash-safe (uncommitted rewrite is invisible), and selective so hot
        buckets compact without touching cold ones.
        ``drop_tombstones_below``: see :meth:`purge_tombstones`.

        Fully fused: one Spark job of at most ``defaultParallelism`` tasks,
        fed by a JVM range; each task takes a largest-first bin of buckets
        (or key ranges of an oversized bucket), reads their generations,
        merges them in Arrow, and writes the compacted parquet in place
        (``_bucket_local_merge(write_rel=...)``); the driver only collects
        per-file metadata and swaps the commit record. No exchange, no
        Python RDD, no Python→JVM payload transfer, no second encode."""
        rec = self._current()
        bset = set(buckets)
        target = [f for f in rec["files"] if f["bucket"] in bset]
        if not target:
            return {"buckets_rewritten": 0, "files_written": 0}
        staged = self._stage_rel()
        meta = self._bucket_local_merge(
            rec, target, write_rel=staged, files_per_bucket=files_per_bucket,
            drop_tombstones_below=drop_tombstones_below,
        )
        new_files = [
            {
                "path": r["path"],
                "bucket": int(r["bucket"]),
                "schema_version": rec["schema_version"],
                **({"rmin": r["rmin"], "rmax": r["rmax"]}
                   if r["rmin"] is not None else {}),
                **({"kfp": r["kfp"]} if r["kfp"] is not None else {}),
                "rows": int(r["rows"]),
            }
            for r in meta.collect()
        ]
        target_paths = {f["path"] for f in target}

        def make(cur, final_rel):
            # rewrite-shaped rebase: valid iff every input file is still
            # live (another compactor racing the same buckets is the only
            # way they vanish — that run already did this work). Deltas a
            # concurrent INGEST appended to these buckets meanwhile simply
            # stay in `keep` and stack on top of the compacted base —
            # merge order is by _seq, not by generation, so the result is
            # identical to having compacted first.
            cur_paths = {f["path"] for f in cur["files"]}
            if not target_paths <= cur_paths:
                raise commitlog.ConcurrentWriteConflict(
                    "compaction inputs were rewritten by a concurrent "
                    "maintenance commit; re-plan from the new state"
                )
            keep = [f for f in cur["files"] if f["path"] not in target_paths]
            return {
                **cur,
                "version": cur["version"] + 1,
                "files": keep + self._reprefix(new_files, staged, final_rel),
            }

        self._publish(staged, make)
        return {"buckets_rewritten": len(bset), "files_written": len(new_files)}

    def merge_upsert(
        self,
        batch: DataFrame,
        fence: tuple[str, int] | None = None,
        files_per_bucket: int = 1,
        info: dict | None = None,
        touched_buckets: list[int] | None = None,
        props_update: dict | None = None,
    ) -> dict:
        """MERGE INTO equivalent, conditional on event order:

        ``MERGE INTO t USING s ON t.repo=s.repo AND t.path=s.path
        WHEN MATCHED AND s._seq > t._seq THEN UPDATE SET *  (op D ⇒ tombstone)
        WHEN NOT MATCHED THEN INSERT *``

        `batch` must be pre-compacted (one row per key — operators.cdc) and
        carry current user columns + `_seq` + `_op`. Only buckets touched by
        the batch are rewritten. Returns merge stats for lineage.

        ``touched_buckets``: caller-supplied bucket ids covering the batch
        (bucket is a pure function of repo, so the pipeline derives them
        from the cheap RAW batch — plans/pipeline.py). Without the hint a
        ``distinct().collect()`` on the batch's bucket column must run,
        which re-executes the whole upstream plan when it contains a
        Python stage (mapInArrow is a projection barrier) — the VERDICT
        r2 item-8 cost. A superset is safe: untouched buckets rewrite to
        identical contents.

        ``props_update``: table properties merged into the SAME commit —
        lets a consumer (e.g. the derived-table maintainer's change-feed
        cursor, plans/derived.py) advance its watermark atomically with
        the data it wrote: crash before commit leaves both untouched."""
        rec = self._current()
        n_buckets = rec["n_buckets"]
        key_cols = list(rec.get("key_cols", ["repo", "path"]))
        batch = batch.withColumn("bkt", bucket_expr(n_buckets))

        affected = (
            sorted(set(touched_buckets))
            if touched_buckets is not None
            else [r[0] for r in batch.select("bkt").distinct().collect()]
        )
        target_files = [f for f in rec["files"] if f["bucket"] in set(affected)]
        keep_files = [f for f in rec["files"] if f["bucket"] not in set(affected)]

        cur_names = [f.name for f in self.schema_fields(rec)]
        batch = batch.select(*cur_names, "_seq", "_op", "bkt")
        target = self._read_files(rec, target_files)

        if target is None:
            merged = batch
        else:
            target = target.withColumn("bkt", bucket_expr(n_buckets))
            # target wins ties on _seq (idempotent re-application): priority 1.
            t = target.withColumn("_prio", F.lit(1))
            s = batch.withColumn("_prio", F.lit(0))
            unioned = t.unionByName(s)
            payload = F.struct(*[F.col(c) for c in unioned.columns])
            merged = (
                unioned.groupBy(*key_cols)
                .agg(F.max_by(payload, F.struct(F.col("_seq"), F.col("_prio"))).alias("r"))
                .select("r.*")
                .drop("_prio")
            )

        staged = self._stage_rel()
        new_files = self._write_bucket_data(
            merged, staged, rec["schema_version"], files_per_bucket=files_per_bucket,
            n_buckets=n_buckets, key_cols=key_cols,
        )
        if info is not None and callable(info):
            info = info()  # post-write: lets Observation-based stats resolve
        target_sig = sorted(f["path"] for f in target_files)

        def make(cur, final_rel):
            # Copy-on-write REWRITES the affected buckets from the state it
            # read, so a concurrent commit touching those buckets cannot be
            # rebased — the merged output would silently drop it. Untouched
            # buckets rebase fine (recomputed keep list).
            cur_affected = sorted(
                f["path"] for f in cur["files"] if f["bucket"] in set(affected)
            )
            if cur_affected != target_sig:
                raise commitlog.ConcurrentWriteConflict(
                    "merge_upsert read-set changed: affected buckets were "
                    "written concurrently; re-run the merge on the new state"
                )
            fences = cur["fences"]
            if fence:
                if self._fence_covers(fences, fence[0], fence[1]):
                    raise commitlog.EpochAlreadyFenced(
                        f"epoch {fence} already fenced by a concurrent writer"
                    )
                fences = self._advance_fence(fences, fence[0], fence[1])
            keep = [f for f in cur["files"] if f["bucket"] not in set(affected)]
            stats = {
                "version": cur["version"] + 1,
                "buckets_rewritten": len(affected),
                "files_written": len(new_files),
            }
            record = {
                **cur,
                "version": cur["version"] + 1,
                "files": keep + self._reprefix(new_files, staged, final_rel),
                "fences": fences,
            }
            if props_update:
                record["props"] = {**record.get("props", {}), **props_update}
            if info is not None:
                record["epoch_info"] = {**info, **stats}
            else:
                record.pop("epoch_info", None)
            return record

        record = self._publish(staged, make)
        return {
            "version": record["version"],
            "buckets_rewritten": len(affected),
            "files_written": len(new_files),
        }

    # ----------------------------------------------------- schema evolution

    def _commit_schema(self, rec: dict, new_fields: list[LakeField], next_field_id: int) -> None:
        sv = rec["schema_version"] + 1
        self._commit(
            {
                **rec,
                "version": rec["version"] + 1,
                "schema_version": sv,
                "schemas": {**rec["schemas"], str(sv): [f.to_json() for f in new_fields]},
                "next_field_id": next_field_id,
            }
        )

    def add_column(self, name: str, type_ddl: str) -> None:
        rec = self._current()
        fields = self.schema_fields(rec)
        if any(f.name == name for f in fields):
            raise ValueError(f"column {name} exists")
        nid = rec["next_field_id"]
        self._commit_schema(rec, fields + [LakeField(nid, name, type_ddl)], nid + 1)

    def rename_column(self, old: str, new: str) -> None:
        rec = self._current()
        fields = [
            LakeField(f.id, new if f.name == old else f.name, f.type, f.nullable)
            for f in self.schema_fields(rec)
        ]
        if not any(f.name == new for f in fields):
            raise ValueError(f"column {old} not found")
        self._commit_schema(rec, fields, rec["next_field_id"])

    def drop_column(self, name: str) -> None:
        """Iceberg DROP COLUMN semantics: the field leaves the CURRENT
        schema; historical files keep their bytes (projection by field id
        simply stops selecting them), and a later ``add_column`` of the
        same NAME allocates a fresh field id — old values can never
        resurrect through a re-add (the Iceberg id-not-name contract)."""
        rec = self._current()
        if name in rec.get("key_cols", ["repo", "path"]):
            raise ValueError(f"cannot drop key column {name}")
        fields = [f for f in self.schema_fields(rec) if f.name != name]
        if len(fields) == len(self.schema_fields(rec)):
            raise ValueError(f"column {name} not found")
        self._commit_schema(rec, fields, rec["next_field_id"])

    def widen_column(self, name: str, new_type: str) -> None:
        rec = self._current()
        fields = self.schema_fields(rec)
        out = []
        for f in fields:
            if f.name == name:
                if f.type != new_type and (f.type, new_type) not in WIDENINGS:
                    raise ValueError(f"illegal type change {f.type} → {new_type}")
                f = LakeField(f.id, f.name, new_type, f.nullable)
            out.append(f)
        self._commit_schema(rec, out, rec["next_field_id"])

    def evolve_for_batch(self, batch_schema: T.StructType, rename_map: dict[str, str] | None = None) -> None:
        """Auto-evolve to accept an incoming batch (C7): declared renames
        first, then adds, then widenings — the schema-registry diff of
        SURVEY.md §2.2 C7."""
        rename_map = rename_map or {}
        cur = {f.name: f for f in self.schema_fields()}
        for old, new in rename_map.items():
            if old in cur and any(bf.name == new for bf in batch_schema.fields):
                self.rename_column(old, new)
                cur = {f.name: f for f in self.schema_fields()}
        for bf in batch_schema.fields:
            if bf.name in ("seq", "ts", "op", "part", "epoch"):
                continue
            ddl = bf.dataType.simpleString()
            if bf.name not in cur:
                self.add_column(bf.name, ddl)
            elif cur[bf.name].type != ddl and (cur[bf.name].type, ddl) in WIDENINGS:
                self.widen_column(bf.name, ddl)

    # ---------------------------------------------------------- maintenance

    def compact(self, files_per_bucket: int = 1) -> None:
        """rewrite_data_files analogue: coalesce each bucket's files and
        collapse any delta generations (fused per-bucket rewrite)."""
        rec = self._current()
        buckets = sorted({f["bucket"] for f in rec["files"]})
        if buckets:
            self.compact_buckets(buckets, files_per_bucket=files_per_bucket)

    def expire_snapshots(self, keep_last: int = 1) -> int:
        """Iceberg ``expire_snapshots`` analogue: drop commit records older
        than the newest ``keep_last`` versions, bounding commit-log size and
        fixing the retention window for time travel / change feeds — access
        below the floor raises :class:`~foundry_es_spark.lake.log.SnapshotExpired`
        (loud, never a silent skip; the derived-table maintainer catches it
        and falls back to a full recompute). Data files are untouched here:
        run :meth:`vacuum` (with ``keep_snapshots``) to reclaim storage."""
        head = commitlog.current_version(self.table_dir)
        if head is None:
            return 0
        cutoff = head - max(0, keep_last - 1)  # retain [cutoff, head]
        removed = 0
        for v in commitlog.list_versions(self.table_dir):
            if v < cutoff:
                commitlog.delete_commit(self.table_dir, v)
                removed += 1
        return removed

    def rebucket(self, n_buckets: int, files_per_bucket: int = 1) -> dict:
        """Partition-spec evolution: rewrite the table into a new bucket
        count — the capacity move when key cardinality outgrows the layout
        (bucket(64) → bucket(256) keeps per-bucket merge state bounded).

        Unlike Iceberg's lazy spec evolution (new files new spec, old files
        old spec), the bucket-LOCAL merge invariant here requires every
        generation of a bucket to hold a disjoint key slice — mixing specs
        would break it — so this is an explicit full rewrite published as
        ONE commit: reads before it see the old layout, after it the new;
        fences, schema, and row data are untouched. O(table) cost, run it
        like any other maintenance window."""
        rec = self._current()
        merged = self._read_merged(rec, rec["files"])
        if merged is None:
            new_files: list[dict] = []
            staged = None
        else:
            staged = self._stage_rel()
            df = merged.withColumn("bkt", bucket_expr(n_buckets))
            new_files = self._write_bucket_data(
                df, staged, rec["schema_version"],
                files_per_bucket=files_per_bucket, n_buckets=n_buckets,
                key_cols=rec.get("key_cols", ["repo", "path"]),
            )
        read_sig = sorted(f["path"] for f in rec["files"])

        def make(cur, final_rel):
            # full-table rewrite: any concurrent data commit invalidates it
            if sorted(f["path"] for f in cur["files"]) != read_sig:
                raise commitlog.ConcurrentWriteConflict(
                    "table was written concurrently during rebucket; re-run"
                )
            return {
                **cur,
                "version": cur["version"] + 1,
                "files": self._reprefix(new_files, staged, final_rel)
                if staged
                else [],
                "n_buckets": n_buckets,
            }

        self._publish(staged, make)
        return {"n_buckets": n_buckets, "files_written": len(new_files)}

    def vacuum(self, keep_snapshots: int = 0) -> int:
        """Delete data directories not referenced by any RETAINED snapshot
        (the current one plus the ``keep_snapshots`` before it, among
        commits still in the log), plus unreferenced files INSIDE
        referenced version dirs — the fused task-writer sinks write
        attempt-suffixed files (part-*-a{attempt}) straight into the
        version dir, so a lost speculative/retried attempt leaves debris no
        snapshot references. Returns the number of directories + files
        removed. ``keep_snapshots=0`` keeps only the head's files (time
        travel to older versions then fails on read, the documented
        Iceberg snapshot-read contract)."""
        rec = self._current()
        recs = [rec]
        if keep_snapshots > 0:
            head = rec["version"]
            retained = [
                v for v in commitlog.list_versions(self.table_dir)
                if head - keep_snapshots <= v < head
            ]
            recs += [commitlog.read_commit(self.table_dir, v) for v in retained]
        live_dirs = {f["path"].split("/")[1] for r in recs for f in r["files"]}
        live_files = {
            os.path.normpath(os.path.join(self.table_dir, f["path"]))
            for r in recs
            for f in r["files"]
        }
        data_root = os.path.join(self.table_dir, "data")
        head = rec["version"]
        removed = 0
        if os.path.isdir(data_root):
            for d in os.listdir(data_root):
                vd = os.path.join(data_root, d)
                if d.startswith(".stage-"):
                    # uncommitted staging write: crashed-writer debris
                    # unless a live concurrent writer still owns it
                    if self._may_reclaim(vd):
                        shutil.rmtree(vd, ignore_errors=True)
                        removed += 1
                    continue
                if d not in live_dirs:
                    try:
                        dv = int(d.lstrip("c"))
                    except ValueError:
                        dv = None
                    if dv is not None and dv > head and not self._may_reclaim(vd):
                        continue  # claimed by an in-flight publish
                    shutil.rmtree(vd)
                    removed += 1
                    continue
                for root, _dirs, fns in os.walk(vd, topdown=False):
                    for fn in fns:
                        p = os.path.normpath(os.path.join(root, fn))
                        if p not in live_files:
                            os.remove(p)
                            removed += 1
                    # drop now-empty bucket subdirs (never the version dir)
                    if root != vd and not os.listdir(root):
                        os.rmdir(root)
        return removed
