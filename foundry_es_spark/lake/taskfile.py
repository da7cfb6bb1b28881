"""Task-side data-file writer shared by the two task-writer sinks: the
epoch kernel's fused sink (``operators.cdc.compact_sorted_partitions``)
and fused compaction (``LakeTable._bucket_local_merge``). A task writes
its rows as one parquet file and emits ONE metadata row per file — the
Iceberg task-writer shape; the driver commits the collected rows."""

from __future__ import annotations

import os

# mapInArrow schema of the metadata rows (the epoch sink appends `deletes`)
TASK_FILE_DDL = "bucket int, path string, rows long, rmin string, rmax string, kfp string"


def write_task_file(
    tbl,
    abs_dir: str,
    rel: str,
    bucket: int,
    file_idx: int,
    key_col: str,
    codec: str = "zstd",
    row_group_rows: int | None = None,
) -> dict:
    """Write ``tbl`` to ``<abs_dir>/bkt=<bucket>/part-<file_idx>-a<attempt>.parquet``
    and return its metadata fields (``TASK_FILE_DDL`` order); ``path`` is
    relative to the table, under ``rel``. Must run inside a Spark task."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pyspark import TaskContext

    bdir = os.path.join(abs_dir, f"bkt={bucket}")
    os.makedirs(bdir, exist_ok=True)
    # attempt id in the name: a speculative/retried attempt writing the
    # same path concurrently on shared storage would tear the file; the
    # committed metadata row references exactly the winning attempt's file
    # (Spark delivers one attempt's output), losers become unreferenced
    # debris
    fn = f"part-{file_idx:05d}-a{TaskContext.get().taskAttemptId()}.parquet"
    pq.write_table(
        tbl, os.path.join(bdir, fn), compression=codec,
        **({"row_group_size": row_group_rows} if row_group_rows else {}),
    )
    rmin = rmax = kfp = None  # non-string partition key: no file bounds
    kcol = tbl.column(key_col)
    if pa.types.is_string(kcol.type) or pa.types.is_large_string(kcol.type):
        # file-level bounds of the partition key (Iceberg manifest
        # column-bounds analogue): lets the driver prune whole files out
        # of selective reads without opening footers
        mm = pc.min_max(kcol)
        rmin, rmax = mm["min"].as_py(), mm["max"].as_py()
        # key-fingerprint set (lake/kfp.py): point-lookup pruning where a
        # file's [min,max] spans the key space; in-task over the
        # materialized Arrow column — free. Compacted buckets usually
        # exceed KFP_CAP distinct keys and record None (bounds describe
        # them fine) — cap-check BEFORE materializing keys into Python.
        from foundry_es_spark.lake.kfp import KFP_CAP, kfp_encode

        uk = pc.unique(kcol)
        kfp = kfp_encode(uk.to_pylist()) if len(uk) <= KFP_CAP else None
    return {
        "bucket": bucket,
        "path": f"{rel}/bkt={bucket}/{fn}",
        "rows": tbl.num_rows,
        "rmin": rmin,
        "rmax": rmax,
        "kfp": kfp,
    }


def task_file_batch(meta: dict):
    """One metadata row as the Arrow batch the sinks' mapInArrow schema
    declares: ``bucket`` int, ``rows``/``deletes`` long, the rest string."""
    import pyarrow as pa

    types = {"bucket": pa.int32(), "rows": pa.int64(), "deletes": pa.int64()}
    return pa.RecordBatch.from_pydict(
        {k: pa.array([v], types.get(k, pa.string())) for k, v in meta.items()}
    )
