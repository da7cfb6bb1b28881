"""Shared change-feed window logic for incremental maintainers.

Both derived-state maintainers (near-dup pairs in plans/dedup_maintain.py,
curation verdicts in plans/curation_maintain.py) fold the source table's
change feed the same way: net change per key over the commit window
(only each key's FINAL state matters — an I→U→D chain is just a delete),
with sparse net-'P' patch rows resolved to full images against the
snapshot. Factored here so the semantics — including the subtle
patch-after-delete and orphan-patch rules — are written once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

_A = ["repo", "path"]


def net_window(
    source, text_col: str, from_version: int, to_version: int, max_keys: int
):
    """Net per-key change over the feed window [from_version, to_version].

    Returns ``(latest, vic_rows)``: ``latest`` is one row per touched key
    with its final ``_op`` and ``text_col`` image; ``vic_rows`` is the
    collected (repo, path, _op) victim list, capped at ``max_keys + 1``
    rows so the caller can detect a too-wide window without collecting an
    unbounded set. Propagates SnapshotExpired from the feed read."""
    feed = source.table_changes(from_version=from_version, to_version=to_version)
    payload = F.struct(F.col("_op"), F.col(text_col))
    latest = (
        feed.groupBy(*_A)
        .agg(F.max_by(payload, F.col("_seq")).alias("r"))
        .select(*_A, "r._op", f"r.{text_col}")
    )
    vic_rows = latest.select(*_A, "_op").limit(max_keys + 1).collect()
    return latest, vic_rows


def resolve_patches(source, latest: DataFrame, text_col: str, patch_keys) -> DataFrame:
    """Fold net-'P' keys (the sparse partial images every patch epoch
    stores) into full U/D rows.

    The feed's delta rows are SPARSE — a net-'P' key's image may carry
    null (or stale-partial) text. Resolve those keys' TRUE content from
    the snapshot read (which folds patches), bucket/bounds/kfp-pruned to
    the patched repos — bounded by the caller's max_delta_keys, never a
    table scan. A net-'P' key ABSENT from the snapshot was deleted earlier
    in the window (patch-after-delete stays deleted) or never existed
    (orphan): either way it folds as a D so no live derived state remains
    (an orphan's D merges over nothing — harmless). Dropping those rows
    instead would leak the deleted key's derived state forever and break
    the incremental == batch-rebuild equivalence."""
    snap = source.read(repos=sorted({k[0] for k in patch_keys})).select(*_A, text_col)
    p_rows = latest.where(F.col("_op") == "P").drop(text_col)
    resolved = (
        p_rows.join(snap, on=_A, how="inner")
        .withColumn("_op", F.lit("U"))
        .select(*_A, "_op", text_col)
    )
    gone = (
        p_rows.join(snap.select(*_A), on=_A, how="left_anti")
        .withColumn("_op", F.lit("D"))
        .withColumn(text_col, F.lit(None).cast("string"))
        .select(*_A, "_op", text_col)
    )
    return latest.where(F.col("_op") != "P").unionByName(resolved).unionByName(gone)
