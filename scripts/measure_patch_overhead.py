#!/usr/bin/env python
"""C9 partial-update (patch) replay overhead — BENCH evidence.

Replays the standard bench event log twice at identical settings:
(a) as-is (full-image I/U/D stream), (b) with ~1/3 of the U events
deterministically converted to sparse ``op='P'`` patches
(``fixtures.as_patch_events``) and ``patch_ops=True``. Patch epochs read
no stored state: net-'P' rows (keys whose base image lives in an earlier
epoch) are stored sparse and folded over their base by every read and
compaction, so the patch-side costs are the kernel's column-wise fold in
the epoch and that fold in the snapshot read — both are printed. The
printed ratio IS the cost of patch support at this patch rate.

Usage (same env knobs as bench.py; ~2 min at the 1M default):

    python scripts/measure_patch_overhead.py

Prints one JSON line: sustained ev/s for both shapes, the overhead ratio,
the patched table's snapshot read wall, and ``compaction_equal`` (the
patched table's ``read()`` is the same before and after ``compact()``).
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from foundry_es_spark.session import get_spark  # noqa: E402


def ensure_patched_log(spark, events_dir: str) -> str:
    """Derive the patch-stream twin of the bench log, preserving the
    epoch=/part= layout (same seq ranges, so offsets_from_footers and the
    epoch chunking behave identically)."""
    from foundry_es_spark.fixtures import as_patch_events

    out = events_dir.rstrip("/") + "_patched"
    marker = os.path.join(out, "_BENCH_READY")
    if os.path.exists(marker):
        return out
    epochs = sorted(
        int(d.split("=")[1]) for d in os.listdir(events_dir) if d.startswith("epoch=")
    )
    for e in epochs:
        df = spark.read.parquet(os.path.join(events_dir, f"epoch={e}"))
        (
            as_patch_events(df)
            .repartition("part")
            .sortWithinPartitions("seq")
            .write.mode("overwrite")
            .partitionBy("part")
            .parquet(os.path.join(out, f"epoch={e}"))
        )
    with open(marker, "w") as f:
        f.write(out)
    return out


def main() -> None:
    spark = get_spark(
        master=f"local[{bench.CPUS}]",
        shuffle_partitions=max(8, 4 * bench.CPUS),
        app_name="bench-patch",
    )
    events_dir = bench.ensure_event_log(spark)
    patched_dir = ensure_patched_log(spark, events_dir)

    import time

    base = bench.run_replay(
        spark, events_dir, os.path.join(bench.BENCH_ROOT, "table_pbase"), warmup=2
    )
    from foundry_es_spark.lake.table import LakeTable

    tdir = os.path.join(bench.BENCH_ROOT, "table_ppatch")
    patch = bench.run_replay(spark, patched_dir, tdir, warmup=2, patch_ops=True)
    # read-side cost: net-'P' rows are stored sparse, so every merged
    # read pays the column fold — time it
    t = LakeTable(spark, tdir)
    t0 = time.monotonic()
    n_rows = t.read().count()
    read = {"rows": n_rows, "read_sec": round(time.monotonic() - t0, 3)}
    # standing correctness check: compaction folds the sparse rows for
    # good, which must not change what a read returns
    before = t.read().localCheckpoint()
    t.compact(files_per_bucket=2)
    after = t.read()
    compaction_equal = (
        before.exceptAll(after).count() == 0 and after.exceptAll(before).count() == 0
    )

    n_p = spark.read.parquet(patched_dir).where("op = 'P'").count()
    out = {
        "metric": "c9_patch_replay_overhead",
        "events": bench.N_EVENTS,
        "n_patch_events": n_p,
        "full_image_events_per_sec": base["events_per_sec"],
        "patch_events_per_sec": patch["events_per_sec"],
        "overhead_ratio": round(
            base["events_per_sec"] / max(1.0, patch["events_per_sec"]), 3
        ),
        "compaction_equal": compaction_equal,
        "snapshot_read": read,
        "full_image": base,
        "patch": patch,
    }
    print(json.dumps(out))


if __name__ == "__main__":
    main()
