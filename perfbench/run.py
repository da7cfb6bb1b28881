#!/usr/bin/env python3
"""Benchmark of the foundry_es_spark CDC engine.

Usage (from the repository root)::

    python3 perfbench/run.py --workload replay_enriched --seed 1 --seconds 8 --trace 0

Workloads: ``replay_enriched`` and ``stream_replication`` (see
``workloads.py`` and ``README.md``). The run generates its input log
from ``--seed``, starts Spark sized for this host, sets up, runs a timed
window of whole compaction cycles, reads back, and checks the final table
digest against the independent pandas fold oracle. It prints a readable
summary and, as the last stdout line, one JSON object::

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (the traced run adds probe jobs, so its timings are not end-to-end
figures). Everything the run writes stays under ``.perfbench_work/`` and
``.perfbench_cache/`` in the current directory.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, HERE]

import foundry_es_spark  # noqa: E402  (fails fast outside a full checkout)
from foundry_es_spark.session import get_spark  # noqa: E402

import gen  # noqa: E402
import workloads as wl  # noqa: E402
from probe import JobCounter, Ops, ProcWatch, descendants, median  # noqa: E402

DRIVER_HEAP = "1g"

END_TO_END = {  # name -> unit
    "ingest_events_per_s": "events/s",
    "stored_bytes_per_row": "B/row",
    "jvm_rss_peak_mb": "MB",
    "worker_rss_peak_mb": "MB",
    "setup_s": "s",
}
PER_LAYER = {
    "sources.footer_offsets_s": "s",
    "sources.epoch_scan_s": "s",
    "functions.enrich_s": "s",
    "operators.kernel_s": "s",
    "operators.keys_per_event": "count",
    "plans.epoch_p50_s": "s",
    "plans.epoch_s": "s",
    "plans.prescan_s": "s",
    "plans.merge_write_s": "s",
    "plans.compaction_s": "s",
    "plans.other_s": "s",
    "plans.jobs_per_epoch": "count",
    "plans.status_p50_s": "s",
    "lake.bytes_written_per_event": "B/event",
    "lake.compaction_bytes_rewritten": "B",
    "lake.max_delta_generations": "count",
    "lake.physical_rows_per_live_row": "count",
    "lake.point_read_jobs": "count",
    "lake.point_read_p50_s": "s",
    "lake.feed_read_p50_s": "s",
    "lake.scan_p50_s": "s",
    "lake.versions": "count",
    "streaming.trigger_s": "s",
    "streaming.body_s": "s",
    "streaming.overhead_s": "s",
    "streaming.reported_rows_per_event": "count",
    "jvm.heap_live_peak_mb": "MB",
    "host.steal_frac": "frac",
    "host.foreign_busy_cores": "cores",
    "trace.overhead_s": "s",
}
# End-to-end latencies in intent, reported per-layer because their spread
# over ten seeds on a shared host passed 0.25, the largest bound a metric
# may have (README, "Bounds and steadiness").
# Every run measures them; an untraced run prints them in its summary.
LATENCIES = ("plans.epoch_p50_s", "plans.status_p50_s", "lake.point_read_p50_s", "lake.feed_read_p50_s",
             "lake.scan_p50_s")


# ------------------------------------------------------------------ inputs


def build_inputs(workload: str, seed: int, cycles: int, work: str, cache: str):
    """Generate and write the seeded log; return what the workload needs
    plus the oracle's expected digest and live row count (cached per
    seed and shape: the oracle shares no code with the engine)."""
    shape = wl.SHAPES[workload]
    e = shape.epoch_events
    setup_b = wl.epoch_bounds(0, e, shape.setup_epochs)
    fold_from = setup_b[-1][1]
    window_b = wl.epoch_bounds(fold_from, e, wl.CYCLE_EPOCHS * cycles)
    events = gen.gen_events(seed, window_b[-1][1], wl.LOG)

    setup_dirs = gen.write_log(events, os.path.join(work, "log_setup"), setup_b)
    window_dirs = gen.write_log(events, os.path.join(work, "log_window"), window_b, first_epoch=len(setup_b))
    if workload == "stream_replication":
        setup_in, window_in = os.path.join(work, "log_setup"), os.path.join(work, "log_window")
    else:
        setup_in, window_in = setup_dirs, window_dirs

    key = hashlib.sha256()
    for f in (os.path.join(HERE, "gen.py"), os.path.join(ROOT, "foundry_es_spark", "oracle.py")):
        with open(f, "rb") as fh:
            key.update(fh.read())
    key.update(repr((seed, shape, window_b[-1][1], fold_from)).encode())
    cfile = os.path.join(cache, f"oracle-{key.hexdigest()[:24]}.json")
    if os.path.exists(cfile):
        with open(cfile) as fh:
            exp = json.load(fh)
    else:
        exp = gen.oracle_expect(events.slice(fold_from))
        os.makedirs(cache, exist_ok=True)
        with open(cfile + ".tmp", "w") as fh:
            json.dump(exp, fh)
        os.replace(cfile + ".tmp", cfile)
    n_events = sum(hi - lo for lo, hi in window_b)
    return (setup_in, window_in, exp["digest"], exp["live_rows"]), n_events


# ------------------------------------------------------------------- spark


def start_spark(work: str):
    """Spark sized for this host: one task thread per core but one, so the
    driver, GC and Python workers are not oversubscribed."""
    threads = max(1, len(os.sched_getaffinity(0)) - 1)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # the spark-submit launcher JVM starts before any Spark conf applies
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    tempfile.tempdir = tmp
    return get_spark(
        master=f"local[{threads}]",
        shuffle_partitions=2 * threads,
        extra_conf={
            "spark.driver.memory": DRIVER_HEAP,
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # a pre-touched fixed heap keeps the JVM's peak RSS from
            # depending on when G1 happened to grow the heap; the RSS then
            # moves only with non-heap memory, so the heap's live set is
            # reported on its own (jvm.heap_live_peak_mb)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData "
            f"-Xms{DRIVER_HEAP} -XX:+AlwaysPreTouch",
        },
    )


def stop_spark(spark) -> None:
    """Stop Spark, end the JVM and wait until it and its Python workers
    have exited."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    kids = descendants(proc.pid) if proc else []
    spark.stop()
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    deadline = time.monotonic() + 30
    while kids and time.monotonic() < deadline:
        kids = [p for p in kids if os.path.exists(f"/proc/{p}")]
        time.sleep(0.1)
    for p in kids:
        try:
            os.kill(p, 9)
        except ProcessLookupError:
            pass


# ------------------------------------------------------------------ result


def end_to_end(run: wl.Run, spark_s: float, watch: ProcWatch, extra: dict) -> dict:
    return {
        "ingest_events_per_s": run.events / sum(run.epoch_walls) if run.epoch_walls else 0.0,
        "stored_bytes_per_row": extra["stored_bytes_per_row"],
        "jvm_rss_peak_mb": watch.jvm_peak(),
        "worker_rss_peak_mb": watch.worker_peak,
        "setup_s": spark_s + median(run.setup_rounds),
    }


def per_layer(run: wl.Run) -> dict:
    out = {k: 0.0 for k in PER_LAYER}
    out.update(run.layer)
    walls = run.ops.walls
    out["plans.epoch_p50_s"] = median(run.epoch_walls)
    out["plans.status_p50_s"] = median(walls.get("status", []))
    out["lake.point_read_p50_s"] = median(walls.get("point_read", []))
    out["lake.feed_read_p50_s"] = median(walls.get("feed_read", []))
    out["lake.scan_p50_s"] = median(walls.get("scan", []))
    out["jvm.heap_live_peak_mb"] = run.watch.heap_live_peak
    out["host.steal_frac"] = run.host.get("steal_frac", 0.0)
    out["host.foreign_busy_cores"] = run.host.get("foreign_busy_cores", 0.0)
    out["trace.overhead_s"] = sum(run.probe_s)
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    base = os.path.join(os.getcwd(), ".perfbench_work")
    work = os.path.join(base, f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    shape = wl.SHAPES[args.workload]
    cycles = wl.n_cycles(shape, args.seconds)
    try:
        t_start = time.perf_counter()
        inputs, n_events = build_inputs(
            args.workload, args.seed, cycles, work, os.path.join(os.getcwd(), ".perfbench_cache")
        )
        t0 = time.perf_counter()
        gen_s = t0 - t_start
        spark = start_spark(work)
        spark_s = time.perf_counter() - t0
        try:
            watch = ProcWatch(spark.sparkContext._gateway.proc.pid, spark)
            run = wl.Run(spark, Ops(), JobCounter(spark), watch, work, args.seed, bool(args.trace))
            run.events = n_events
            t_wl = time.perf_counter()
            extra = wl.WORKLOADS[args.workload](run, inputs)
            post_s = time.perf_counter() - t_wl - sum(run.setup_rounds) - run.window_s
            e2e = end_to_end(run, spark_s, watch, extra)
            layers = per_layer(run)
        finally:
            t_stop = time.perf_counter()
            stop_spark(spark)
            stop_s = time.perf_counter() - t_stop
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(base)
        except OSError:  # another run's work dir is still there
            pass

    ops = run.ops
    print(f"workload={args.workload} seed={args.seed} cycles={cycles} "
          f"epochs={len(run.epoch_walls)} events={n_events}")
    print(f"  phases: inputs {gen_s:.1f} s, spark start {spark_s:.1f} s, set-up rounds "
          f"{' '.join(f'{s:.1f}' for s in run.setup_rounds)} s, window {run.window_s:.1f} s, after {post_s:.1f} s, "
          f"stop {stop_s:.1f} s")
    print(f"  host over the window: steal {run.host.get('steal_frac', 0.0):.3f}, "
          f"foreign busy cores {run.host.get('foreign_busy_cores', 0.0):.2f}")
    print(f"  epoch walls: {' '.join(f'{w:.3f}' for w in run.epoch_walls)}")
    samples = {"lake.point_read_p50_s": len(ops.walls.get("point_read", [])), "setup_s": len(run.setup_rounds),
               "plans.epoch_p50_s": len(run.epoch_walls), "plans.status_p50_s": len(ops.walls.get("status", [])),
               "lake.feed_read_p50_s": len(ops.walls.get("feed_read", [])),
               "lake.scan_p50_s": len(ops.walls.get("scan", []))}
    for k, v in [*e2e.items(), *((k, v) for k, v in layers.items() if args.trace or k in LATENCIES)]:
        n = f" (n={samples[k]})" if k in samples else ""
        print(f"  {k:<36} {v:14.6f} {END_TO_END.get(k) or PER_LAYER[k]}{n}")
    print(f"  ops_attempted={ops.attempted} ops_failed={ops.failed}")
    for err in ops.errors:
        print(f"  error: {err}")
    chosen, units = (layers, PER_LAYER) if args.trace else (e2e, END_TO_END)
    print(json.dumps({
        "correct": ops.failed == 0,
        "attempted": ops.attempted,
        "failed": ops.failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
