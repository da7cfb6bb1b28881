"""The benchmark workloads, driven through the engine's public API.

Each workload is one closed-loop client: every call waits for the one
before it. Its timed window is a whole number of compaction cycles (a
cycle is ``compact_threshold`` epochs, the default 8), so the compaction
storm falls inside every run. After the window the run reads back the
table it built (point reads, the change feed, ``epoch_summary()``, full
scans), so both workloads measure the read path, and ends with the oracle
digest check.

Set-up (``setup_s``) is Spark start plus the median of ``SETUP_ROUNDS``
identical set-up rounds, each on a fresh throwaway table: replays of the
workload's own shape plus a few reads, so JIT and Python-worker start-up
land there, not in the window.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass

import numpy as np

from foundry_es_spark.functions import with_normalized_columns
from foundry_es_spark.lake import log as commitlog
from foundry_es_spark.operators.cdc import compact_sorted_partitions, validity_expr
from foundry_es_spark import oracle
from foundry_es_spark.plans import CdcPipeline, PipelineConfig, offsets_from_footers
from foundry_es_spark.streaming import run_stream

import gen
from probe import dir_bytes, mean, noop_write

SETUP_ROUNDS = 3
LOG = gen.LogShape()
CYCLE_EPOCHS = PipelineConfig(pipeline_id="", table_dir="").compact_threshold


@dataclass(frozen=True)
class Shape:
    """Sizes of one workload. ``cycle_s`` is the measured length of one
    cycle on 4 vCPU; ``--seconds`` picks the number of cycles from it."""

    epoch_events: int        # events per timed epoch / trigger
    setup_epochs: int        # epochs replayed in each set-up round
    cycle_s: float = 10.0


SHAPES = {
    "replay_enriched": Shape(epoch_events=6000, setup_epochs=1, cycle_s=8.5),
    "stream_replication": Shape(epoch_events=6000, setup_epochs=1, cycle_s=6.0),
}

# read-back after the window
END_POINT_READS = 6
END_FEED_READS = 5
END_STATUS_CALLS = 100  # zero-job calls of ~2 ms: many samples cost little
END_SCANS = 3


def n_cycles(shape: Shape, seconds: int) -> int:
    return max(1, round(seconds / shape.cycle_s))


class Run:
    """State shared by a workload run: Spark, the op ledger, the traced
    per-layer accumulators and the process watcher."""

    def __init__(self, spark, ops, jobs, watch, work: str, seed: int, trace: bool):
        self.spark, self.ops, self.jobs, self.watch = spark, ops, jobs, watch
        self.work, self.seed, self.trace = work, seed, trace
        self.epoch_walls: list[float] = []   # timed epochs / triggers
        self.epoch_results: list[dict] = []  # apply_epoch return dicts
        self.epoch_jobs: list[int] = []
        self.footer_s: list[float] = []      # source cost before apply_epoch
        self.apply_walls: list[float] = []   # apply_epoch call alone
        self.layer: dict[str, float] = {}
        self.probe_s: list[float] = []       # traced-only extra work
        self.setup_rounds: list[float] = []
        self.window_s = 0.0
        self.events = 0
        self.reported_rows = 0               # input rows the ingest loop reports
        self.host: dict = {}
        self.schema = None                   # the log's, inferred once

    def path(self, *p: str) -> str:
        return os.path.join(self.work, *p)

    def pipeline(self, name: str, **cfg) -> CdcPipeline:
        table_dir = self.path("tables", name)
        shutil.rmtree(table_dir, ignore_errors=True)
        return CdcPipeline(self.spark, PipelineConfig(pipeline_id=name, table_dir=table_dir, **cfg))

    # ------------------------------------------------------------- epochs

    def replay_epoch(self, pipe: CdcPipeline, epoch_dir: str, epoch_id: int, timed: bool = True):
        """One batch epoch as ``CdcPipeline.replay_event_dir`` runs it:
        footer offsets, the epoch read, ``apply_epoch``. Like that loop,
        the epoch read reuses the schema inferred once (here, by the first
        set-up epoch: every epoch of the generated log has one schema)."""

        def op():
            t0 = time.perf_counter()
            hint = offsets_from_footers(epoch_dir)
            if self.schema is None:
                batch = self.spark.read.parquet(epoch_dir)
                self.schema = batch.schema
            else:
                batch = self.spark.read.schema(self.schema).parquet(epoch_dir)
            t1 = time.perf_counter()
            res = pipe.apply_epoch(batch, epoch_id, offsets_hint=hint)
            return res, t1 - t0, time.perf_counter() - t1

        if not timed:
            self.ops.run("setup_epoch", op)
            return
        counts: list[int] = []
        with self.jobs.group(counts):
            out = self.ops.run("epoch", op)
        self.watch.sample()
        if out is not None:
            res, read_s, apply_s = out
            self.epoch_walls.append(self.ops.walls["epoch"][-1])
            self.epoch_results.append(res)
            self.epoch_jobs.append(counts[0])
            self.footer_s.append(read_s)
            self.apply_walls.append(apply_s)
            self.reported_rows += int(res.get("n_events", 0))

    # -------------------------------------------------------------- reads

    def draw_repos(self, n: int, salt: str) -> list[str]:
        """Point-read repos drawn with the write skew: the hot repo with
        the hot share, otherwise uniform."""
        i = np.arange(n, dtype=np.uint64)
        hot = (gen.seeded_hash(self.seed, salt + "hot", i) % np.uint64(1_000_000)) < np.uint64(int(LOG.hot_frac * 1e6))
        uni = gen.seeded_hash(self.seed, salt + "repo", i) % np.uint64(LOG.n_repos)
        return [gen.repo_name(0 if h else int(u)) for h, u in zip(hot, uni)]

    def point_read(self, pipe: CdcPipeline, repo: str, counts: list[int]):
        with self.jobs.group(counts):
            self.ops.run("point_read", lambda: noop_write(pipe.table.read(repos=[repo])))

    def feed_read(self, pipe: CdcPipeline, from_version: int):
        self.ops.run("feed_read", lambda: noop_write(pipe.table.table_changes(from_version=from_version)))

    def status(self, pipe: CdcPipeline):
        self.ops.run("status", pipe.epoch_summary)

    def scan(self, pipe: CdcPipeline):
        self.ops.run("scan", lambda: noop_write(pipe.table.read()))

    def end_reads(self, pipe: CdcPipeline, feed_from: int):
        """Reads after the window: point reads, the change feed of the
        last epoch (or trigger), ``epoch_summary()`` calls, full scans."""
        jobs: list[int] = []
        for repo in self.draw_repos(END_POINT_READS, "end"):
            self.point_read(pipe, repo, jobs)
        for _ in range(END_FEED_READS):
            self.feed_read(pipe, feed_from)
        for _ in range(END_STATUS_CALLS):
            self.status(pipe)
        for _ in range(END_SCANS):
            self.scan(pipe)
        self.layer["lake.point_read_jobs"] = mean(jobs)
        self.watch.sample()

    # ----------------------------------------------------------- checking

    def check(self, pipe: CdcPipeline, expected: str) -> None:
        digest = self.ops.run("digest", table_digest, pipe)
        if digest is not None and digest != expected:
            self.ops.fail("digest", f"table {digest} != oracle {expected}")

    # -------------------------------------------------- traced layer probes

    def probe_epoch(self, epoch_dir: str, cfg: PipelineConfig, n_buckets: int, acc: dict):
        """Layer costs of one epoch's batch, each materialised to noop:
        the raw scan (sources), enrichment (functions) and the dedup
        kernel (operators), the last two net of the scan."""
        t0 = time.perf_counter()

        def timed(df) -> float:
            t = time.perf_counter()
            noop_write(df)
            return time.perf_counter() - t

        if self.schema is None:  # the stream never read an epoch itself
            self.schema = self.spark.read.parquet(epoch_dir).schema
        batch = self.spark.read.schema(self.schema).parquet(epoch_dir)
        scan = timed(batch)
        acc.setdefault("scan", []).append(scan)
        # without normalize the pipeline hands the batch on unenriched: ~0
        enriched = with_normalized_columns(batch) if cfg.normalize else batch
        acc.setdefault("enrich", []).append(timed(enriched) - scan)
        kernel = compact_sorted_partitions(
            batch.where(validity_expr()), n_buckets, cfg.files_per_bucket,
            emit_meta=cfg.normalize,
            num_partitions=2 * self.spark.sparkContext.defaultParallelism,
        )
        acc.setdefault("kernel", []).append(timed(kernel) - scan)
        self.probe_s.append(time.perf_counter() - t0)

    def fold_probes(self, acc: dict) -> None:
        self.layer["sources.epoch_scan_s"] = mean(acc.get("scan", []))
        self.layer["functions.enrich_s"] = mean(acc.get("enrich", []))
        self.layer["operators.kernel_s"] = mean(acc.get("kernel", []))

    # ------------------------------------------------------ window summary

    def plans_layers(self) -> None:
        """Stage breakdown of the timed epochs (means per epoch).
        ``plans.epoch_s`` is the ``apply_epoch`` wall; the named stages
        come from its ``stage_sec`` and ``other`` is the remainder. The
        ``streaming.*`` figures describe the loop that drives
        ``apply_epoch``: Structured Streaming on the stream, the batch
        replay loop (footer read + epoch read) elsewhere."""
        res = self.epoch_results
        stage = {k: mean([float(r.get("stage_sec", {}).get(k, 0.0)) for r in res])
                 for k in ("prescan", "merge_write", "compaction")}
        epoch_s = mean(self.apply_walls)
        trigger_s = mean(self.epoch_walls)
        self.layer.update({
            "plans.epoch_s": epoch_s,
            "plans.prescan_s": stage["prescan"],
            "plans.merge_write_s": stage["merge_write"],
            "plans.compaction_s": stage["compaction"],
            "plans.other_s": epoch_s - sum(stage.values()),
            "plans.jobs_per_epoch": mean(self.epoch_jobs),
            "operators.keys_per_event": sum(int(r.get("n_keys", 0)) for r in res)
            / max(1, sum(int(r.get("n_events", 0)) for r in res)),
            "sources.footer_offsets_s": mean(self.footer_s),
            "streaming.trigger_s": trigger_s,
            "streaming.body_s": epoch_s,
            "streaming.overhead_s": trigger_s - epoch_s,
            "streaming.reported_rows_per_event": self.reported_rows / max(1, self.events),
        })

    def lake_layers(self, pipe: CdcPipeline, v_from: int, live_rows: int) -> dict:
        """Bytes written by the window's commits and the table's shape at
        the end, from the commit log and the files on disk."""
        tdir = pipe.cfg.table_dir
        cur = commitlog.current_version(tdir)
        written = rewritten = 0
        for v in range(v_from, cur + 1):
            b = dir_bytes(os.path.join(tdir, "data", f"c{v:08d}"))
            if commitlog.read_commit(tdir, v).get("epoch_info"):
                written += b
            else:
                rewritten += b
        live_bytes = sum(
            os.path.getsize(os.path.join(tdir, f["path"]))
            for f in commitlog.read_commit(tdir, cur)["files"]
        )
        d = pipe.table.describe()
        self.layer.update({
            "lake.bytes_written_per_event": (written + rewritten) / max(1, self.events),
            "lake.compaction_bytes_rewritten": float(rewritten),
            "lake.max_delta_generations": float(d["max_delta_generations"]),
            "lake.physical_rows_per_live_row": (d["physical_rows"] or 0) / max(1, live_rows),
            "lake.versions": float(d["version"] + 1),
        })
        return {"stored_bytes_per_row": live_bytes / max(1, live_rows)}


def table_digest(pipe: CdcPipeline) -> str:
    """The oracle's digest of the engine's final table. With normalize on
    the engine's own ``content_sha256`` goes into the digest, so a wrong
    or missing enrichment digest fails the check; with normalize off there
    is no such column and the bodies are hashed here with hashlib, as
    ``oracle.spark_table_digest`` hashes them with ``sha2``. (That function
    frames the same digest but folds one string per row into a quadratic
    concat: 13 s at 37k rows on 4 vCPU, so the rows are digested in pandas.)"""
    df = pipe.table.read()
    if "content_sha256" in df.columns:
        return oracle.table_digest(df.select("repo", "path", "commit", "lang", "content_sha256").toPandas())
    pdf = df.select("repo", "path", "commit", "lang", "content").toPandas()
    pdf["content_sha256"] = [
        hashlib.sha256(c.encode("utf-8")).hexdigest() if isinstance(c, str) else None
        for c in pdf["content"]
    ]
    return oracle.table_digest(pdf)


# ------------------------------------------------------------------ inputs


def next_version(pipe: CdcPipeline) -> int:
    """The version the table's next commit will get."""
    cur = commitlog.current_version(pipe.cfg.table_dir)
    return 0 if cur is None else cur + 1


def epoch_bounds(start: int, size: int, n: int) -> list[tuple[int, int]]:
    return [(start + i * size, start + (i + 1) * size) for i in range(n)]


def timed_setup(run: Run, round_fn) -> None:
    for i in range(SETUP_ROUNDS):
        t0 = time.perf_counter()
        round_fn(i)
        run.setup_rounds.append(time.perf_counter() - t0)
        run.watch.sample()
    run.ops.walls.clear()  # set-up reads count as ops, not as samples


# --------------------------------------------------------------- workloads


def replay_enriched(run: Run, inputs) -> dict:
    """Batch replay with the default pipeline (sha256 + DATS on, JVM writer)."""
    setup_dirs, window_dirs, expected, live_rows = inputs

    def setup_round(i):
        pipe = run.pipeline(f"setup{i}")
        for e, d in enumerate(setup_dirs):
            run.replay_epoch(pipe, d, e, timed=False)
        run.point_read(pipe, gen.repo_name(0), [])
        run.feed_read(pipe, 0)
        run.status(pipe)
        run.scan(pipe)

    timed_setup(run, setup_round)
    return _batch_window(run, run.pipeline("main"), window_dirs, expected, live_rows)


def _batch_window(run: Run, pipe: CdcPipeline, window_dirs, expected, live_rows) -> dict:
    v_from = next_version(pipe)
    probes: dict = {}
    t_win = run.watch.window_start()
    for i, d in enumerate(window_dirs):
        last_from = next_version(pipe)
        run.replay_epoch(pipe, d, i)
        if run.trace:
            run.probe_epoch(d, pipe.cfg, pipe.table.n_buckets, probes)
    run.window_s = time.monotonic() - t_win[2]
    run.host = run.watch.window_end(t_win)
    run.end_reads(pipe, last_from)
    run.check(pipe, expected)
    run.plans_layers()
    run.fold_probes(probes)
    return run.lake_layers(pipe, v_from, live_rows)


class _TimedBody:
    """Duck-typed pipeline handed to ``run_stream``: times the
    ``apply_epoch`` call inside ``foreachBatch`` and keeps its result."""

    def __init__(self, pipe: CdcPipeline):
        self.pipe = pipe
        self.walls: list[float] = []
        self.results: list[dict] = []
        self.first_version = 0  # of the latest trigger's commits

    def apply_epoch(self, batch, epoch_id):
        self.first_version = next_version(self.pipe)
        t0 = time.perf_counter()
        res = self.pipe.apply_epoch(batch, epoch_id)
        self.walls.append(time.perf_counter() - t0)
        self.results.append(res)
        return res


def stream_replication(run: Run, inputs) -> dict:
    """The same log shape through ``run_stream`` (foreachBatch,
    availableNow), normalize off so epochs take the fused sink."""
    setup_log, window_log, expected, live_rows = inputs
    files_per_epoch = LOG.n_parts

    def stream(pipe: CdcPipeline, log_dir: str, name: str) -> tuple[_TimedBody, object]:
        body = _TimedBody(pipe)
        ckpt = run.path("ckpt", name)
        shutil.rmtree(ckpt, ignore_errors=True)
        q = run_stream(run.spark, body, log_dir, ckpt,
                       max_files_per_trigger=files_per_epoch, await_termination=True)
        return body, q

    def setup_round(i):
        pipe = run.pipeline(f"setup{i}", normalize=False)
        run.ops.run("setup_stream", stream, pipe, setup_log, f"setup{i}")
        run.point_read(pipe, gen.repo_name(0), [])
        run.feed_read(pipe, 0)
        run.status(pipe)
        run.scan(pipe)

    timed_setup(run, setup_round)
    pipe = run.pipeline("main", normalize=False)
    t_win = run.watch.window_start()
    out = run.ops.run("stream", stream, pipe, window_log, "main")
    run.window_s = time.monotonic() - t_win[2]
    run.host = run.watch.window_end(t_win)
    run.watch.sample()
    if out is None:
        run.check(pipe, expected)
        return {"stored_bytes_per_row": 0.0}
    body, q = out
    progress = [p for p in q.recentProgress if p.numInputRows > 0]
    # one op per trigger; the query as a whole was counted by ops.run
    run.ops.attempted += len(body.walls) - 1
    run.epoch_walls = [p.durationMs["triggerExecution"] / 1000.0 for p in progress]
    # the file source's share of a trigger: listing offsets, planning the batch
    run.footer_s = [(p.durationMs.get("latestOffset", 0) + p.durationMs.get("getBatch", 0)) / 1000.0
                    for p in progress]
    run.apply_walls = body.walls
    run.epoch_results = body.results
    run.reported_rows = sum(p.numInputRows for p in progress)
    run.epoch_jobs = [run.jobs.jobs_in_group(str(q.runId)) / max(1, len(progress))]
    run.end_reads(pipe, body.first_version)
    run.check(pipe, expected)
    run.plans_layers()
    probes: dict = {}
    if run.trace:
        epochs = sorted(d for d in os.listdir(window_log) if d.startswith("epoch="))
        for d in epochs:
            run.probe_epoch(os.path.join(window_log, d), pipe.cfg, pipe.table.n_buckets, probes)
    run.fold_probes(probes)
    return run.lake_layers(pipe, 0, live_rows)


WORKLOADS = {
    "replay_enriched": replay_enriched,
    "stream_replication": stream_replication,
}
