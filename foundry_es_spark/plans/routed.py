"""Multi-table routing: one change stream fanned into N sink tables.

The reference dispatches one ingest stream to per-source pipelines
[F-ES: dispatcher/consumers — UNVERIFIED, SURVEY.md §0]; production CDC
systems call this topic routing. Here each route is a predicate over the
event envelope plus its own full `CdcPipeline` (own table, fences,
lineage, dead letters), and an epoch is applied route by route:

- **Exactly-once per route with no cross-table transaction**: each route's
  fence commits atomically with its own data. A crash after route A's
  commit but before route B's leaves A fenced and B not — the epoch's
  retry skips A (`skipped: True`) and lands B exactly once. No two-phase
  commit needed because routes never share a table.
- **Disjointness is the caller's contract** (like Kafka topic routing):
  overlapping predicates simply deliver the event to both tables, which
  is occasionally what you want (e.g. an `all` audit route).
- **Scale shape**: one upstream batch, N filtered plans. Each route's
  epoch body prunes to its own events before the compaction shuffle, so
  total shuffle bytes ≈ one copy of the batch (plus overlap). Routes with
  zero events commit a metadata-only fence (cheap, keeps resume aligned).
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from foundry_es_spark.plans.pipeline import CdcPipeline, PipelineConfig


@dataclass
class Route:
    name: str
    predicate: str          # SQL boolean expression over the event envelope
    table_dir: str
    overrides: dict = field(default_factory=dict)  # per-route PipelineConfig fields


class RoutedPipeline:
    """Fan one event stream into per-route CdcPipelines.

    ``base``: the PipelineConfig template; each route clones it with its
    own table_dir, a derived pipeline_id (``<base>:<route>``), and any
    per-route overrides (e.g. a different compact_threshold for an audit
    table).
    """

    def __init__(self, spark: SparkSession, base: PipelineConfig, routes: list[Route]):
        if len({r.name for r in routes}) != len(routes):
            raise ValueError("route names must be unique")
        self.spark = spark
        self.routes = routes
        self.pipes: dict[str, CdcPipeline] = {
            r.name: CdcPipeline(
                spark,
                replace(
                    base,
                    pipeline_id=f"{base.pipeline_id}:{r.name}",
                    table_dir=r.table_dir,
                    **r.overrides,
                ),
            )
            for r in routes
        }

    def apply_epoch(self, batch: DataFrame, epoch_id: int) -> dict:
        """Apply one epoch to every route. Idempotent per route: on retry,
        already-fenced routes skip and unfenced ones land exactly once.

        Deliberately NO ``offsets_from_footers`` hint here (unlike
        CdcPipeline.replay_event_dir): footer stats describe the UNFILTERED
        epoch, while each route's lineage must record the events IT
        consumed — so every route pays the light filtered pre-scan
        aggregate. Exact per-route lineage over one extra narrow job per
        route is the right trade; a deployment that prefers whole-stream
        offset semantics can pass the hint to the per-route pipelines
        directly."""
        out: dict[str, dict] = {}
        for r in self.routes:
            out[r.name] = self.pipes[r.name].apply_epoch(
                batch.where(F.expr(r.predicate)), epoch_id
            )
        return out

    def replay_event_dir(self, events_dir: str) -> list[dict]:
        """Walk an `epoch=<e>/` event log through every route.

        Resume: epochs fenced by ALL routes are skipped without reading
        their parquet (per-route fences may disagree after a crash between
        route commits — a partially-fenced epoch re-reads and the fenced
        routes skip inside apply_epoch). Schema reuse + per-epoch footer
        fingerprint: same contract as CdcPipeline.replay_event_dir — the
        fixed ~100 ms/epoch inference sweep is pure overhead at 10^4+
        epochs, but an epoch that evolves the shape must re-infer."""
        import os

        from foundry_es_spark.plans.pipeline import _epoch_schema_fingerprint

        epochs = sorted(
            int(d.split("=")[1])
            for d in os.listdir(events_dir)
            if d.startswith("epoch=")
        )
        results = []
        schema = schema_fp = None
        for e in epochs:
            if all(
                p.table.is_epoch_committed(p.cfg.pipeline_id, e)
                for p in self.pipes.values()
            ):
                results.append({"epoch": e, "skipped": True})
                continue
            epoch_dir = os.path.join(events_dir, f"epoch={e}")
            fp = _epoch_schema_fingerprint(epoch_dir)
            reader = self.spark.read
            if schema is not None and fp is not None and fp == schema_fp:
                batch = reader.schema(schema).parquet(epoch_dir)
            else:
                batch = reader.parquet(epoch_dir)
                schema, schema_fp = batch.schema, fp
            results.append({"epoch": e, **self.apply_epoch(batch, e)})
        return results

    def table(self, name: str):
        return self.pipes[name].table
