"""foundry_es_spark — a brand-new PySpark-native CDC / incremental-ingest engine.

Re-expresses the capabilities of biocaddie/Foundry-ES's ingest→enhance→
transform pipeline (SURVEY.md; reference mount empty at survey time, see
SURVEY.md §0) as idiomatic Spark:

- a binlog/WAL-style change stream of source-code repository rows
  ``(repo, path, commit, lang, content)`` replayed as Structured Streaming
  micro-batches (or bounded batch replay),
- per-key latest-wins compaction + op folding (the reference's
  duplicate/update check re-expressed as one sorted Arrow pass over the
  sink's write layout),
- DATS-style metadata normalization as vectorized pandas/Arrow UDFs
  (never per-row Python),
- MERGE-INTO-equivalent upserts keyed on ``(repo, path)`` into an
  Iceberg-semantics lake table (LocalLakeBackend when no Iceberg runtime
  jar is present — SURVEY.md §4.4),
- epoch-fenced exactly-once commits with per-partition offsets, lineage
  and metrics tables, resumable from checkpoint,
- add / rename / type-widen schema evolution on the normalized columns,
- adaptive hot-bucket salting (buckets hot in the previous epoch spread
  over more compaction tasks) against shuffle skew.
"""

__version__ = "0.1.0"
