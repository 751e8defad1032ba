"""investigraph_etl_spark — a from-scratch PySpark-native CDC / incremental-ingest engine.

Re-expresses the semantics of investigativedata/investigraph-etl (reference at
/root/reference: idempotent change-keyed re-ingest, fragment append + merge-by-key,
deterministic keying — see SURVEY.md) as an idiomatic Spark engine:

- a binlog/WAL-style change-event tail (insert/update/delete/upsert) over
  multi-turn transcripts keyed ``(conv_id, turn_idx)``;
- last-writer-wins resolution by ``(ts, seq)`` via a combine-first ``max_by``
  reduce (a salted two-phase reduce when skew salting is asked for);
- key-partitioned MERGE into a transactional, bucketed lake table
  (Iceberg-style commit log on parquet — pure PySpark, no extra jars);
- Structured Streaming micro-batches with exactly-once sink semantics
  (epoch commit-log dedup), resumable from checkpoint;
- additive schema evolution; per-epoch lineage/metrics recorded in the
  epoch's own commit.

Everything is ``pyspark.sql`` DataFrame code; custom row logic only as
vectorized pandas/Arrow UDFs. No RDDs, no per-row Python.
"""

__version__ = "0.1.0"
