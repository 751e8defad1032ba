"""Streaming ingest pipeline: readStream over the change-tail landing dir →
foreachBatch(apply_events_batch) → LakeTable MERGE, resumable from checkpoint.

Mapping from the reference's orchestration:

- chunked extract generator + per-chunk task submit
  (/root/reference/investigraph/pipeline.py:113-127, :150-159) → Structured
  Streaming micro-batches (``maxFilesPerTrigger`` is the chunk_size analog,
  default chunk 1,000 records per /root/reference/investigraph/settings.py:44);
- etag/content-checksum change detection (/root/reference/investigraph/logic/
  fetch.py:30-43) → the file-source offset log in the checkpoint dir: a file
  already in the offset log is never re-read;
- task-cache idempotent replay (/root/reference/investigraph/pipeline.py:37-47)
  → foreachBatch ``batch_id`` + the table's commit log: a batch re-delivered
  after a crash finds its ``(app_id, epoch_id)`` token committed and is skipped
  — end-to-end exactly-once.

Late data: no watermark is needed for correctness — LWW-by-(ts, seq) is
commutative and idempotent, so a late event merges correctly whenever it
arrives (it simply loses to any newer stamp). The engine never holds
aggregation state in the Spark state store; all state is the table + commit
log, which is what makes kill-and-resume trivial.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQuery

from investigraph_etl_spark.cdc.apply import apply_events_batch
from investigraph_etl_spark.cdc.events import CHANGE_EVENT_SCHEMA
from investigraph_etl_spark.lake.table import LakeTable
from investigraph_etl_spark.profiling import phase


@dataclass
class IngestPipeline:
    """One streaming query owning one LakeTable (single-writer discipline)."""

    spark: SparkSession
    events_dir: str
    table_root: str
    checkpoint_dir: str
    app_id: str = "cdc-ingest"
    fmt: str = "parquet"
    event_schema: T.StructType = field(default_factory=lambda: CHANGE_EVENT_SCHEMA)
    max_files_per_trigger: int | None = None
    n_salts: int | None = None
    #: e.g. "1 hour": drop re-delivered events (same binlog ``seq``) inside the
    #: watermark window BEFORE the sink, using Spark's bounded dedup state
    #: (``dropDuplicatesWithinWatermark``). Optional: exactly-once holds
    #: without it (commit-log dedup + idempotent LWW MERGE); this just saves
    #: sink work when the source is noisily at-least-once. Late events are
    #: still APPLIED (only duplicate seqs are dropped) — LWW is
    #: order-insensitive, so correctness never depends on the watermark.
    dedup_within_watermark: str | None = None
    results: list[dict[str, Any]] = field(default_factory=list)

    def _reader(self):
        reader = (
            self.spark.readStream.format(self.fmt)
            .schema(self.event_schema)
            # New columns appear in later files (additive evolution); the
            # stream schema is fixed per query — evolved runs pass the widened
            # schema here and old files read the new columns as null.
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        stream = reader.load(self.events_dir)
        if self.dedup_within_watermark:
            stream = stream.withWatermark(
                "ts", self.dedup_within_watermark
            ).dropDuplicatesWithinWatermark(["seq"])
        return stream

    @property
    def commit_token(self) -> str:
        """Identity under which epochs are recorded in the table's commit log.

        foreachBatch batch ids are only unique WITHIN one checkpoint lineage —
        a fresh checkpoint restarts at 0 with different batch content. Binding
        the token to the checkpoint dir makes (token, epoch_id) globally
        unambiguous: same checkpoint restart → same token → dedup; new
        checkpoint → new token → events re-applied (harmless, LWW idempotent).
        """
        import hashlib

        h = hashlib.sha1(os.path.abspath(self.checkpoint_dir).encode()).hexdigest()[:8]
        return f"{self.app_id}@{h}"

    def _apply(self, batch_df: DataFrame, batch_id: int) -> None:
        with phase("epoch"):
            with phase("table_load"):
                table = LakeTable.load(self.spark, self.table_root)
            res = apply_events_batch(
                table, batch_df, app_id=self.commit_token, epoch_id=batch_id,
                n_salts=self.n_salts,
            )
        self.results.append(res)

    def run_available_now(self) -> list[dict[str, Any]]:
        """Drain everything currently in the landing dir, then stop (replay mode).

        Resumable: offsets live in checkpoint_dir; epochs already MERGEd are
        skipped via the commit log even if the checkpoint lags the table.
        """
        q = (
            self._reader()
            .writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
        return self.results

    def start_tail(self, processing_time: str = "5 seconds") -> StreamingQuery:
        """Continuous tail-following mode (long-running deployment)."""
        return (
            self._reader()
            .writeStream.foreachBatch(self._apply)
            .option("checkpointLocation", self.checkpoint_dir)
            .trigger(processingTime=processing_time)
            .start()
        )
