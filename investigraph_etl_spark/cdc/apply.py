"""Epoch apply: raw event micro-batch → normalize → LWW resolve → MERGE + metrics.

One call = one micro-batch (the streaming loop's foreachBatch body, also usable
for batch backfills). The reference analog is one transform+load task pair per
chunk (/root/reference/investigraph/pipeline.py:150-159) plus the stats
collector (/root/reference/investigraph/pipeline.py:49-53) — here the whole
chunk is one declarative plan and metrics come from the same pass.

Job budget per epoch (what a 10^10-event deployment pays per micro-batch):

- **MOR (the high-rate ingest mode): ONE Spark action.** scan → canonicalize
  → LWW resolve (combine-first ``max_by``: partial aggregation, then the
  key exchange) → the write's bucket exchange → append the resolved
  generation. Every epoch runs this same plan, whatever its input's
  duplication or skew. Everything else rides that action as
  ``Observation``s: the quarantine count on the canonical rows and
  the full per-bucket lineage (events applied / conflicts / watermark) as
  3 × n_buckets conditional aggregates on the resolved rows (plan-width
  bounded by ``OBS_LINEAGE_MAX_BUCKETS``; wider tables fall back to the
  two-action shape below). Touched buckets come free from the written file
  paths. No cache, no separate lineage job, no distinct-buckets job — this
  is what makes the per-epoch serial floor a constant few hundred ms.
- **COW**: the touched-bucket set must be known BEFORE the write (it decides
  which existing files are read and rewritten), so the resolve is cached and
  a small per-bucket aggregation runs first (action 1), then the MERGE
  (action 2).
- (only if quarantined > 0) one extra write of the quarantine rows.

Durable record: the epoch's totals and its per-bucket lineage go into the
metrics of the epoch's own commit, so they are published atomically with the
``(app_id, epoch_id)`` token — an epoch that never commits shows no lineage,
and a committed one always does. ``read_metrics`` reads them back from the
commit log. The quarantine rows are the one sidecar: they are written inside
the merge's pre-commit hook (after the data write, before the commit-log
append) to a per-epoch overwrite directory, so a retry after a crash before
the commit rewrites the same directory instead of duplicating rows, and a
crash after it cannot lose them.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F
from pyspark.sql import types as T

from investigraph_etl_spark import storage
from investigraph_etl_spark.cdc.events import canonicalize_events
from investigraph_etl_spark.cdc.resolve import resolve_lww
from investigraph_etl_spark.lake.table import LakeTable, _bucket_expr, _physical_key

_QUARANTINE_DIR = "_quarantine"

#: Max n_buckets for which per-bucket lineage rides the write job as an
#: Observation (3 conditional aggregates per bucket in one CollectMetrics
#: node). Wider tables fall back to a separate lineage aggregation action —
#: plan width, not data volume, is the constraint.
OBS_LINEAGE_MAX_BUCKETS = 64

_LINEAGE_COLS = ("bucket", "events_applied", "conflicts_resolved", "watermark_pos")


def apply_events_batch(
    table: LakeTable,
    raw_events: DataFrame,
    app_id: str,
    epoch_id: int,
    n_salts: int | None = None,
) -> dict[str, Any]:
    """Apply one raw event micro-batch to the table, exactly once.

    The epoch plan is fixed: a combine-first ``max_by`` resolve (partial
    aggregation map-side, so a flooded key reaches the reducer as at most
    one row per map task), then the write's own bucket exchange.
    ``n_salts`` switches the resolve to the salted two-phase reduce — the
    manual skew knob (see ``resolve_lww``).

    Returns the merge's result: the commit version plus the metrics the
    commit records (see ``_epoch_metrics``), including the per-bucket
    lineage (events applied, conflicts resolved = events beyond one per key,
    watermark = max ts, in microseconds since the Unix epoch). Malformed events land in
    `_quarantine` (never abort the epoch — reference swallows per-record
    errors, investigraph pipeline.py:89-94).
    """
    st = table._state()
    if (app_id, epoch_id) in st.committed_epochs:
        return {"skipped": True, "reason": "epoch already committed", "version": st.version}

    canon = canonicalize_events(raw_events)
    obs = Observation(f"epoch-{epoch_id}")
    canon = canon.observe(
        obs, F.sum(F.when(F.col("_valid"), 0).otherwise(1)).alias("n_quar")
    )
    valid = canon.filter(F.col("_valid")).drop("_valid")
    resolved = resolve_lww(valid, n_salts=n_salts, with_count=True)

    if st.mode == "mor" and st.n_buckets <= OBS_LINEAGE_MAX_BUCKETS:
        apply = _apply_mor_one_action
    else:
        apply = _apply_two_action

    def finish(rows: list[tuple[int, int, int, int]], plan_shape: str) -> dict[str, Any]:
        """Pre-commit hook tail shared by both paths: land the quarantine
        rows (rare second job) and build the commit's metrics."""
        n_quar = int((obs.get or {}).get("n_quar") or 0)
        if n_quar:
            _write_quarantine(table, canon, app_id, epoch_id)
        return _epoch_metrics(rows, n_quar, plan_shape, n_salts)

    return apply(table, st, resolved, app_id, epoch_id, finish)


def _epoch_metrics(
    rows: list[tuple[int, int, int, int]],
    n_quar: int,
    plan_shape: str,
    n_salts: int | None,
) -> dict[str, Any]:
    """Per-bucket ``(bucket, events_applied, conflicts_resolved, watermark)``
    rows → the commit's metrics: epoch totals, the hottest bucket's share of
    the epoch, the plan facts, and the lineage as columnar lists. Every
    value is a JSON int/float/str (the watermark is ``unix_micros``)."""
    rows = sorted(rows)
    cols = [list(c) for c in zip(*rows)] if rows else [[], [], [], []]
    applied = cols[1]
    n_events = sum(applied)
    return {
        "events_applied": n_events,
        "events_quarantined": n_quar,
        "conflicts_resolved": sum(cols[2]),
        "max_bucket_share": max(applied) / n_events if n_events else 0.0,
        "plan_shape": plan_shape,
        "n_salts_used": int(n_salts or 0),
        "lineage": dict(zip(_LINEAGE_COLS, cols)),
    }


def _lineage_agg(n_buckets: int):
    """Per-bucket lineage as ONE struct of 3 × n_buckets conditional
    aggregates, built from a single SQL string. One ``F.expr`` call instead of
    ~6 py4j round-trips per aggregate — at 32 buckets that is the difference
    between ~0.3 s and ~1 ms of driver time PER EPOCH (the per-epoch serial
    floor is exactly what the scaling criterion punishes)."""
    parts = []
    for b in range(n_buckets):
        parts.append(f"sum(CASE WHEN bucket = {b} THEN _cnt END) AS ea_{b}")
        parts.append(f"count(CASE WHEN bucket = {b} THEN 1 END) AS nk_{b}")
        parts.append(f"unix_micros(max(CASE WHEN bucket = {b} THEN ts END)) AS wm_{b}")
    return F.expr(f"struct({', '.join(parts)})").alias("lin")


def _apply_mor_one_action(table, st, resolved, app_id, epoch_id, finish) -> dict[str, Any]:
    """MOR epoch in ONE Spark action (see module docstring): both
    Observations complete with the write; touched buckets come from the
    written paths; the lineage is read off the Observation in the merge's
    pre-commit hook and lands in the commit."""
    lin = Observation(f"lineage-{epoch_id}")
    bucketed = resolved.withColumn(
        "bucket", _bucket_expr(st.n_buckets, _physical_key(st))
    ).observe(lin, _lineage_agg(st.n_buckets))

    def pre_commit() -> dict[str, Any]:
        vals = lin.get["lin"]
        rows = [
            (b, vals[f"ea_{b}"], vals[f"ea_{b}"] - vals[f"nk_{b}"], vals[f"wm_{b}"])
            for b in range(st.n_buckets)
            if vals[f"nk_{b}"]
        ]
        return finish(rows, "combine")

    return table.merge(
        bucketed.drop("_cnt", "bucket"),
        app_id=app_id,
        epoch_id=epoch_id,
        extra_metrics=pre_commit,
    )


def _apply_two_action(table, st, resolved, app_id, epoch_id, finish) -> dict[str, Any]:
    """COW (touched set must precede the write) and wide-bucket MOR: cache
    the resolve, run the small per-bucket lineage aggregation, then MERGE."""
    resolved = resolved.cache()
    try:
        rows = [
            tuple(r)
            for r in resolved.withColumn(
                "bucket", _bucket_expr(st.n_buckets, _physical_key(st))
            )
            .groupBy("bucket")
            .agg(
                F.sum("_cnt"),
                F.sum("_cnt") - F.count(F.lit(1)),
                F.expr("unix_micros(max(ts))"),
            )
            .collect()
        ]
        return table.merge(
            resolved.drop("_cnt"),
            app_id=app_id,
            epoch_id=epoch_id,
            touched=[r[0] for r in rows],
            extra_metrics=lambda: finish(rows, "two_action"),
        )
    finally:
        resolved.unpersist()


def _write_quarantine(table: LakeTable, canon: DataFrame, app_id: str, epoch_id: int) -> None:
    """Land the epoch's rejected rows under a per-epoch directory with
    overwrite mode: a crash-before-commit retry rewrites the same directory
    instead of appending duplicates (the append-mode layout could not be
    replayed idempotently)."""
    canon.filter(~F.col("_valid")).drop("_valid").write.mode("overwrite").parquet(
        storage.join(table.root, _QUARANTINE_DIR, f"epoch-{app_id}-{epoch_id:010d}")
    )


def read_quarantine(table: LakeTable) -> DataFrame:
    """The `_quarantine` sidecar as one DataFrame (all epochs' rejected rows;
    the per-epoch directory layout is an idempotency detail, hidden here)."""
    path = storage.join(table.root, _QUARANTINE_DIR)
    return table.spark.read.option("recursiveFileLookup", "true").parquet(path)


_METRICS_SCHEMA = T.StructType([
    T.StructField("app_id", T.StringType()),
    T.StructField("version", T.LongType()),
    T.StructField("epoch_id", T.LongType()),
    T.StructField("bucket", T.IntegerType()),
    T.StructField("events_applied", T.LongType()),
    T.StructField("conflicts_resolved", T.LongType()),
    T.StructField("watermark_pos", T.LongType()),
    T.StructField("events_quarantined", T.LongType()),
])


def read_metrics(table: LakeTable) -> DataFrame:
    """Per epoch × bucket lineage, read from the commit log: one row per
    bucket an epoch touched, plus a ``bucket = -1`` row carrying the epoch's
    quarantine count when it is non-zero. ``app_id`` and ``version`` name
    the commit, so two writers' epoch 0 stay apart. Only committed epochs
    appear. Commits written before lineage moved into the commit carry none
    and yield no rows; an old ``_metrics/`` parquet directory is left on
    disk and not read."""
    rows = []
    for c in table.log.walk():
        lineage = c.metrics.get("lineage")
        if lineage is None:
            continue
        head = (c.app_id, c.version, c.epoch_id)
        rows += [(*head, *r, 0) for r in zip(*(lineage[k] for k in _LINEAGE_COLS))]
        if c.metrics["events_quarantined"]:
            rows.append((*head, -1, 0, 0, None, c.metrics["events_quarantined"]))
    return table.spark.createDataFrame(rows, _METRICS_SCHEMA).withColumn(
        "watermark_pos", F.timestamp_micros("watermark_pos")
    )
