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

Crash consistency: the quarantine rows and the ``_metrics`` sidecar are
written INSIDE the merge's pre-commit hook — after the data write, before the
commit-log append. Once the (app_id, epoch_id) token is committed a retry is
skipped, so anything written after the commit would be lost forever on a
crash between the two; anything written before is made idempotent instead
(quarantine = per-epoch overwrite directory, metrics = deterministic
per-epoch filename) so a retry after a crash-before-commit converges.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from investigraph_etl_spark import storage
from investigraph_etl_spark.cdc.events import canonicalize_events
from investigraph_etl_spark.cdc.resolve import resolve_lww
from investigraph_etl_spark.lake.table import LakeTable, _bucket_expr, _physical_key

_METRICS_DIR = "_metrics"
_QUARANTINE_DIR = "_quarantine"

#: Max n_buckets for which per-bucket lineage rides the write job as an
#: Observation (3 conditional aggregates per bucket in one CollectMetrics
#: node). Wider tables fall back to a separate lineage aggregation action —
#: plan width, not data volume, is the constraint.
OBS_LINEAGE_MAX_BUCKETS = 64


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

    Returns commit metrics. Per-bucket lineage (events applied, conflicts
    resolved = events beyond one per key, watermark position = max ts) is
    appended to the `_metrics` sidecar; malformed events land in
    `_quarantine` (never abort the epoch — reference swallows per-record
    errors, /root/reference/investigraph/pipeline.py:89-94).
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
        result = _apply_mor_one_action(
            table, st, resolved, canon, obs, app_id, epoch_id
        )
    else:
        result = _apply_two_action(
            table, st, resolved, canon, obs, app_id, epoch_id
        )
    if not result.get("skipped"):
        result["n_salts_used"] = int(n_salts or 0)
    return result


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
        parts.append(f"max(CASE WHEN bucket = {b} THEN ts END) AS wm_{b}")
    return F.expr(f"struct({', '.join(parts)})").alias("lin")


def _apply_mor_one_action(
    table, st, resolved, canon, obs, app_id, epoch_id
) -> dict[str, Any]:
    """MOR epoch in ONE Spark action (see module docstring): both
    Observations complete with the write; touched buckets come from the
    written paths; quarantine + metrics + commit metrics all happen in the
    merge's pre-commit hook so they are durable before the epoch token is."""
    lin = Observation(f"lineage-{epoch_id}")
    bucketed = resolved.withColumn(
        "bucket", _bucket_expr(st.n_buckets, _physical_key(st))
    ).observe(lin, _lineage_agg(st.n_buckets))
    side: dict[str, Any] = {}

    def pre_commit() -> dict[str, Any]:
        vals = lin.get["lin"]
        rows = [
            (b, int(vals[f"ea_{b}"]), int(vals[f"ea_{b}"]) - int(vals[f"nk_{b}"]), vals[f"wm_{b}"])
            for b in range(st.n_buckets)
            if vals[f"nk_{b}"]
        ]
        per_bucket = pd.DataFrame(
            rows, columns=["bucket", "events_applied", "conflicts_resolved", "watermark_pos"]
        )
        n_quar = int((obs.get or {}).get("n_quar") or 0)
        if n_quar:  # rare second job: recompute the canonical rows' reject side
            _write_quarantine(table, canon, app_id, epoch_id)
        _write_metrics(table, epoch_id, per_bucket, n_quar)
        n_events = int(per_bucket["events_applied"].sum()) if len(per_bucket) else 0
        n_keys = sum(int(vals[f"nk_{b}"] or 0) for b in range(st.n_buckets))
        share = (
            float(per_bucket["events_applied"].max() / n_events)
            if n_events else 0.0
        )
        side.update({
            "events_applied": n_events,
            "events_quarantined": n_quar,
            "max_bucket_share": share,
        })
        return {
            "events_applied": n_events,
            "events_quarantined": n_quar,
            "conflicts_resolved": n_events - n_keys,
        }

    result = table.merge(
        bucketed.drop("_cnt", "bucket"),
        app_id=app_id,
        epoch_id=epoch_id,
        extra_metrics=pre_commit,
    )
    if not result.get("skipped"):
        result.update(side)
        result["plan_shape"] = "combine"
    return result


def _apply_two_action(
    table, st, resolved, canon, obs, app_id, epoch_id
) -> dict[str, Any]:
    """COW (touched set must precede the write) and wide-bucket MOR: cache
    the resolve, run the small per-bucket lineage aggregation, then MERGE."""
    resolved = resolved.cache()
    try:
        per_bucket = (
            resolved.withColumn("bucket", _bucket_expr(st.n_buckets, _physical_key(st)))
            .groupBy("bucket")
            .agg(
                F.sum("_cnt").alias("events_applied"),
                (F.sum("_cnt") - F.count(F.lit(1))).alias("conflicts_resolved"),
                F.max("ts").alias("watermark_pos"),
            )
            .toPandas()
        )
        n_events = int(per_bucket["events_applied"].sum()) if len(per_bucket) else 0
        touched = [int(b) for b in per_bucket["bucket"]]
        n_quar = int((obs.get or {}).get("n_quar") or 0)

        def pre_commit() -> dict[str, Any]:
            if n_quar:
                _write_quarantine(table, canon, app_id, epoch_id)
            _write_metrics(table, epoch_id, per_bucket, n_quar)
            return {
                "events_applied": n_events,
                "events_quarantined": n_quar,
                "conflicts_resolved": int(per_bucket["conflicts_resolved"].sum())
                if len(per_bucket)
                else 0,
            }

        result = table.merge(
            resolved.drop("_cnt"),
            app_id=app_id,
            epoch_id=epoch_id,
            touched=touched,
            extra_metrics=pre_commit,
        )
        share = (
            float(per_bucket["events_applied"].max() / n_events)
            if n_events else 0.0
        )
        result.update({
            "events_applied": n_events,
            "events_quarantined": n_quar,
            "max_bucket_share": share,
            "plan_shape": "two_action",
        })
        return result
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


def _write_metrics(
    table: LakeTable, epoch_id: int, per_bucket: pd.DataFrame, n_quar: int
) -> None:
    out = per_bucket.copy()
    if len(out) == 0:
        out = pd.DataFrame(
            {"bucket": pd.array([], dtype="int32"),
             "events_applied": pd.array([], dtype="int64"),
             "conflicts_resolved": pd.array([], dtype="int64"),
             "watermark_pos": pd.array([], dtype="datetime64[us]")}
        )
    if n_quar:
        quar_row = pd.DataFrame(
            {"bucket": [-1], "events_applied": [0], "conflicts_resolved": [0],
             "watermark_pos": [pd.NaT]}
        )
        out = pd.concat([out, quar_row], ignore_index=True)
    out.insert(0, "epoch_id", epoch_id)
    # the quarantine count rides the sentinel bucket=-1 row appended above
    # (scalar 0 broadcasts to every row when nothing was quarantined)
    out["events_quarantined"] = ([0] * (len(out) - 1) + [n_quar]) if n_quar else 0
    # Spark's parquet reader rejects TIMESTAMP(NANOS); pin to micros.
    out["watermark_pos"] = out["watermark_pos"].astype("datetime64[us]")
    table.fs.put_parquet(
        storage.join(table.root, _METRICS_DIR, f"epoch-{epoch_id:010d}.parquet"), out
    )


def read_metrics(table: LakeTable) -> DataFrame:
    """The `_metrics` sidecar as a DataFrame (per epoch × bucket lineage)."""
    return table.spark.read.parquet(storage.join(table.root, _METRICS_DIR))
