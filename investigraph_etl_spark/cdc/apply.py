"""Epoch apply: raw event micro-batch → normalize → LWW resolve → MERGE + metrics.

One call = one micro-batch (the streaming loop's foreachBatch body, also usable
for batch backfills). The reference analog is one transform+load task pair per
chunk (/root/reference/investigraph/pipeline.py:150-159) plus the stats
collector (/root/reference/investigraph/pipeline.py:49-53) — here the whole
chunk is one declarative plan and metrics come from the same pass.

Job budget per epoch (what a 10^10-event deployment pays per micro-batch):

- **MOR (the high-rate ingest mode): ONE Spark action.** scan → canonicalize
  → LWW resolve → append the resolved generation. Everything else rides that
  action as ``Observation``s: the quarantine count on the canonical rows and
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


#: Fused one-exchange epochs pay the LWW reduce AFTER the shuffle, losing
#: map-side combine. Measured crossover on the bench tail: at duplication
#: ~12× (events per key) the combine-first two-exchange shape wins 1.2-1.4×
#: at every parallelism level; at ~1× fused wins (half the shuffled bytes).
#: The pipeline feeds back each epoch's measured duplication (it is in the
#: lineage for free); below this threshold the next epoch runs fused.
FUSE_DUP_MAX = 2.0

#: The fused exchange partitions by conv_id, so one red-hot conversation
#: serializes its whole bucket into one task. The per-bucket lineage gives
#: the previous epoch's hottest-bucket share for free; at or above this
#: share the epoch stays on the combine-first shape, whose first exchange
#: spreads by (conv, turn) and whose write can additionally fan out
#: (LakeTable.write_fanout).
FUSE_SKEW_MAX = 0.25

#: A single red-hot KEY (one (conv, turn) re-written over and over inside
#: one epoch) is harmless to the COMBINE-FIRST shape: partial (map-side)
#: aggregation hands the reducer at most one row per key per map task, and
#: fold work is proportional to ROWS regardless of key concentration — so
#: spreading the key further with the salted two-phase reduce only buys a
#: second exchange (measured, bench.py --skew keyflood rows, like-for-like
#: epochs: a 50%-one-key tail runs 2x FASTER than uniform unsalted — the
#: reduce collapses half the batch map-side — and FORCING n_salts=8 on it
#: costs 1.4-1.6x). The FUSED one-exchange shape is the opposite: it has no
#: map-side combine, so a flooded key's whole share folds in ONE task.
#: The previous epoch's lineage gives the hottest-key share for free
#: (max(_cnt) / events); at or above this share the next epoch VETOES the
#: fused shape. This is a sharper signal than FUSE_SKEW_MAX's bucket share
#: (a bucket hot from many medium keys still spreads inside the fused
#: task's fold; a flooded KEY cannot), and it covers the window where the
#: flood is big enough to serialize a fused task but the bucket share
#: stays under the skew gate. Salting itself (resolve_lww n_salts) remains
#: the manual knob for deployments whose aggregation shape lacks combine.
FUSE_FLOOD_MAX = 0.2


def apply_events_batch(
    table: LakeTable,
    raw_events: DataFrame,
    app_id: str,
    epoch_id: int,
    n_salts: int | None = None,
    dup_hint: float | None = None,
    skew_hint: float | None = None,
    flood_hint: float | None = None,
) -> dict[str, Any]:
    """Apply one raw event micro-batch to the table, exactly once.

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

    mor_fast = st.mode == "mor" and st.n_buckets <= OBS_LINEAGE_MAX_BUCKETS
    # Fused one-exchange epoch (MOR, unsalted, low-duplication): pre-partition
    # the reduce by conv_id into a width dividing n_buckets, so the SAME
    # exchange serves the LWW aggregation AND routes every bucket wholly into
    # one write task (murmur3 identity, lake/table.py _bucket_sql) — removes
    # the second full-payload shuffle. The trade: the reduce happens after
    # the exchange, so map-side combine is lost; on high-duplication tails
    # the default combine-first shape shuffles ~dup× fewer rows and wins
    # (see FUSE_DUP_MAX). Unknown duplication → combine-first.
    # The env knob is consulted only when the fused shape is a candidate at
    # all (MOR, unsalted): a COW/salted pipeline must not die on a knob that
    # cannot apply to it, and a fleet with heterogeneous n_buckets can set
    # the knob without aborting the tables it doesn't divide (those warn
    # once and fall back to the heuristic).
    fw_set, fw = (
        _parse_fused_width_env(st.n_buckets) if mor_fast and not n_salts
        else (False, None)
    )
    fuse = mor_fast and not n_salts and (
        fw is not None if fw_set
        else (
            dup_hint is not None and dup_hint < FUSE_DUP_MAX
            and (skew_hint is None or skew_hint < FUSE_SKEW_MAX)
            and (flood_hint is None or flood_hint < FUSE_FLOOD_MAX)
        )
    )
    pre_parts = (fw if fw_set else _fused_width(table.spark, st.n_buckets)) if fuse else None
    resolved = resolve_lww(
        valid, n_salts=n_salts, with_count=True, pre_partition=pre_parts
    )

    if mor_fast:
        result = _apply_mor_one_action(
            table, st, resolved, canon, obs, app_id, epoch_id,
            aligned_parts=pre_parts,
        )
    else:
        result = _apply_two_action(
            table, st, resolved, canon, obs, app_id, epoch_id
        )
    if not result.get("skipped"):
        result["n_salts_used"] = int(n_salts or 0)
    return result


def _parse_fused_width_env(n_buckets: int) -> tuple[bool, int | None]:
    """Parse ``SPARK_GRAFT_FUSED_WIDTH`` ONCE, defensively (round-4 advice:
    the knob used to be parsed at two sites, raised bare ValueError inside
    the micro-batch on non-integers, and silently paid a double exchange on
    widths that don't divide ``n_buckets``). Returns ``(set, width)``:
    unset/blank → ``(False, None)`` (heuristic decides); ``0`` or negative →
    ``(True, None)`` = fused shape disabled; a positive divisor of
    ``n_buckets`` → ``(True, w)`` = fused shape forced at that width.

    Invalid values (non-integer, or a width that doesn't divide this
    table's ``n_buckets``) WARN once per process and fall back to the
    heuristic — a tuning knob must never kill a running stream, and one
    fleet-wide setting may legitimately not divide every table's bucket
    count."""
    import os
    import warnings

    raw = os.environ.get("SPARK_GRAFT_FUSED_WIDTH")
    if raw is None or not raw.strip():
        return False, None
    try:
        w = int(raw.strip())
    except ValueError:
        _warn_once(
            warnings,
            f"ignoring SPARK_GRAFT_FUSED_WIDTH={raw!r}: not an integer "
            "(0 disables the fused epoch shape; a positive divisor of "
            "n_buckets forces it) — falling back to the adaptive heuristic",
        )
        return False, None
    if w <= 0:
        return True, None
    if n_buckets % w:
        _warn_once(
            warnings,
            f"ignoring SPARK_GRAFT_FUSED_WIDTH={w} for this table: it does "
            f"not divide n_buckets={n_buckets} (the fused epoch needs the "
            "write width to divide the bucket count, murmur3 partition "
            "identity) — falling back to the adaptive heuristic",
        )
        return False, None
    return True, w


_WARNED: set[str] = set()


def _warn_once(warnings_mod, msg: str) -> None:
    if msg not in _WARNED:
        _WARNED.add(msg)
        warnings_mod.warn(msg, stacklevel=3)


def _fused_width(spark, n_buckets: int) -> int | None:
    """Reduce/write width for the fused epoch: the largest divisor of
    ``n_buckets`` within 2× the cluster's cores — a write task carries
    ~35-40 ms of fixed overhead (measured, scripts/analyze_stages.py), so a
    small deployment must not pay n_buckets tasks per micro-batch, while on
    a real cluster (cores >> n_buckets) this returns n_buckets unchanged =
    full per-bucket parallelism. None (fall back to the two-exchange shape)
    when bucket count and core count are mutually prime enough that the
    divisor would under-use the machine. (The SPARK_GRAFT_FUSED_WIDTH
    override is handled by the caller via _parse_fused_width_env — this
    function is pure heuristic.)"""
    cores = spark.sparkContext.defaultParallelism
    bound = max(1, 2 * cores)
    if n_buckets <= bound:
        return n_buckets
    best = max((d for d in range(1, bound + 1) if n_buckets % d == 0), default=1)
    return best if best >= min(cores, n_buckets) else None


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
    # hottest single KEY's fold count — feeds the fused-shape flood veto
    parts.append("max(_cnt) AS mc")
    return F.expr(f"struct({', '.join(parts)})").alias("lin")


def _apply_mor_one_action(
    table, st, resolved, canon, obs, app_id, epoch_id, aligned_parts=None
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
            "max_key_flood": (
                float(int(vals["mc"] or 0)) / n_events if n_events else 0.0
            ),
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
        aligned_parts=aligned_parts,
    )
    if not result.get("skipped"):
        result.update(side)
        result["plan_shape"] = "fused" if aligned_parts else "combine"
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
                F.max("_cnt").alias("_max_cnt"),
            )
            .toPandas()
        )
        max_cnt = int(per_bucket["_max_cnt"].max()) if len(per_bucket) else 0
        per_bucket = per_bucket.drop(columns=["_max_cnt"])
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
            "max_key_flood": max_cnt / n_events if n_events else 0.0,
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
