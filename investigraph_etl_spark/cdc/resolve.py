"""Last-writer-wins reduce: N change events per key → 1 winning event per key.

This is the Spark replacement for the reference's two merge layers:
- map-side partial merge (``TaskContext.emit`` id-dict,
  /root/reference/investigraph/model/context.py:128-137) → Spark's partial
  hash aggregation (automatic) and, under extreme key skew, the explicit
  salted phase-1 below;
- final merge-by-id (/root/reference/investigraph/logic/aggregate.py:68-75)
  → ``groupBy(key).agg(max_by(event, (ts, seq)))``.

Conflict resolution is LWW by ``(ts, seq)`` (strictly ordered, ties impossible
because seq is unique), replacing the reference's union-of-values merge
(/root/reference/investigraph/logic/aggregate.py:25-28) per the north-star
semantics. Everything is declarative Catalyst aggregation — whole-stage
codegen, partial agg map-side, spill-safe — no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from investigraph_etl_spark.cdc.events import KEY_COLS

#: Event columns that are never payload.
_EVENT_META = {"op", *KEY_COLS, "ts", "seq"}


def event_payload_cols(
    events: DataFrame, key_cols: tuple[str, ...] = KEY_COLS
) -> list[str]:
    """Payload columns of an event batch = everything that isn't key/op/ts/seq.

    This is how additive schema evolution enters the engine: new columns in the
    tail simply show up here (reference analog: mappings tolerate extra record
    keys, /root/reference/investigraph/model/mapping.py:9-29).
    """
    meta = {"op", *key_cols, "ts", "seq"}
    return [c for c in events.columns if c not in meta]


def resolve_lww(
    events: DataFrame,
    n_salts: int | None = None,
    key_cols: tuple[str, ...] = KEY_COLS,
    with_count: bool = False,
) -> DataFrame:
    """Reduce an event batch to one winning event per ``(conv_id, turn_idx)``.

    Output columns: conv_id, turn_idx, op, <payload...>, ts, seq — where op/
    payload/ts/seq come from the event with the greatest ``(ts, seq)`` stamp,
    picked by ``max_by(struct(event), struct(ts, seq))``. The struct
    aggregation buffer plans as SortAggregate with a partial (map-side) step,
    so shuffle volume is one row per key per map task.

    ``n_salts``: when set, a salted two-phase reduce — phase 1 groups by
    ``(key, pmod(xxhash64(seq), n_salts))`` so a hot key's events spread over
    ``n_salts`` reducers, phase 2 merges the ≤n_salts survivors per key. Spark's
    partial (map-side) aggregation already bounds shuffle volume to one row per
    key per map task, so salting only pays when a single key floods single map
    tasks too (e.g. a hot conv re-written millions of times in one epoch);
    benchmarked in bench.py, configurable per deployment.

    ``with_count`` adds ``_cnt``, the number of events folded into each
    winner (the per-bucket lineage derives from it).
    """
    payload = event_payload_cols(events, key_cols)
    # The candidate row travels inside the aggregate as one struct; max_by keeps
    # partial aggregation (no window, no global sort).
    # Expressions are built as SQL strings (one parse each, ~3 py4j calls
    # total) — this runs once per micro-batch and Column-op construction was
    # a measurable slice of the per-epoch serial driver floor.
    cols = ", ".join(["op", *[f"`{c}`" for c in payload], "ts", "seq"])
    win = F.expr(f"max_by(struct({cols}), struct(ts, seq))").alias("w")
    cnt = F.expr("count(1)").alias("_cnt")

    if n_salts and n_salts > 1:
        salt = F.expr(f"pmod(xxhash64(seq), {int(n_salts)})").alias("_salt")
        local = events.groupBy(*key_cols, salt).agg(win, cnt)
        # Phase 2: re-aggregate the per-salt winners; stamp lives inside w.
        resolved = local.groupBy(*key_cols).agg(
            F.expr("max_by(w, struct(w.ts, w.seq))").alias("w"),
            F.expr("sum(_cnt)").alias("_cnt"),
        )
    else:
        resolved = events.groupBy(*key_cols).agg(win, cnt)

    return resolved.selectExpr(
        *key_cols,
        "w.op as op",
        *[f"w.`{c}` as `{c}`" for c in payload],
        "w.ts as ts",
        "w.seq as seq",
        # events folded into this winner — per-bucket lineage derives from it
        # for free instead of a second full-batch aggregation.
        *(["_cnt"] if with_count else []),
    )
