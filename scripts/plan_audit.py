"""Dump `.explain("formatted")` physical plans for the engine's load-bearing
queries into PLANS.md, with the scale-relevant facts to check for each —
pushdown reaching the scan, whole-stage codegen spans, broadcast vs shuffle
joins, partial aggregation. Run after plan-affecting changes:

    PYTHONPATH=/root/repo python scripts/plan_audit.py
"""

from __future__ import annotations

import contextlib
import io
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from investigraph_etl_spark.plans.queries import QUERIES  # noqa: E402
from investigraph_etl_spark.session import get_spark  # noqa: E402

SF = "/root/testdata/sf0.01"

#: query → what its plan must show at scale (the audit assertion, in prose).
AUDITED: dict[str, str] = {
    "cdc_lww_resolve": (
        "ONE shuffle keyed on (conv_id, turn_idx); partial `max_by` runs "
        "map-side (`SortAggregate`/`ObjectHashAggregate` with partial + final "
        "modes) so shuffle volume is one row per key per map task; filter on "
        "validity stays in the scan stage."
    ),
    "agg_pricing_summary": (
        "`PushedFilters` on l_shipdate reaches the parquet scan; `ReadSchema` "
        "prunes to the 7 referenced columns; partial hash agg before the "
        "4-group shuffle."
    ),
    "join_revenue_by_segment": (
        "`BroadcastHashJoin` (customer side broadcast) — the orders fact side "
        "is never shuffled; agg is partial before exchange."
    ),
    "anti_join_customers": (
        "`BroadcastHashJoin ... LeftAnti` — the commit-log dedup shape: the "
        "small committed set broadcasts, the tail never shuffles."
    ),
    "ann_topk": (
        "`BroadcastNestedLoopJoin` with the tiny query side broadcast; corpus "
        "scan stays partition-parallel; single window for per-query top-k."
    ),
    "dedup_minhash": (
        "Signature computation is a narrow projection (array lambdas, no "
        "shuffle); candidates come from ONE groupBy on the band bucket "
        "(posting-list collect + double Generate — no self-join, so the "
        "signature subtree appears ONCE); candidate volume O(collisions), "
        "never O(n²); verify joins are broadcast-able hash joins."
    ),
    "dedup_simhash": (
        "Token hashing + bit votes are explode → partial-mode HashAggregate "
        "(map-side combine reduces each doc to 64 ints before the shuffle); "
        "pairs + Hamming come from ONE groupBy on (band, band-value) with "
        "the signature structs collected in place — no rejoin, no self-join."
    ),
    "dedup_ngram": (
        "Inverted index = ONE groupBy on the (hashed) shingle; per-pair "
        "shared counts ride the same collected posting lists; the Jaccard "
        "upper-bound prune joins only scalar (n, c) stats — the wide shingle "
        "arrays appear only in the final verify join over the pruned "
        "survivor set."
    ),
    "ann_lsh": (
        "All n_tables bucket expressions are ONE narrow projection + "
        "posexplode; candidates from ONE groupBy on (table, bucket); the "
        "exchanges carry only (id, table, bucket) and (id_a, id_b) — vectors "
        "rejoin (broadcast-able) solely for the cosine verify."
    ),
    "frame_ops": (
        "The declarative op chain collapses into the scan stage: "
        "`PushedFilters` carries the query predicate, `ReadSchema` prunes to "
        "the two referenced columns, distinct = partial + final HashAggregate."
    ),
    "lenient_dates": (
        "The try_to_timestamp coalesce chain is a single whole-stage-codegen "
        "projection over the scan — no shuffle, no Python, NULLs (unparsed) "
        "flow through for quarantine."
    ),
    "ann_ivf": (
        "Centroids broadcast for BOTH the assignment pass and the query "
        "probe (`BroadcastNestedLoopJoin`/`BroadcastHashJoin` with the tiny "
        "centroid relation); candidate generation joins probe lists to "
        "assignments on centroid id; exact rescore + per-query top-k window "
        "over the probed fraction only."
    ),
    "multimodal_metadata": (
        "`MapInPandas` directly over the scan — a narrow stage; binary "
        "payloads move through Arrow batches, no shuffle."
    ),
    "multimodal_decode": (
        "encode → decode are two chained `MapInPandas` stages with no "
        "exchange between them — payload bytes stay on the executor through "
        "both Arrow passes."
    ),
    "corpus_pack": (
        "exactly ONE `Exchange hashpartitioning` (the even n_groups-way "
        "salt) and NO `Exchange rangepartitioning`/global `Sort` — the "
        "running-sum window is per-group, so no partition ever sees more "
        "than corpus/n_groups rows."
    ),
    "corpus_curate": (
        "the dedup aggregate exchanges (digest, id) only and the survivor "
        "semi-join exchanges ids — document text must never appear in an "
        "`Exchange`; every gate (lang/quality/sample) is a scan-stage "
        "`Filter` and chunking is a narrow `Generate` (explode)."
    ),
    "cube_pricing": (
        "ONE `Expand` node feeding a single partial+final HashAggregate — "
        "the whole grouping-set lattice in one pass over the scan, never one "
        "re-read per set; the decimal sum stays exact through the partials."
    ),
    "stringagg_regions": (
        "`BroadcastHashJoin` on the region dimension (nation is never "
        "shuffled for the join); ONE hash-agg keyed on region; ordering "
        "comes from per-group `array_sort`, so there is no global `Sort` "
        "and no `Exchange rangepartitioning`."
    ),
    "ann_recall": (
        "the three sub-plans keep their own audited shapes (exact: broadcast "
        "query side + windowed top-k; lsh: ONE bucket-collect exchange + "
        "broadcast-able verify joins; ivf: broadcast quantizer, no corpus "
        "shuffle); the recall join is id-pairs only (never vectors through "
        "an Exchange) and the final aggregation is n_methods rows."
    ),
}


#: epoch shape → (resolve kwargs, the audit assertion). These are the two
#: physical shapes apply_events_batch can run an ingest epoch's resolve in:
#: combine-first always, salted only when the caller sets n_salts.
EPOCH_SHAPES: dict[str, tuple[dict, str]] = {
    "combine-first (default)": (
        dict(with_count=True),
        "Partial aggregation BEFORE the exchange (`partial_max_by` in the "
        "map-side SortAggregate): shuffle volume is one row per key per map "
        "task, which is why single-key floods are harmless here (measured: "
        "a 50%-one-key tail runs 2x FASTER than uniform — BENCH.md round-5 "
        "flood table). The write adds its own clustering exchange: two "
        "exchanges per epoch total.",
    ),
    "salted two-phase (manual n_salts=8)": (
        dict(with_count=True, n_salts=8),
        "Phase 1 groups by (key, pmod(xxhash64(seq), 8)) so one key's rows "
        "spread over 8 reducers; phase 2 re-merges the ≤8 survivors per "
        "key. TWO aggregation exchanges — measured 1.4-1.6x SLOWER than "
        "combine-first on flood tails (map-side combine already bounds "
        "them), so this stays a manual knob for aggregation shapes without "
        "combine, never the default.",
    ),
}


def epoch_shapes_section(spark) -> str:
    from investigraph_etl_spark.cdc.generator import GeneratorConfig, generate_events
    from investigraph_etl_spark.cdc.resolve import resolve_lww

    ev = spark.createDataFrame(
        generate_events(GeneratorConfig(n_events=2000, seed=3)).drop(columns=["epoch"])
    )
    out = io.StringIO()
    out.write(
        "\n## ingest epoch shapes (cdc/apply.py)\n\n"
        "The LWW resolve of one micro-batch, in each of the two physical "
        "shapes the epoch can run in: combine-first on every epoch, salted "
        "only when the pipeline sets `n_salts`.\n"
    )
    for label, (kw, claim) in EPOCH_SHAPES.items():
        df = resolve_lww(ev, **kw)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.write(f"\n### {label}\n\n**Must hold at scale:** {claim}\n\n")
        out.write("```\n" + buf.getvalue().strip() + "\n```\n")
    return out.getvalue()


#: lake read → the audit assertion. Both read a 32-bucket MOR table with
#: several generations per bucket.
READ_SHAPES: dict[str, tuple[list, str]] = {
    "point lookup (conv_id = k)": (
        [("conv_id", "=", "conv-000007")],
        "Bucket pruning leaves one bucket's files, read as ONE partition "
        "(`Coalesce 1`) and LWW-reduced with NO `Exchange`: one job, one "
        "stage, one task — a task holding one bucket, which is what a write "
        "or compaction task holds. `PushedFilters` carries the key below the "
        "`Coalesce`; the tombstone filter stays above the reduce.",
    ),
    "full MOR read": (
        [],
        "`partial_max_by` map-side BEFORE ONE `Exchange hashpartitioning` "
        "on (conv_id, turn_idx): the reduce spreads over the cluster and "
        "shuffles one row per key per map task.",
    ),
}


def read_shapes_section(spark) -> str:
    import tempfile

    from investigraph_etl_spark.cdc.apply import apply_events_batch
    from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
    from investigraph_etl_spark.cdc.generator import GeneratorConfig, generate_events
    from investigraph_etl_spark.lake.table import LakeTable

    ev = generate_events(GeneratorConfig(n_events=4000, seed=3, n_epochs=4, n_convs=200))
    out = io.StringIO()
    out.write(
        "\n## lake read shapes (lake/table.py)\n\n"
        "`LakeTable.read()` on a merge-on-read table: the LWW reduce across "
        "file generations, for a one-bucket point lookup and a full read.\n"
    )
    with tempfile.TemporaryDirectory() as tmp:
        t = LakeTable.create(spark, os.path.join(tmp, "t"), TRANSCRIPT_SCHEMA,
                             n_buckets=32, mode="mor")
        for epoch, part in ev.groupby("epoch", sort=True):
            apply_events_batch(t, spark.createDataFrame(part.drop(columns=["epoch"])),
                               app_id="audit", epoch_id=int(epoch))
        for label, (where, claim) in READ_SHAPES.items():
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                t.read(where=where).explain("formatted")
            # the scan's Location names this run's temporary directory
            plan = buf.getvalue().strip().replace(tmp, "<table>")
            out.write(f"\n### {label}\n\n**Must hold at scale:** {claim}\n\n")
            out.write("```\n" + plan + "\n```\n")
    return out.getvalue()


def main() -> None:
    spark = get_spark(app_name="plan-audit", master="local[4]")
    out = io.StringIO()
    out.write(
        "# PLANS — physical-plan audit\n\n"
        "`.explain(\"formatted\")` for the load-bearing queries at sf0.01, "
        "regenerated by `scripts/plan_audit.py`. Each section states what the "
        "plan must show for the operator to survive a 100× scale-up, then the "
        "plan itself.\n"
    )
    for name, claim in AUDITED.items():
        df = QUERIES[name](spark, SF)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain("formatted")
        out.write(f"\n## {name}\n\n**Must hold at scale:** {claim}\n\n")
        out.write("```\n" + buf.getvalue().strip() + "\n```\n")
    out.write(epoch_shapes_section(spark))
    out.write(read_shapes_section(spark))
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(path, "w") as f:
        f.write(out.getvalue())
    print(f"wrote {path}")
    spark.stop()


if __name__ == "__main__":
    main()
