"""Benchmark harness: headline CDC ingest throughput + per-query timings.

Prints ONE JSON line:
  {"metric": ..., "value": <events/sec>, "unit": "events/sec",
   "queries": {<name>: seconds, ...}, "sf": <sf>, ...}

Headline: a synthetic transcript change tail (deterministic, adversarial —
skew/late/duplicates, investigraph_etl_spark.cdc.generator) is ingested
end-to-end: Structured Streaming availableNow over the landing dir →
foreachBatch normalize → LWW resolve → copy-on-write MERGE into a LakeTable
with exactly-once commit log + lineage metrics. value = events applied / wall
seconds (the BASELINE.json north-star metric).

``python bench.py --skew`` runs the hot-bucket / single-key-flood MERGE
stress instead (``run_skew``).

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1), SPARK_GRAFT_CPUS
(default 32), SPARK_GRAFT_BENCH_EVENTS (default scaled by sf).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
# Default worker threads = 16, the measured throughput optimum for the
# data-plane on this host (interleaved best-of: 403k ev/s @8, 433k @16,
# 383k @32 — the single memory bus saturates near 8-16 threads and 32
# threads add allocator/GC contention in one JVM). A real deployment sizes
# executors the same way: by measured throughput, not by core count.
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "16"))

#: queries() entries timed per round (full registry; collect() to materialize).
QUERY_NAMES = None  # None = all


def _sf() -> float:
    name = os.path.basename(SF_DIR.rstrip("/"))
    try:
        return float(name.replace("sf", ""))
    except ValueError:
        return -1.0


def _n_events() -> int:
    if "SPARK_GRAFT_BENCH_EVENTS" in os.environ:
        return int(os.environ["SPARK_GRAFT_BENCH_EVENTS"])
    # ~40M events/sf-unit: sf0.1 → 4M. Large enough that the ~4-5 s/epoch
    # serial floor (trigger + commit) is amortized; small enough for a
    # per-round run (~1 min ingest at 32 threads).
    return max(20_000, int(40_000_000 * _sf()))


# ONE definition of the bench session preset (session.py); the round-4
# profiling that shaped it is in BENCH.md.
from investigraph_etl_spark.session import BENCH_CONF  # noqa: E402

#: bench work area (landing dir, table, checkpoint) — tmpfs by default, same
#: rationale as spark.local.dir above.
BENCH_DIR = os.environ.get("SPARK_GRAFT_BENCH_DIR", "/dev/shm")


def run_ingest(spark, n_events: int, n_epochs: int | None = None) -> dict:
    """Generate a tail, land it, ingest end-to-end; return timing metrics."""
    if n_epochs is None:
        n_epochs = int(os.environ.get("SPARK_GRAFT_BENCH_EPOCHS", "4"))
    from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
    from investigraph_etl_spark.cdc.generator import (
        GeneratorConfig,
        generate_events,
        write_epoch_files,
    )
    from investigraph_etl_spark.lake.table import LakeTable
    from investigraph_etl_spark.streaming.ingest import IngestPipeline

    # Fixed file split regardless of core count, so runs at different
    # parallelism read byte-identical input. 16 files/epoch ≈ a CDC landing
    # zone's segment files; one parquet file is one scan task
    # (single row group), so this is what lets the scan parallelize at all.
    files_per_epoch = int(os.environ.get("SPARK_GRAFT_BENCH_FILES_PER_EPOCH", "16"))
    work = tempfile.mkdtemp(prefix="bench-ingest-", dir=BENCH_DIR)
    t0 = time.time()
    landing = os.path.join(work, "landing")
    os.makedirs(landing)
    ev = generate_events(
        GeneratorConfig(
            n_events=n_events,
            n_convs=max(100, n_events // 50),
            seed=7,
            n_epochs=n_epochs,
            text_words=int(os.environ.get("SPARK_GRAFT_BENCH_TEXT_WORDS", "8")),
        )
    )
    write_epoch_files(ev, landing, files_per_epoch=files_per_epoch)
    n_events_actual = len(ev)
    gen_s = time.time() - t0

    mode = os.environ.get("SPARK_GRAFT_TABLE_MODE", "mor")
    LakeTable.create(
        spark, os.path.join(work, "table"), TRANSCRIPT_SCHEMA, n_buckets=32, mode=mode
    )
    pipe = IngestPipeline(
        spark,
        events_dir=landing,
        table_root=os.path.join(work, "table"),
        checkpoint_dir=os.path.join(work, "ckpt"),
        max_files_per_trigger=files_per_epoch,
    )
    t1 = time.time()
    results = pipe.run_available_now()
    ingest_s = time.time() - t1
    applied = sum(r.get("events_applied", 0) for r in results)
    shutil.rmtree(work, ignore_errors=True)
    return {
        "events": n_events_actual,
        "events_applied": applied,
        "epochs": len(results),
        "gen_s": round(gen_s, 2),
        "ingest_s": round(ingest_s, 2),
        "events_per_sec": round(n_events_actual / ingest_s, 1),
    }


def run_skew(spark, n_events: int | None = None) -> dict:
    """Hot-bucket MERGE stress (round-3 verdict #8): one conversation owns
    ~50% of the tail, so ONE bucket absorbs half of every epoch's MERGE.

    Runs the identical end-to-end ingest on two same-sized tails — the
    normal zipf tail vs the hot tail — and reports the skew penalty. The
    combine-first resolve spreads by (conv, turn) regardless of skew; what
    remains is the hot bucket's write.
    """
    import numpy as np

    from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
    from investigraph_etl_spark.cdc.generator import (
        GeneratorConfig,
        generate_events,
        write_epoch_files,
    )
    from investigraph_etl_spark.lake.table import LakeTable
    from investigraph_etl_spark.streaming.ingest import IngestPipeline

    n = n_events or max(200_000, _n_events() // 4)
    ev = generate_events(
        GeneratorConfig(n_events=n, n_convs=max(100, n // 50), seed=7, n_epochs=2)
    )
    hot = ev.copy()
    mask = np.arange(len(hot)) % 2 == 0  # ~50% of events -> one conversation
    hot.loc[mask, "conv_id"] = "hot-conv"
    # distinct turns: the hot bucket is large in ROWS, not deduped away
    hot.loc[mask, "turn_idx"] = np.arange(mask.sum()).astype("int32")

    def one(tail, n_salts=None):
        work = tempfile.mkdtemp(prefix="bench-skew-", dir=BENCH_DIR)
        landing = os.path.join(work, "landing")
        os.makedirs(landing)
        write_epoch_files(tail, landing, files_per_epoch=16)
        LakeTable.create(
            spark, os.path.join(work, "table"), TRANSCRIPT_SCHEMA,
            n_buckets=32, mode="mor",
        )
        pipe = IngestPipeline(
            spark, events_dir=landing, table_root=os.path.join(work, "table"),
            checkpoint_dir=os.path.join(work, "ckpt"),
            max_files_per_trigger=16, n_salts=n_salts,
        )
        t0 = time.time()
        res = pipe.run_available_now()
        dt = time.time() - t0
        share = max(r.get("max_bucket_share", 0.0) for r in res)
        shutil.rmtree(work, ignore_errors=True)
        return round(len(tail) / dt, 1), round(share, 3)

    # single-KEY flood (round-4 verdict #4): ~50% of events re-write ONE
    # (conv, turn). The combine-first resolve's map-side combine is the
    # flood mitigation; the forced-n_salts run measures WHY salting is not
    # the default mitigation here (the second exchange of the two-phase
    # reduce costs more than it spreads). Same
    # event count AND same epoch count as the uniform baseline — the
    # flood-vs-uniform ratio must not be confounded by per-epoch fixed cost.
    flood = ev.copy()
    fmask = np.arange(len(flood)) % 2 == 0
    flood.loc[fmask, "conv_id"] = "flood-conv"
    flood.loc[fmask, "turn_idx"] = np.int32(0)

    uni_eps, uni_share = one(ev)
    hot_eps, hot_share = one(hot)
    fl_eps, _ = one(flood)
    fl_salt_eps, _ = one(flood, n_salts=8)
    return {
        "events": len(ev),
        "uniform_ev_s": uni_eps,
        "hot_ev_s": hot_eps,
        "uniform_max_bucket_share": uni_share,
        "hot_max_bucket_share": hot_share,
        "skew_penalty": round(uni_eps / hot_eps, 3),
        "keyflood_ev_s": fl_eps,
        "keyflood_forced_salt_ev_s": fl_salt_eps,
        "keyflood_salt_cost": round(fl_eps / fl_salt_eps, 3),
    }


def _host_calibration_s() -> float:
    """Fixed single-thread CPU probe (~0.1 s nominal): recorded once per
    pass so the artifact shows the host window each pass ran in."""
    import numpy as np

    a = np.random.default_rng(0).random((400, 400))
    t0 = time.time()
    for _ in range(8):
        a = a @ a
        a /= np.abs(a).max()
    return round(time.time() - t0, 3)


def run_queries(spark, passes: int = 3) -> tuple[dict[str, float], dict]:
    """Per-query wall times. Dedup/fingerprint entries are timed with the
    PRODUCTION xxhash64 kernel (plans.queries.PROD_QUERIES) — the md5 faces
    exist only so DuckDB can replay the driver's correctness gate; a 100 TB
    deployment would never run md5 in the hot path (JCA lock anti-scaling,
    measured in BENCH.md).

    Drift discipline (round-3 verdict: back-to-back best-of-2 recorded a
    depressed-host 10.3 s for a steady-state 1.15 s query): run ``passes``
    FULL interleaved passes over the registry — minutes apart per query, so
    one bad host window cannot depress both timings of any query — and take
    the per-query min. Any query whose max/min spread still exceeds 2x gets
    one extra timing at the end. Returns (best_times, diagnostics) where
    diagnostics carries per-pass host calibration and per-query spreads.
    """
    from investigraph_etl_spark.plans.queries import PROD_QUERIES, QUERIES

    registry = {**QUERIES, **PROD_QUERIES}
    names = QUERY_NAMES or list(QUERIES)
    times: dict[str, list[float]] = {n: [] for n in names}
    cal = []
    for _ in range(passes):
        cal.append(_host_calibration_s())
        for name in names:
            t0 = time.time()
            registry[name](spark, SF_DIR).collect()
            times[name].append(time.time() - t0)
    for name in names:  # outlier backstop: spread still >2x → one re-run
        ts = times[name]
        if max(ts) / max(min(ts), 1e-9) > 2.0:
            t0 = time.time()
            registry[name](spark, SF_DIR).collect()
            ts.append(time.time() - t0)
    best = {n: round(min(ts), 3) for n, ts in times.items()}
    diag = {
        "passes": passes,
        "host_calibration_s": cal,
        "spread_maxmin": {
            n: round(max(ts) / max(min(ts), 1e-9), 2) for n, ts in times.items()
        },
    }
    return best, diag


def main() -> dict:
    from investigraph_etl_spark.session import get_spark

    spark = get_spark(app_name="bench", master=f"local[{CPUS}]", conf=BENCH_CONF)
    # Best of 2: host CPU delivery drifts +-30% between minutes (BENCH.md
    # methodology); the first run doubles as the JIT warmup.
    ingest = run_ingest(spark, _n_events())
    second = run_ingest(spark, _n_events())
    if second["events_per_sec"] > ingest["events_per_sec"]:
        ingest = second
    queries, qdiag = run_queries(spark)
    spark.stop()
    return {
        "metric": (
            "change-events/sec applied end-to-end "
            "(streaming ingest -> LWW resolve -> lake MERGE, exactly-once)"
        ),
        "value": ingest["events_per_sec"],
        "unit": "events/sec",
        "queries": queries,
        "queries_note": (
            "dedup_*/text_fingerprint timed with the production xxhash64 "
            "kernel (PROD_QUERIES); correctness gate runs the md5 oracle faces"
        ),
        "sf": _sf(),
        "ingest": ingest,
        "cpus": CPUS,
        "timing": qdiag,
    }


if __name__ == "__main__":
    if len(sys.argv) > 1 and sys.argv[1] == "--skew":
        from investigraph_etl_spark.session import get_spark

        spark = get_spark(
            app_name="bench-skew", master=f"local[{CPUS}]", conf=BENCH_CONF
        )
        run_ingest(spark, 50_000, n_epochs=1)
        print(json.dumps(run_skew(spark)))
        spark.stop()
    else:
        full = main()
        # The driver machine-reads only the LAST ~2 KB of stdout (BENCH_r04
        # lesson: the full report with the `timing` diagnostics block
        # overflowed the capture and recorded `parsed: null`). Write the
        # full artifact to a file and print a compact summary — headline +
        # per-query seconds only — as the final stdout line.
        root = os.path.dirname(os.path.abspath(__file__))
        with open(os.path.join(root, "BENCH_artifact.json"), "w") as f:
            json.dump(full, f, indent=1)
        compact = {
            "metric": "change-events/sec applied end-to-end (CDC ingest)",
            "value": full["value"],
            "unit": full["unit"],
            "queries": {k: round(v, 3) for k, v in full["queries"].items()},
            "sf": full["sf"],
            "cpus": full["cpus"],
            "full_artifact": "BENCH_artifact.json",
        }
        line = json.dumps(compact, separators=(",", ":"))
        # hard guarantee: stay within the driver's tail capture
        if len(line) > 2000:
            compact["queries"] = {
                k: round(v, 2)
                for k, v in sorted(
                    full["queries"].items(), key=lambda kv: -kv[1]
                )[:40]
            }
            compact["queries_truncated_to_slowest"] = 40
            line = json.dumps(compact, separators=(",", ":"))
        print(line, flush=True)
