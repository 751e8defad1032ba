"""CDC engine benchmark: one workload, one timed window, one JSON result line.

Usage (from the repository root)::

    python3 perfbench/run.py --workload backfill_unique --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --smoke

``--trace 0`` prints the end-to-end metrics of an untraced window.
``--trace 1`` interleaves untraced units with traced ones (Spark UI REST
API on, entry-point spans, the engine's phase collector) and prints the
per-layer metrics. ``--smoke`` runs every workload at a tiny size, prints
every metric name with its unit, and checks that the correctness gate
rejects a deliberately corrupted table copy. See NOTES.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import resource
import shutil
import statistics
import subprocess
import sys
import time
import warnings

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")

#: fits beside other tenants on a 15 GB box (the engine's bench preset
#: asks for 48g)
DRIVER_MEMORY = "3g"

#: what a failed operation reports as its latency: it misses every limit
FAILED = 1e9

END_TO_END = {
    "setup_s": "s",
    "ingest_events_per_s": "1/s",
    "commit_latency_p50_s": "s",
    "commit_latency_p90_s": "s",
    "lookup_latency_p50_s": "s",
    "lookup_latency_p90_s": "s",
    "changelog_latency_p50_s": "s",
    "full_scan_s": "s",
    "table_bytes_per_live_row": "B",
    "peak_rss_mb": "MB",
}

PER_LAYER = {
    "ingest.source_list_s": "s",
    "ingest.offset_log_s": "s",
    "ingest.query_planning_s": "s",
    "apply.batch_s": "s",
    "apply.driver_serial_s": "s",
    "apply.fused_epoch_share": "ratio",
    "spark.executor_cpu_s_per_mevent": "s/Mevent",
    "spark.shuffle_bytes_per_event": "B/event",
    "spark.jobs_per_epoch": "count",
    "spark.tasks_per_epoch": "count",
    "lake.write_job_s": "s",
    "lake.pre_commit_s": "s",
    "lake.stats_s": "s",
    "lake.compact_s": "s",
    "lake.compactions": "1/epoch",
    "lake.bytes_written_per_event": "B/event",
    "lake.live_files": "count",
    "lake.lookup_files_scanned": "count",
    "lake.lookup_prune_ratio": "ratio",
    "log.read_state_s": "s",
    "log.read_state_calls_per_epoch": "count",
    "log.commit_s": "s",
    "log.checkpoint_bytes": "B",
    "storage.list_calls_per_epoch": "count",
    "storage.get_calls_per_epoch": "count",
    "storage.put_calls_per_epoch": "count",
    "trace.ingest_events_per_s": "1/s",
    "trace.overhead_events_per_s": "1/s",
    "trace.epoch_terms_share": "ratio",
    "trace.epoch_wall_share": "ratio",
}


def pct(xs: list[float], q: int) -> float:
    """The q-th percentile (inclusive method); a failed sample is +inf."""
    xs = sorted(xs)
    if not xs:
        return math.inf
    if len(xs) == 1:
        return xs[0]
    v = statistics.quantiles(xs, n=100, method="inclusive")[q - 1]
    return v if math.isfinite(v) else math.inf


def _mean(total: float, n: int) -> float:
    return total / n if n else 0.0


def start_session(ui: bool):
    from investigraph_etl_spark.session import get_spark

    tmp = os.path.join(WORK, "tmp")
    spark = get_spark(
        app_name="perfbench",
        master=f"local[{len(os.sched_getaffinity(0))}]",
        conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.enabled": "true" if ui else "false",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.local.dir": os.path.join(WORK, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
            # initial heap = max heap: the heap does not resize in steps
            # whose timing varies from run to run
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEMORY} -Djava.io.tmpdir={tmp}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> float:
    """Driver JVM ``VmHWM`` plus this Python process's peak RSS."""
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm_kb = 0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (jvm_kb + resource.getrusage(resource.RUSAGE_SELF).ru_maxrss) / 1024


def window(wl, units: int, rec) -> None:
    """Closed loop: each unit starts when the previous one has finished."""
    for _ in range(units):
        if wl.exhausted():
            return
        wl.unit(rec)


def end_to_end(rec, fin: dict, setup_s: float, rss_mb: float) -> dict[str, float]:
    commit = [b["ms"]["triggerExecution"] / 1000 for b in rec.epochs]
    kept = max(0, len(commit) - rec.failed_epochs)
    commit = commit[:kept] + [math.inf] * rec.failed_epochs
    return {
        "setup_s": setup_s,
        "ingest_events_per_s": rec.events / sum(rec.drain_s) if rec.drain_s else 0.0,
        "commit_latency_p50_s": pct(commit, 50),
        "commit_latency_p90_s": pct(commit, 90),
        "lookup_latency_p50_s": pct(rec.lookup_s, 50),
        "lookup_latency_p90_s": pct(rec.lookup_s, 90),
        "changelog_latency_p50_s": pct(rec.changelog_s, 50),
        "full_scan_s": fin["full_scan_s"],
        "table_bytes_per_live_row": fin["table_bytes_per_live_row"],
        "peak_rss_mb": rss_mb,
    }


def per_layer(plain, traced, tracer, phases, jobs, stages, fin) -> dict[str, float]:
    from tracing import EPOCH_TERMS, covered

    n = len(traced.epochs)
    ms = lambda *keys: sum(b["ms"].get(k, 0) for b in traced.epochs for k in keys) / 1000
    w = traced.windows
    spans = lambda name: tracer.within(name, w)
    read_state = [s for s in tracer.spans if s.name == "log.read_state"]
    commits = spans("log.commit")
    compacts = spans("table.compact")
    job_time = sum(covered((s.start, s.end), jobs) for s in spans("apply.batch"))
    scanned = sum(p.get("files_scanned", 0) for p in traced.prune)
    pruned = sum(p.get("files_pruned", 0) for p in traced.prune)
    rate = lambda r: r.events / sum(r.drain_s) if r.drain_s else 0.0
    trig = ms("triggerExecution")
    return {
        "ingest.source_list_s": _mean(ms("latestOffset", "getBatch"), n),
        "ingest.offset_log_s": _mean(ms("walCommit", "commitOffsets"), n),
        "ingest.query_planning_s": _mean(ms("queryPlanning"), n),
        "apply.batch_s": _mean(ms("addBatch"), n),
        "apply.driver_serial_s": _mean(ms("addBatch") - job_time, n),
        "apply.fused_epoch_share": _mean(
            sum(r.get("plan_shape") == "fused" for r in traced.results), n
        ),
        "spark.executor_cpu_s_per_mevent": _mean(
            sum(s["executorCpuTime"] for s in stages) / 1e9, traced.events / 1e6
        ),
        "spark.shuffle_bytes_per_event": _mean(
            sum(s["shuffleWriteBytes"] for s in stages), traced.events
        ),
        "spark.jobs_per_epoch": _mean(len(jobs), n),
        "spark.tasks_per_epoch": _mean(sum(s["numTasks"] for s in stages), n),
        "lake.write_job_s": _mean(phases.get("write_job", 0.0), n),
        "lake.pre_commit_s": _mean(phases.get("pre_commit", 0.0), n),
        "lake.stats_s": _mean(phases.get("stats", 0.0), n),
        "lake.compact_s": _mean(sum(s.seconds for s in compacts), n),
        "lake.compactions": _mean(len(compacts), n),
        "lake.bytes_written_per_event": _mean(traced.bytes_written, traced.events),
        "lake.live_files": fin["live_files"],
        "lake.lookup_files_scanned": _mean(scanned, len(traced.prune)),
        "lake.lookup_prune_ratio": _mean(pruned, scanned + pruned),
        "log.read_state_s": _mean(sum(s.seconds for s in read_state), len(read_state)),
        "log.read_state_calls_per_epoch": _mean(len(spans("log.read_state")), n),
        "log.commit_s": _mean(sum(s.seconds for s in commits), len(commits)),
        "log.checkpoint_bytes": fin["checkpoint_bytes"],
        "storage.list_calls_per_epoch": _mean(len(spans("storage.list")), n),
        "storage.get_calls_per_epoch": _mean(len(spans("storage.get")), n),
        "storage.put_calls_per_epoch": _mean(len(spans("storage.put")), n),
        "trace.ingest_events_per_s": rate(traced),
        "trace.overhead_events_per_s": rate(traced) - rate(plain),
        "trace.epoch_terms_share": _mean(ms(*EPOCH_TERMS), trig),
        "trace.epoch_wall_share": _mean(trig, sum(traced.drain_s)),
    }


def measure(workload: str, seed: int, seconds: float, trace: bool, tiny: bool = False,
            spark=None) -> tuple[dict, object]:
    """Set up, run the timed window(s) and finish one workload. Returns the
    result object and the workload (its tables stay until the work dir is
    removed)."""
    from tracing import Progress, Tracer, spark_jobs_and_stages
    from workloads import WORKLOADS, Record

    t0 = time.perf_counter()
    own = spark is None
    if own:
        spark = start_session(ui=trace)
        print(f"perfbench: session start: {time.perf_counter() - t0:.2f} s", file=sys.stderr)
    try:
        progress = Progress()
        spark.streams.addListener(progress)
        wl = WORKLOADS[workload](spark, WORK, seed, progress, tiny=tiny)
        wl.setup()
        setup_s = time.perf_counter() - t0
        # --seconds stands for a fixed number of units (at least one)
        units = max(1, round(seconds / wl.UNIT_S))
        plain = Record()
        recs = [plain]
        if trace:
            # untraced and traced units interleaved U T T U U T ..., so the
            # JVM's remaining warm-up drift falls on both sides alike
            tracer, traced = Tracer(), Record()
            phases: dict[str, float] = {}
            for i in range(2 * max(units, 2)):
                if i % 4 in (1, 2):
                    with tracer.installed() as timer:
                        window(wl, 1, traced)
                    for k, v in timer.totals.items():
                        phases[k] = phases.get(k, 0.0) + v
                else:
                    window(wl, 1, plain)
            recs.append(traced)
            jobs, stages = spark_jobs_and_stages(spark.sparkContext, traced.windows)
            fin = wl.finish(traced)
            metrics = per_layer(plain, traced, tracer, phases, jobs, stages, fin)
            print("perfbench: spans " + json.dumps(tracer.summary()), file=sys.stderr)
            names = PER_LAYER
        else:
            window(wl, units, plain)
            print(f"perfbench: timed window: {time.perf_counter() - t0 - setup_s:.2f} s",
                  file=sys.stderr)
            t_fin = time.perf_counter()
            fin = wl.finish(plain)
            print(f"perfbench: finish: {time.perf_counter() - t_fin:.2f} s", file=sys.stderr)
            metrics = end_to_end(plain, fin, setup_s, peak_rss_mb(spark))
            names = END_TO_END
        spark.streams.removeListener(progress)
    finally:
        if own:
            t_stop = time.perf_counter()
            stop_session(spark)
            print(f"perfbench: stop: {time.perf_counter() - t_stop:.2f} s", file=sys.stderr)
    attempted = sum(r.attempted for r in recs)
    failed = sum(r.failed for r in recs)
    result = {
        "correct": failed == 0 and attempted > 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            k: {"value": v if math.isfinite(v) else FAILED, "unit": names[k]}
            for k, v in metrics.items()
        },
    }
    return result, wl


def smoke() -> int:
    """Every workload at a tiny size in one session, both metric sets, plus
    a corrupted-table check of the gate."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    import gate
    from investigraph_etl_spark.lake.table import LakeTable

    ok = True
    spark = start_session(ui=True)
    try:
        for name in ("backfill_dup", "backfill_unique", "tail_serve"):
            for trace in (False, True):
                res, wl = measure(name, 1, 0.1, trace, tiny=True, spark=spark)
                ok &= res["correct"]
                print(f"== {name} trace={int(trace)} correct={res['correct']} "
                      f"attempted={res['attempted']} failed={res['failed']}")
                for k, m in res["metrics"].items():
                    print(f"   {k:34s} {m['unit']:9s} {m['value']:.6g}")
        # backfill_unique: every stored row is a live LWW winner, so changing
        # any one of them must show up in a read
        res, wl = measure("backfill_unique", 2, 0.1, False, tiny=True, spark=spark)
        copy = os.path.join(WORK, "corrupted-copy")
        shutil.copytree(wl.last_table, copy)
        table = LakeTable.load(spark, copy)
        victim = os.path.join(table.data_dir, table.log.read_state().live_files[0])
        data = pq.read_table(victim)
        pdf = data.to_pandas()
        pdf.loc[0, "text"] = "corrupted " + str(pdf.loc[0, "text"])
        pq.write_table(pa.Table.from_pandas(pdf, schema=data.schema, preserve_index=False), victim)
        crc = os.path.join(os.path.dirname(victim), f".{os.path.basename(victim)}.crc")
        if os.path.exists(crc):  # Hadoop's checksum sidecar would reject the edit
            os.remove(crc)
        diff = gate.table_diff(table.read().toPandas(), wl.oracle)
        clean = gate.table_diff(LakeTable.load(spark, wl.last_table).read().toPandas(), wl.oracle)
        print(f"== gate on the clean table: {clean} rows differ; "
              f"on the corrupted copy: {diff} rows differ")
        ok &= clean == 0 and diff > 0
    finally:
        stop_session(spark)
    print("smoke: " + ("OK" if ok else "FAILED"))
    return 0 if ok else 1


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=("backfill_dup", "backfill_unique", "tail_serve"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()
    if not args.smoke and args.workload is None:
        ap.error("--workload is required")
    if not os.path.isdir(os.path.join(ROOT, "investigraph_etl_spark")):
        print(f"perfbench: no investigraph_etl_spark package in {ROOT}; run from "
              "a checkout of the repository", file=sys.stderr)
        return 2
    # the adaptive engine policies are what is measured: no engine knobs
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    sys.path.insert(0, ROOT)
    warnings.simplefilter("ignore", FutureWarning)
    shutil.rmtree(WORK, ignore_errors=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    # every JVM the run starts (the launcher's and the driver) keeps its
    # scratch files in the checkout; no hsperfdata file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    try:
        if args.smoke:
            return smoke()
        result, _ = measure(args.workload, args.seed, args.seconds, bool(args.trace))
    finally:
        shutil.rmtree(WORK, ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
