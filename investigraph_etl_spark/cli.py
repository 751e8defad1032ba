"""CLI: the reference's ``investigraph run|extract|inspect`` surface
(/root/reference/investigraph/cli.py:37-153) re-expressed over the Spark
engine, plus engine-native commands (ingest/compact/history).

Usage (``python -m investigraph_etl_spark.cli <cmd> ...``)::

    run      -c config.yml            # declarative pipeline → sink (O15/O16)
    extract  -c config.yml            # raw records → JSONL, no transform (O22)
    inspect  -c config.yml [-n 10]    # bounded preview of the compiled plan (O21)
    ingest   --events DIR --table DIR --checkpoint DIR [--follow]
                                      # the CDC tail → lake MERGE pipeline
    compact  --table DIR              # MOR generation compaction
    history  --table DIR              # commit lineage (_commits view)
    vacuum   --table DIR              # reclaim unreferenced data files
    metadata --table DIR              # write + print index.json (O23)
    read     --table DIR [--where "col>=v" ...] [-n N]
                                      # zone-map/bucket-pruned read (JSONL rows)
    changes  --table DIR --since V [--to V]
                                      # incremental changelog (CDC out, JSONL)
    fetch    --url URL [--cache-dir]  # conditional HTTP fetch (O2; no Spark)
"""

from __future__ import annotations

import argparse
import json
import sys


def _parse_where(exprs: list[str]) -> list[tuple[str, str, object]]:
    """``col>=value`` strings → (col, op, literal) predicates. Literals are
    tried as int, float, then ISO date/timestamp, else kept as strings."""
    import datetime as _dt

    out = []
    for e in exprs:
        for op in (">=", "<=", "=", ">", "<"):  # two-char ops first
            if op in e:
                col, raw = e.split(op, 1)
                val: object = raw.strip()
                for conv in (int, float, _dt.datetime.fromisoformat):
                    try:
                        val = conv(raw.strip())
                        break
                    except ValueError:
                        continue
                out.append((col.strip(), op, val))
                break
        else:
            raise SystemExit(f"bad --where {e!r}: expected col<op>value")
    return out


def _spark(cpus: str | None):
    from investigraph_etl_spark.session import get_spark

    return get_spark(
        app_name="investigraph-etl-spark-cli",
        master=f"local[{cpus}]" if cpus else None,
    )


def main(argv: list[str] | None = None) -> int:
    p = argparse.ArgumentParser(prog="investigraph-etl-spark")
    p.add_argument("--cpus", default=None, help="local[N] cores (default: spark-submit's master)")
    sub = p.add_subparsers(dest="cmd", required=True)

    for name in ("run", "extract", "inspect"):
        sp = sub.add_parser(name)
        sp.add_argument("-c", "--config", required=True)
        if name == "inspect":
            sp.add_argument("-n", "--limit", type=int, default=10)

    sp = sub.add_parser("ingest")
    sp.add_argument("--events", required=True)
    sp.add_argument("--table", required=True)
    sp.add_argument("--checkpoint", required=True)
    sp.add_argument("--follow", action="store_true", help="tail continuously instead of drain-once")
    sp.add_argument("--max-files-per-trigger", type=int, default=None)
    sp.add_argument("--salts", type=int, default=None)

    for name in ("compact", "history", "vacuum", "metadata"):
        sp = sub.add_parser(name)
        sp.add_argument("--table", required=True)
        if name == "vacuum":
            sp.add_argument("--retain-versions", type=int, default=0)
            sp.add_argument("--retain-s", type=float, default=0.0)
            sp.add_argument("--orphan-grace-s", type=float, default=None,
                            help="seconds an unreferenced file must age before"
                            " reclamation (default: library DEFAULT_ORPHAN_"
                            "GRACE_S; pass 0 for single-writer maintenance)")

    sp = sub.add_parser("delete-where")
    sp.add_argument("--table", required=True)
    sp.add_argument("--where", required=True,
                    help="SQL condition over the public schema; matching "
                         "live keys are tombstoned (logical GDPR delete)")
    sp.add_argument("--app-id", default=None)
    sp.add_argument("--epoch-id", type=int, default=None)

    sp = sub.add_parser("rebucket")
    sp.add_argument("--table", required=True)
    sp.add_argument("--n-buckets", type=int, required=True)

    sp = sub.add_parser("read")
    sp.add_argument("--table", required=True)
    sp.add_argument("--where", action="append", default=[],
                    help="col<op>value predicate (repeatable, AND-ed); "
                         "ops: = < <= > >=. Files are pruned by zone maps; "
                         "conv_id=v also reads only v's bucket")
    sp.add_argument("-n", "--limit", type=int, default=None)

    sp = sub.add_parser("changes")
    sp.add_argument("--table", required=True)
    sp.add_argument("--since", type=int, required=True,
                    help="exclusive lower version bound")
    sp.add_argument("--to", type=int, default=None,
                    help="inclusive upper version bound (default: current)")

    sp = sub.add_parser("fetch")
    sp.add_argument("--url", required=True)
    sp.add_argument("--cache-dir", default=None)
    sp.add_argument("--no-cache", action="store_true")

    args = p.parse_args(argv)

    if args.cmd == "fetch":  # driver-side only; no Spark session needed
        from investigraph_etl_spark.sources.http import DEFAULT_CACHE_DIR, fetch

        r = fetch(
            args.url,
            cache_dir=args.cache_dir or DEFAULT_CACHE_DIR,
            use_cache=not args.no_cache,
        )
        print(json.dumps({"path": r.path, "fetched": r.fetched, "ckey": r.ckey}))
        return 0

    spark = _spark(args.cpus)

    if args.cmd in ("run", "extract", "inspect"):
        from investigraph_etl_spark.config import PipelineConfig, inspect, run_pipeline

        cfg = PipelineConfig.from_yaml(args.config)
        if args.cmd == "run":
            print(json.dumps(run_pipeline(spark, cfg)))
        elif args.cmd == "extract":
            print(json.dumps(run_pipeline(spark, cfg, extract_only=True)))
        else:
            inspect(spark, cfg, limit=args.limit).show(truncate=False)
        return 0

    from investigraph_etl_spark.lake.table import LakeTable

    if args.cmd == "ingest":
        from investigraph_etl_spark.streaming.ingest import IngestPipeline

        pipe = IngestPipeline(
            spark,
            events_dir=args.events,
            table_root=args.table,
            checkpoint_dir=args.checkpoint,
            max_files_per_trigger=args.max_files_per_trigger,
            n_salts=args.salts,
        )
        if args.follow:
            q = pipe.start_tail()
            q.awaitTermination()
        else:
            for r in pipe.run_available_now():
                print(json.dumps(r, default=str))
        return 0

    table = LakeTable.load(spark, args.table)
    if args.cmd == "read":
        where = _parse_where(args.where) or None
        report: dict = {}
        df = table.read(where=where, prune_report=report)
        if where:  # one prune pass serves both the stats line and the scan
            print(json.dumps(report), file=sys.stderr)
        if args.limit:
            df = df.limit(args.limit)
        for row in df.toJSON().toLocalIterator():
            print(row)
        return 0
    if args.cmd == "changes":
        for row in table.changes(args.since, args.to).toJSON().toLocalIterator():
            print(row)
        return 0
    if args.cmd == "delete-where":
        print(json.dumps(table.delete_where(
            args.where, app_id=args.app_id, epoch_id=args.epoch_id)))
    elif args.cmd == "rebucket":
        print(json.dumps(table.rebucket(args.n_buckets)))
    elif args.cmd == "compact":
        print(json.dumps(table.compact()))
    elif args.cmd == "vacuum":
        kw = {} if args.orphan_grace_s is None else {
            "orphan_grace_s": args.orphan_grace_s}
        print(json.dumps({"files_removed": table.vacuum(
            retain_versions=args.retain_versions, retain_s=args.retain_s,
            **kw)}))
    elif args.cmd == "metadata":
        print(json.dumps(table.export_metadata()))
    else:
        for c in table.history():
            print(json.dumps(c, default=str))
    return 0


if __name__ == "__main__":
    sys.exit(main())
