"""Per-file column statistics (zone maps) for data skipping.

At 100 TB the difference between "scan the table" and "scan the 0.1% of
files that can match" is the whole game, and it is a CONTROL-PLANE feature:
parquet already stores per-row-group min/max/null statistics in its footer,
so the lake only has to (a) read the footers of the files a commit adds —
one ranged GET per file through the storage interface (`RangeFile`), ~KBs
transferred regardless of file size — and (b) carry the per-file bounds in
the commit log, where a `read(where=...)` can prune files without touching
the data plane at all. This is the same design as Iceberg manifest-entry
column bounds and Delta's per-file stats; here the footer read happens once
at commit time on the driver (O(new files), not O(table)).

Pruning is conservative by construction:

- a file is skipped ONLY when its recorded bounds prove no row can satisfy
  the predicate; files with no stats (pre-stats commits, evolved-in columns)
  are always kept;
- the predicate is ALWAYS also applied as a real Spark filter on the scan
  result, so correctness never depends on stats — stats only remove I/O;
- comparison predicates never match NULL, so null rows inside a kept range
  are harmless and all-null files (no bounds) are skippable;
- parquet may truncate string bounds, but guarantees min <= all values and
  max >= all values, which is exactly what interval-disjointness pruning
  needs.

MOR safety: on a merge-on-read table the row that WINS LWW reduction may sit
in a different file generation than rows that lose, so pruning by a payload
predicate could drop the winner while keeping a stale loser and flip the
result. Payload pruning is therefore COW-only; MOR prunes on KEY columns
only (a key fails a key-predicate in every generation or in none — the
reduction group is kept or dropped atomically), with ONE proven exception:
``>``/``>=`` predicates on the LWW stamp column itself prune safely because
the winner carries the key's maximum stamp (see `prune_files` for the
argument) — which makes the canonical "recent window" query
(``read(where=[("ts", ">=", cutoff)])``) skip every old generation.
`prunable_cols`/`monotone_cols` encode this (lake/table.py `_prune_spec`).
"""

from __future__ import annotations

import datetime as _dt
import decimal as _decimal
from typing import Any, Iterable, Mapping

from investigraph_etl_spark.storage import Storage, join

#: predicate operators understood by both the pruner and the Spark filter
OPS = ("=", "<", "<=", ">", ">=")


def _canon(v: Any) -> Any:
    """Canonicalize a stats/predicate value for ordering comparisons.

    Timestamps → epoch microseconds (int), dates → ordinal days (int) — the
    JSON commit log stores only scalars and cross-type compare stays exact.
    """
    if isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return (v - _dt.datetime(1970, 1, 1)) // _dt.timedelta(microseconds=1)
    if isinstance(v, _dt.date):
        return v.toordinal() - _dt.date(1970, 1, 1).toordinal()
    if isinstance(v, bytes):
        return None  # binary bounds are not tracked
    if isinstance(v, _decimal.Decimal):
        # pyarrow emits Decimal bounds for DECIMAL columns; json.dumps would
        # raise TypeError AFTER the data files landed, aborting the commit and
        # orphaning them. Skip (column unprunable) rather than store a float
        # bound that rounding could make non-conservative.
        return None
    return v


def collect_file_stats(
    fs: Storage, data_dir: str, rel_paths: Iterable[str], cols: Iterable[str]
) -> dict[str, dict[str, dict[str, Any]]]:
    """Read parquet footers of ``rel_paths`` and return per-file bounds.

    Returns ``{rel_path: {col: {"min": v, "max": v, "nulls": n}}}``. Columns
    missing from a file's schema or lacking statistics are omitted (readers
    treat missing as unprunable). All-null columns appear with min/max None —
    provably unmatchable by any comparison predicate.
    """
    import pyarrow.parquet as pq

    want = list(cols)
    out: dict[str, dict[str, dict[str, Any]]] = {}
    for rel in rel_paths:
        try:
            pf = pq.ParquetFile(fs.open_range_reader(join(data_dir, rel)))
        except Exception:
            continue  # unreadable footer → file simply has no stats
        md = pf.metadata
        names = {c: i for i, c in enumerate(md.schema.names)}
        file_stats: dict[str, dict[str, Any]] = {}
        for col in want:
            ci = names.get(col)
            if ci is None:
                continue
            lo: Any = None
            hi: Any = None
            nulls = 0
            ok = True
            for rg in range(md.num_row_groups):
                try:
                    st = md.row_group(rg).column(ci).statistics
                    if st is None:
                        ok = False
                        break
                    nulls += st.null_count or 0
                    if not st.has_min_max:
                        # a row group with values but no bounds → unprunable
                        if st.num_values:
                            ok = False
                            break
                        continue
                    mn, mx = _canon(st.min), _canon(st.max)
                except Exception:
                    # pyarrow raises ArrowNotImplementedError reading bounds
                    # of some physical types (DECIMAL in this build) — a
                    # post-write abort would orphan the landed data files,
                    # so the column just stays unprunable.
                    ok = False
                    break
                if mn is None or mx is None:
                    ok = False
                    break
                lo = mn if lo is None else min(lo, mn)
                hi = mx if hi is None else max(hi, mx)
            if ok:
                file_stats[col] = {"min": lo, "max": hi, "nulls": nulls}
        if file_stats:
            out[rel] = file_stats
    return out


def _file_can_match(
    stats: Mapping[str, Mapping[str, Any]] | None,
    preds: Iterable[tuple[str, str, Any]],
    prunable_cols: set[str],
    monotone_cols: frozenset[str] | set[str] = frozenset(),
) -> bool:
    if not stats:
        return True
    for col, op, val in preds:
        if col not in prunable_cols and not (
            col in monotone_cols and op in (">", ">=")
        ):
            continue
        s = stats.get(col)
        if s is None:
            continue
        lo, hi = s.get("min"), s.get("max")
        if lo is None and hi is None:
            return False  # all rows NULL — no comparison can match
        v = _canon(val)
        try:
            if op == "=" and (v < lo or v > hi):
                return False
            if op == "<" and lo >= v:
                return False
            if op == "<=" and lo > v:
                return False
            if op == ">" and hi <= v:
                return False
            if op == ">=" and hi < v:
                return False
        except TypeError:
            continue  # incomparable literal/bounds → keep the file
    return True


def prune_files(
    live_files: list[str],
    file_stats: Mapping[str, Mapping[str, Mapping[str, Any]]],
    preds: Iterable[tuple[str, str, Any]],
    prunable_cols: set[str],
    monotone_cols: frozenset[str] | set[str] = frozenset(),
) -> tuple[list[str], int]:
    """Split live files into (kept, n_pruned) under AND-ed predicates.

    ``monotone_cols`` are columns prunable ONLY for ``>`` / ``>=`` — the MOR
    special case for the LWW stamp column itself. Proof of safety: the LWW
    winner of a key carries the key's MAXIMUM stamp. If a file is pruned
    under ``stamp >= v``, every row in it has stamp < v; if the winner's
    file is among them, then ALL the key's rows have stamp < v, so whatever
    sub-winner the kept files produce also fails the predicate and the
    post-scan filter removes it — the key is (correctly) excluded either
    way. The mirror ops (``<``, ``<=``, ``=``) are NOT safe: they prune the
    files holding the NEWEST rows, which can hand the reduction to a stale
    loser that passes the predicate (resurrection).
    """
    preds = list(preds)
    kept = [
        f
        for f in live_files
        if _file_can_match(file_stats.get(f), preds, prunable_cols, monotone_cols)
    ]
    return kept, len(live_files) - len(kept)


def validate_preds(preds: Iterable[tuple[str, str, Any]]) -> list[tuple[str, str, Any]]:
    out = []
    for p in preds:
        col, op, val = p
        if op not in OPS:
            raise ValueError(f"unsupported predicate op {op!r} (use one of {OPS})")
        out.append((col, op, val))
    return out


def preds_to_column(preds: Iterable[tuple[str, str, Any]]):
    """AND-ed Spark Column for the predicates (the correctness face — always
    applied to the scan result regardless of what pruning removed)."""
    from pyspark.sql import functions as F

    cond = None
    for col, op, val in preds:
        c = F.col(col)
        e = {
            "=": c == F.lit(val),
            "<": c < F.lit(val),
            "<=": c <= F.lit(val),
            ">": c > F.lit(val),
            ">=": c >= F.lit(val),
        }[op]
        cond = e if cond is None else cond & e
    return cond
