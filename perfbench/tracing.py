"""Per-epoch progress and the traced run's per-layer spans.

Three sources, all observed from outside the engine:

- :class:`Progress` — a ``StreamingQueryListener`` recording each
  micro-batch's ``durationMs`` terms (used by untraced runs too: the commit
  latency is an epoch's ``triggerExecution``);
- :class:`Tracer` — wrappers around the public entry points of
  ``streaming.ingest``, ``cdc.apply``, ``lake.table``, ``lake.log`` and
  ``storage``, recording spans in memory (name, start, end, parent span on
  the same thread). Wrappers return values and raise exceptions unchanged,
  and are removed after each traced unit;
- :func:`spark_jobs_and_stages` — the Spark UI REST API (enabled for traced
  runs only): job intervals and per-stage executor CPU and shuffle bytes.
"""

from __future__ import annotations

import contextlib
import functools
import json
import threading
import time
import urllib.request
from dataclasses import dataclass
from datetime import datetime, timezone

from pyspark.sql.streaming import StreamingQueryListener

import investigraph_etl_spark.cdc.apply as cdc_apply
import investigraph_etl_spark.streaming.ingest as streaming_ingest
from investigraph_etl_spark import profiling
from investigraph_etl_spark.lake.log import CommitLog
from investigraph_etl_spark.lake.table import LakeTable
from investigraph_etl_spark.storage import LocalStorage

#: the ``durationMs`` terms of one trigger that together make up its
#: ``triggerExecution``
EPOCH_TERMS = (
    "latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit",
    "commitOffsets",
)


class Progress(StreamingQueryListener):
    """Collects one record per executed micro-batch."""

    def __init__(self) -> None:
        self.batches: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        self.batches.append(
            {"batch": p.batchId, "rows": p.numInputRows, "ms": dict(p.durationMs)}
        )

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_for(self, count: int, timeout_s: float = 30.0) -> None:
        """Listener events arrive asynchronously; block until ``count``
        batches have been recorded."""
        deadline = time.monotonic() + timeout_s
        while len(self.batches) < count:
            if time.monotonic() > deadline:
                raise TimeoutError(
                    f"streaming progress: {len(self.batches)} of {count} batches"
                )
            time.sleep(0.01)


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: str | None

    @property
    def seconds(self) -> float:
        return self.end - self.start


#: (owner, attribute, span name) for every wrapped entry point. The ingest
#: module imported ``apply_events_batch`` by name, so it is wrapped there too.
_ENTRY_POINTS = (
    (streaming_ingest.IngestPipeline, "run_available_now", "ingest.drain"),
    (cdc_apply, "apply_events_batch", "apply.batch"),
    (streaming_ingest, "apply_events_batch", "apply.batch"),
    (LakeTable, "merge", "table.merge"),
    (LakeTable, "compact", "table.compact"),
    (LakeTable, "read", "table.read"),
    (LakeTable, "changes", "table.changes"),
    (CommitLog, "read_state", "log.read_state"),
    (CommitLog, "commit", "log.commit"),
    (LocalStorage, "list_names", "storage.list"),
    (LocalStorage, "list_files", "storage.list"),
    (LocalStorage, "get_bytes", "storage.get"),
    (LocalStorage, "get_range", "storage.get"),
    (LocalStorage, "put_bytes", "storage.put"),
)


class Tracer:
    """Spans in memory around the engine's public entry points."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._local = threading.local()

    def _wrap(self, fn, name: str):
        local, spans = self._local, self.spans

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            stack = local.__dict__.setdefault("stack", [])
            parent = stack[-1] if stack else None
            stack.append(name)
            t0 = time.time()
            try:
                return fn(*args, **kwargs)
            finally:
                stack.pop()
                spans.append(Span(name, t0, time.time(), parent))

        return traced

    @contextlib.contextmanager
    def installed(self):
        """Wrap every entry point (and run the engine's phase collector)
        for the duration; restore the originals afterwards."""
        saved = [(owner, attr, owner.__dict__[attr]) for owner, attr, _ in _ENTRY_POINTS]
        try:
            for owner, attr, name in _ENTRY_POINTS:
                setattr(owner, attr, self._wrap(owner.__dict__[attr], name))
            with profiling.collecting() as phases:
                yield phases
        finally:
            for owner, attr, original in saved:
                setattr(owner, attr, original)

    def summary(self) -> dict[str, dict[str, float]]:
        """Calls and total seconds per (parent span > span) pair."""
        out: dict[str, dict[str, float]] = {}
        for s in self.spans:
            key = f"{s.parent or '-'} > {s.name}"
            agg = out.setdefault(key, {"calls": 0, "total_s": 0.0})
            agg["calls"] += 1
            agg["total_s"] = round(agg["total_s"] + s.seconds, 6)
        return out

    def within(self, name: str, windows: list[tuple[float, float]]) -> list[Span]:
        return [
            s for s in self.spans
            if s.name == name and any(a <= s.start and s.end <= b for a, b in windows)
        ]


def _rest_time(s: str | None) -> float | None:
    if not s:
        return None
    dt = datetime.strptime(s[:23], "%Y-%m-%dT%H:%M:%S.%f")
    return dt.replace(tzinfo=timezone.utc).timestamp()


def spark_jobs_and_stages(sc, windows: list[tuple[float, float]]):
    """Jobs submitted inside ``windows`` as ``(start, end)`` wall intervals,
    and the completed stages those jobs ran."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(path: str):
        with urllib.request.urlopen(base + path, timeout=30) as r:
            return json.loads(r.read())

    jobs, stage_ids = [], set()
    for j in get("/jobs"):
        t0, t1 = _rest_time(j.get("submissionTime")), _rest_time(j.get("completionTime"))
        if t0 is None or t1 is None:
            continue
        if any(a <= t0 <= b for a, b in windows):
            jobs.append((t0, t1))
            stage_ids.update(j.get("stageIds") or [])
    stages = [s for s in get("/stages?status=COMPLETE") if s["stageId"] in stage_ids]
    return jobs, stages


def covered(span: tuple[float, float], intervals: list[tuple[float, float]]) -> float:
    """Length of ``span`` covered by the union of ``intervals``."""
    a, b = span
    clipped = sorted((max(a, s), min(b, e)) for s, e in intervals if e > a and s < b)
    total, cur_s, cur_e = 0.0, None, None
    for s, e in clipped:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
