"""Commit log for the lake table: ordered JSON commit files + periodic checkpoints.

Analog of Iceberg's metadata/snapshot chain, sized down to what the engine
needs. Reference parity: the content-keyed task cache that makes re-ingest
idempotent (/root/reference/investigraph/pipeline.py:37-47,
/root/reference/investigraph/cache.py:41-45) becomes the ``(app_id, epoch_id)``
idempotency token stored on each commit — a re-delivered micro-batch finds its
token already committed and is skipped.

Scale notes (100 TB): state reconstruction is O(commits since last checkpoint)
— a checkpoint (full live-file list) is written every ``CHECKPOINT_EVERY``
commits, so tail replay stays bounded no matter how long the stream runs. The
log itself is tiny (file names + stats, not data). Concurrency: atomic O_EXCL
creation of the next version file (a conditional PUT on object stores) makes
version publication linearizable — a losing concurrent writer gets a clean
``FileExistsError``, which the table layer turns into an optimistic-concurrency
retry (``LakeTable._publish``): revalidate against the new head, republish at
the next version, data files untouched.
"""

from __future__ import annotations

import time
from collections.abc import Iterator
from dataclasses import dataclass, field
from typing import Any

from investigraph_etl_spark.storage import join, storage_for

CHECKPOINT_EVERY = 20
_LOG_DIR = "_log"


@dataclass
class Commit:
    version: int
    added: list[str] = field(default_factory=list)
    removed: list[str] = field(default_factory=list)
    schema: dict | None = None  # Spark StructType jsonValue
    n_buckets: int | None = None
    key_cols: list[str] | None = None
    mode: str | None = None  # "cow" | "mor" (set on the create commit)
    app_id: str | None = None
    epoch_id: int | None = None
    metrics: dict[str, Any] = field(default_factory=dict)
    committed_at: float = 0.0
    # per-file column bounds for the files this commit adds (zone maps for
    # data skipping — lake/stats.py): {rel_path: {col: {min, max, nulls}}}
    stats: dict[str, Any] = field(default_factory=dict)
    stats_cols: list[str] | None = None  # set on the create commit
    # identity of the key→bucket hash the data layout was written under
    # (set on the create and rebucket commits). The bucket function is part
    # of the PERSISTED format: a writer that buckets with a different hash
    # than the one the files were laid out with silently splits keys across
    # two live rows (COW merge never reads the old bucket) and mis-prunes
    # reads — so LakeTable.load refuses to open on mismatch.
    bucket_fn: str | None = None

    def to_json(self) -> dict:
        return {
            "version": self.version,
            "added": self.added,
            "removed": self.removed,
            "schema": self.schema,
            "n_buckets": self.n_buckets,
            "key_cols": self.key_cols,
            "mode": self.mode,
            "app_id": self.app_id,
            "epoch_id": self.epoch_id,
            "metrics": self.metrics,
            "committed_at": self.committed_at,
            "stats": self.stats,
            "stats_cols": self.stats_cols,
            "bucket_fn": self.bucket_fn,
        }


@dataclass
class TableState:
    version: int
    live_files: list[str]          # relative to the table's data dir
    schema: dict | None
    n_buckets: int
    key_cols: list[str]
    committed_epochs: set[tuple[str | None, int]]  # (app_id, epoch_id)
    mode: str = "cow"              # "cow" | "mor"
    file_stats: dict[str, Any] = field(default_factory=dict)  # zone maps
    stats_cols: list[str] = field(default_factory=list)
    bucket_fn: str | None = None  # layout hash identity (None = pre-stamp table)


class CommitLog:
    """All I/O via the control-plane storage interface (storage.py) — one
    LIST of the log prefix per state read, one exclusive PUT per commit."""

    def __init__(self, table_root: str) -> None:
        self.root = table_root
        self.fs = storage_for(table_root)
        self.log_dir = join(table_root, _LOG_DIR)

    # ---- paths ----------------------------------------------------------
    def _version_path(self, version: int) -> str:
        return join(self.log_dir, f"{version:020d}.json")

    def _checkpoint_path(self, version: int) -> str:
        return join(self.log_dir, f"{version:020d}.checkpoint.json")

    def exists(self) -> bool:
        return bool(self._list_versions())

    def _names(self) -> list[str]:
        return [
            n
            for n in self.fs.list_names(self.log_dir)
            if n.endswith(".json") and ".tmp." not in n
        ]

    def _list_versions(self) -> list[int]:
        return sorted(
            int(n.split(".")[0])
            for n in self._names()
            if not n.endswith(".checkpoint.json")
        )

    def _list_checkpoints(self) -> list[int]:
        return sorted(
            int(n.split(".")[0])
            for n in self._names()
            if n.endswith(".checkpoint.json")
        )

    # ---- read -----------------------------------------------------------
    def read_state(self, at_version: int | None = None) -> TableState | None:
        """Reconstruct table state (optionally as of an older version = time travel)."""
        versions = self._list_versions()
        if at_version is not None:
            versions = [v for v in versions if v <= at_version]
        if not versions:
            return None

        live: set[str] = set()
        schema = None
        n_buckets = 0
        key_cols: list[str] = []
        mode = "cow"
        epochs: set[tuple[str | None, int]] = set()
        file_stats: dict[str, Any] = {}
        stats_cols: list[str] = []
        bucket_fn: str | None = None

        start = 0
        cps = [c for c in self._list_checkpoints() if c <= versions[-1]]
        if cps:
            cp = self.fs.get_json(self._checkpoint_path(cps[-1]))
            live = set(cp["live_files"])
            schema = cp["schema"]
            n_buckets = cp["n_buckets"]
            key_cols = cp["key_cols"]
            epochs = {(a, e) for a, e in cp["committed_epochs"]}
            mode = cp.get("mode", "cow")
            file_stats = cp.get("file_stats", {})
            stats_cols = cp.get("stats_cols", [])
            bucket_fn = cp.get("bucket_fn")
            start = cp["version"]

        for v in versions:
            if v <= start:
                continue
            c = self.fs.get_json(self._version_path(v))
            live.difference_update(c["removed"])
            live.update(c["added"])
            for rm in c["removed"]:
                file_stats.pop(rm, None)
            file_stats.update(c.get("stats") or {})
            if c.get("stats_cols") is not None:
                stats_cols = c["stats_cols"]
            if c.get("bucket_fn") is not None:
                bucket_fn = c["bucket_fn"]
            if c.get("schema"):
                schema = c["schema"]
            if c.get("n_buckets"):
                n_buckets = c["n_buckets"]
            if c.get("key_cols"):
                key_cols = c["key_cols"]
            if c.get("mode"):
                mode = c["mode"]
            if c.get("epoch_id") is not None:
                epochs.add((c.get("app_id"), c["epoch_id"]))

        return TableState(
            version=versions[-1],
            live_files=sorted(live),
            schema=schema,
            n_buckets=n_buckets,
            key_cols=key_cols,
            committed_epochs=epochs,
            mode=mode,
            file_stats=file_stats,
            stats_cols=stats_cols,
            bucket_fn=bucket_fn,
        )

    def latest_version(self) -> int:
        vs = self._list_versions()
        return vs[-1] if vs else 0

    def versions(self) -> list[int]:
        """All committed versions, ascending (vacuum retention uses this)."""
        return self._list_versions()

    def commit_time(self, version: int) -> float:
        """``committed_at`` of one commit (0.0 for pre-timestamp commits)."""
        c = self.fs.get_json(self._version_path(version))
        return float(c.get("committed_at") or 0.0)

    def get(self, version: int) -> Commit:
        """One commit by version."""
        c = self.fs.get_json(self._version_path(version))
        kw = {k: c.get(k) for k in Commit.__dataclass_fields__}
        for k, empty in (("added", []), ("removed", []), ("metrics", {}), ("stats", {})):
            kw[k] = kw[k] or empty
        return Commit(**kw)

    def walk(self, since: int = 0, to: int | None = None) -> Iterator[Commit]:
        """Every committed version in ``(since, to]``, ascending: one LIST
        of the log prefix, then one GET per commit in the window. Unlike
        ``read_state`` it does not start from a checkpoint, so it sees the
        whole log — history, cumulative totals, lineage and changelog reads
        all walk it."""
        for v in self._list_versions():
            if since < v and (to is None or v <= to):
                yield self.get(v)

    # ---- write ----------------------------------------------------------
    def commit(self, commit: Commit) -> None:
        """Atomically publish the next commit. Exclusive put = conflict-safe:
        locally tmp+fsync+link, on object stores a conditional PUT — a second
        concurrent writer gets FileExistsError, never corruption."""
        commit.committed_at = time.time()
        self.fs.put_json(
            self._version_path(commit.version), commit.to_json(), exclusive=True
        )
        if commit.version % CHECKPOINT_EVERY == 0:
            self._write_checkpoint(commit.version)

    def change_window_files(
        self, fs, data_dir: str, since: int, to: int, mode: str
    ) -> list[tuple[str, int]]:
        """THE changelog commit classifier — the single definition of which
        commits in ``(since, to]`` carry logical change rows, shared by
        ``LakeTable.changes()`` (batch) and the ``lake_changes`` streaming
        source so the two faces can never disagree. Returns ``[(rel_file,
        commit_version)]``; skips physical-only commits (compaction /
        vacuum / rebucket — all marked ``metrics["compaction"]``), refuses
        COW merge commits, and probes that no contributing commit's files
        were vacuumed (a clear error beats a mid-scan failure)."""
        out: list[tuple[str, int]] = []
        seen_tokens: set[str] = set()
        for c in self.walk(since, to):
            v = c.version
            if c.metrics.get("compaction") or c.metrics.get("vacuum"):
                continue
            if v == 1 or not c.added:
                continue
            if mode != "mor" and c.removed:
                raise ValueError(
                    "changelog read across a copy-on-write MERGE commit "
                    f"(version {v}): COW rewrites mix changed and unchanged "
                    "rows; use mode='mor' tables for CDC-out"
                )
            for f in c.added:
                token = f.split("/", 1)[0]
                if token not in seen_tokens:
                    seen_tokens.add(token)
                    if not fs.exists(join(data_dir, token)):
                        raise FileNotFoundError(
                            f"changelog files of version {v} were vacuumed; "
                            "retain them with vacuum(retain_versions=...) to "
                            "keep the changelog window readable"
                        )
                out.append((f, v))
        return out

    def _write_checkpoint(self, version: int) -> None:
        state = self.read_state(at_version=version)
        if state is None:
            return
        cp = {
            "version": version,
            "live_files": state.live_files,
            "schema": state.schema,
            "n_buckets": state.n_buckets,
            "key_cols": state.key_cols,
            "mode": state.mode,
            "committed_epochs": sorted(
                [list(t) for t in state.committed_epochs], key=lambda t: (str(t[0]), t[1])
            ),
            "file_stats": state.file_stats,
            "stats_cols": state.stats_cols,
            "bucket_fn": state.bucket_fn,
        }
        self.fs.put_json(self._checkpoint_path(version), cp)
