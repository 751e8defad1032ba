"""The three closed-loop workloads, driven only through the engine's public API:
landing files → ``IngestPipeline.run_available_now()`` → ``LakeTable`` reads.

Each workload has three parts:

- ``setup()`` — seeded inputs, the replay oracle, log pre-ageing, and a
  fixed warm-up that runs the workload's own shape on a scratch table;
- ``unit(rec)`` — one closed-loop unit of the timed window (a backfill pass
  on a fresh table, or one tail round plus its reads), gated against the
  oracle as it goes;
- ``finish(rec)`` — full scans and table size on the last measured table.

All tables are 32-bucket merge-on-read tables.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import sys
import statistics
import tempfile
import time
import traceback
from dataclasses import dataclass, field

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
from investigraph_etl_spark.cdc.oracle import replay_oracle
from investigraph_etl_spark.lake.log import Commit, CommitLog
from investigraph_etl_spark.lake.table import LakeTable
from investigraph_etl_spark.streaming.ingest import IngestPipeline

import gate
import inputs

BUCKETS = 32


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


@contextlib.contextmanager
def step(name: str):
    """Time one set-up step (reported on stderr)."""
    t0 = time.perf_counter()
    yield
    log(f"{name}: {time.perf_counter() - t0:.2f} s")


@dataclass
class Record:
    """Samples of one timed window."""

    drain_s: list[float] = field(default_factory=list)
    windows: list[tuple[float, float]] = field(default_factory=list)
    events: int = 0
    epochs: list[dict] = field(default_factory=list)    # listener progress
    results: list[dict] = field(default_factory=list)   # engine epoch results
    lookup_s: list[float] = field(default_factory=list)
    prune: list[dict] = field(default_factory=list)
    changelog_s: list[float] = field(default_factory=list)
    bytes_written: int = 0
    attempted: int = 0
    failed: int = 0
    failed_epochs: int = 0

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        log(f"FAILED {what}")

    def fail_epochs(self, what: str, n: int) -> None:
        self.failed_epochs += n
        self.fail(what, n)


class Workload:
    name = ""
    #: nominal length of one closed-loop unit on the reference box (4
    #: cores); ``--seconds`` is turned into a fixed unit count with it, so
    #: every run of a workload, on any commit, does the same work
    UNIT_S = 1.0
    #: sizes for the smoke mode, overriding the class's sizes
    TINY: dict[str, int] = {}

    def __init__(self, spark, work_dir: str, seed: int, progress, tiny: bool = False) -> None:
        if tiny:
            self.__dict__.update(self.TINY)
        self.spark = spark
        self.dir = tempfile.mkdtemp(prefix=f"{self.name}-", dir=work_dir)
        self.seed = seed
        self.progress = progress
        self.rng = np.random.default_rng(seed + 17)
        self.last_table: str | None = None

    # ---- shared steps ---------------------------------------------------
    def drain(self, pipe: IngestPipeline, rec: Record | None, n_events: int) -> None:
        """One closed-loop drain of everything landed, recorded in ``rec``
        (``None`` during warm-up)."""
        n_prog, n_res = len(self.progress.batches), len(pipe.results)
        w0, t0 = time.time(), time.perf_counter()
        pipe.run_available_now()
        dt, w1 = time.perf_counter() - t0, time.time()
        new = pipe.results[n_res:]
        self.progress.wait_for(n_prog + len(new))
        trig = [b["ms"]["triggerExecution"] for b in self.progress.batches[n_prog:]]
        log(f"{'timed' if rec is not None else 'warm-up'} drain {dt:.2f} s, "
            f"epochs (ms) {trig}")
        if rec is not None:
            rec.drain_s.append(dt)
            rec.windows.append((w0, w1))
            rec.events += n_events
            rec.epochs.extend(self.progress.batches[n_prog:n_prog + len(new)])
            rec.results.extend(new)
            rec.attempted += len(new)

    def lookup(self, rec: Record, table: LakeTable, conv_id: str, want: pd.DataFrame) -> None:
        rec.attempted += 1
        report: dict = {}
        t0 = time.perf_counter()
        try:
            got = table.read(where=[("conv_id", "=", conv_id)], prune_report=report).toPandas()
        except Exception:  # a failed read is a failed operation, not a crash
            traceback.print_exc()
            rec.lookup_s.append(float("inf"))
            rec.fail(f"lookup {conv_id}")
            return
        rec.lookup_s.append(time.perf_counter() - t0)
        rec.prune.append(report)
        if gate.table_diff(got, want):
            rec.lookup_s[-1] = float("inf")
            rec.fail(f"lookup {conv_id}: rows differ from the oracle")

    def changelog(self, rec: Record, table: LakeTable, consumer: str, want: pd.DataFrame) -> None:
        rec.attempted += 1
        t0 = time.perf_counter()
        try:
            df, ack = table.consume_changes(consumer)
            got = df.toPandas()
            ack()
        except Exception:
            traceback.print_exc()
            rec.changelog_s.append(float("inf"))
            rec.fail(f"changelog read by {consumer}")
            return
        rec.changelog_s.append(time.perf_counter() - t0)
        if gate.changelog_diff(got, want):
            rec.changelog_s[-1] = float("inf")
            rec.fail(f"changelog read by {consumer}: rows differ from its window")

    def finish(self, rec: Record) -> dict[str, float]:
        """Full-scan time (median of 3 aggregates over ``LakeTable.read()``)
        and live-data bytes per live row, on the last measured table."""
        table = LakeTable.load(self.spark, self.last_table)
        scans, rows = [], 0
        for _ in range(3):
            t0 = time.perf_counter()
            rows = table.read().agg(F.count(F.lit(1)), F.sum(F.length("text"))).collect()[0][0]
            scans.append(time.perf_counter() - t0)
        live = table.log.read_state().live_files
        live_bytes = sum(os.path.getsize(os.path.join(table.data_dir, f)) for f in live)
        return {
            "full_scan_s": statistics.median(scans),
            "table_bytes_per_live_row": live_bytes / max(rows, 1),
            "live_files": len(live),
            "checkpoint_bytes": _checkpoint_bytes(self.last_table),
        }


def _checkpoint_bytes(root: str) -> int:
    log_dir = os.path.join(root, "_log")
    cps = sorted(n for n in os.listdir(log_dir) if n.endswith(".checkpoint.json"))
    return os.path.getsize(os.path.join(log_dir, cps[-1])) if cps else 0


class Backfill(Workload):
    """A fresh table per pass: ``EPOCHS`` epochs of ``FILES_PER_EPOCH``
    landing files each, drained in one ``run_available_now()``. After the
    drain: the full-table gate, then a serving probe (point lookups and one
    changelog read over the whole pass)."""

    EVENTS = 20_000
    EPOCHS = 4
    FILES_PER_EPOCH = 4
    WARM_EPOCHS = 2
    LOOKUPS = 4
    UNIT_S = 10.0
    TINY = {"EVENTS": 4_000, "EPOCHS": 3, "WARM_EPOCHS": 1, "LOOKUPS": 2}

    def make_tail(self) -> pd.DataFrame:
        raise NotImplementedError

    def setup(self) -> None:
        with step("inputs"):
            self.events = self.make_tail()
            self.land_dir = os.path.join(self.dir, "landing")
            paths = inputs.land(self.events, self.land_dir, self.FILES_PER_EPOCH)
        with step("oracle"):
            self.oracle = replay_oracle(self.events.drop(columns=["epoch"]))
            self.by_conv = dict(tuple(self.oracle.groupby("conv_id", sort=False)))
            self.empty = self.oracle.iloc[:0]
            self.changes = pd.concat(
                [inputs.batch_winners(part) for _, part in self.events.groupby("epoch")]
            )
        warm_dir = os.path.join(self.dir, "warm-landing")
        os.makedirs(warm_dir)
        for p in paths[: self.WARM_EPOCHS * self.FILES_PER_EPOCH]:
            shutil.copy2(p, warm_dir)
        self.passes = 0
        with step(f"warm-up ({self.WARM_EPOCHS} epochs)"):
            self._pass(warm_dir, "warm", None)

    def _pass(self, land_dir: str, tag: str, rec: Record | None) -> LakeTable:
        root = os.path.join(self.dir, f"table-{tag}")
        LakeTable.create(self.spark, root, TRANSCRIPT_SCHEMA, n_buckets=BUCKETS, mode="mor")
        pipe = IngestPipeline(
            self.spark, land_dir, root, os.path.join(self.dir, f"ckpt-{tag}"),
            max_files_per_trigger=self.FILES_PER_EPOCH,
        )
        self.drain(pipe, rec, len(self.events))
        return LakeTable.load(self.spark, root)

    def unit(self, rec: Record) -> None:
        tag = f"pass{self.passes}"
        self.passes += 1
        try:
            table = self._pass(self.land_dir, tag, rec)
        except Exception:
            traceback.print_exc()
            rec.attempted += self.EPOCHS
            rec.fail_epochs(f"{self.name} {tag}: ingest", self.EPOCHS)
            return
        self.last_table = table.root
        rec.bytes_written += inputs.dir_bytes(table.root)
        if gate.table_diff(table.read().toPandas(), self.oracle):
            rec.fail_epochs(f"{self.name} {tag}: table differs from the oracle", self.EPOCHS)
        convs = self.events["conv_id"].unique()
        for k in self.rng.choice(convs, size=min(self.LOOKUPS, len(convs)), replace=False):
            self.lookup(rec, table, str(k), self.by_conv.get(k, self.empty))
        self.changelog(rec, table, "probe", self.changes)

    def exhausted(self) -> bool:
        return False


class BackfillDup(Backfill):
    name = "backfill_dup"

    def make_tail(self) -> pd.DataFrame:
        return inputs.dup_tail(self.EVENTS, self.EPOCHS, self.seed)


class BackfillUnique(Backfill):
    name = "backfill_unique"

    def make_tail(self) -> pd.DataFrame:
        return inputs.unique_tail(self.EVENTS, self.EPOCHS, self.seed)


class TailServe(Workload):
    """Small epochs into one long-lived, keyset-indexed table whose commit
    log was pre-aged. One round = land one file, drain it, then (between
    writes, never alongside) point lookups on keys that round wrote, one
    ``consume_changes`` delta read and its ``ack()``."""

    name = "tail_serve"
    EVENTS_PER_EPOCH = 2_000
    #: parquet Bloom filter size for the keyset column, set to the most
    #: distinct conversations one file of this table can hold (the whole
    #: tail has ``events/50``). At the engine default (100k) every file that
    #: parquet writes PLAIN-encoded carries a 128 KB filter; see NOTES.md.
    BLOOM_NDV = 2_000
    EPOCHS_PER_ROUND = 1
    MAX_ROUNDS = 8
    WARM_ROUNDS = 1
    PREAGE_COMMITS = 1_000
    LOOKUPS = 3
    UNIT_S = 3.5
    TINY = {
        "EVENTS_PER_EPOCH": 300, "MAX_ROUNDS": 2,
        "PREAGE_COMMITS": 25, "LOOKUPS": 2,
    }

    def setup(self) -> None:
        n_epochs = (self.MAX_ROUNDS + self.WARM_ROUNDS) * self.EPOCHS_PER_ROUND
        with step("inputs"):
            self.events = inputs.dup_tail(self.EVENTS_PER_EPOCH * n_epochs, n_epochs, self.seed)
            staged = inputs.land(self.events, os.path.join(self.dir, "staged"), 1)
        # round r lands epochs [r * EPOCHS_PER_ROUND, (r + 1) * EPOCHS_PER_ROUND)
        self.staged = [
            staged[r * self.EPOCHS_PER_ROUND:(r + 1) * self.EPOCHS_PER_ROUND]
            for r in range(self.MAX_ROUNDS + self.WARM_ROUNDS)
        ]
        self.rounds = 0
        self.seen: list[pd.DataFrame] = []

        # the served table: a commit log pre-aged with token-only commits,
        # and a consumer whose cursor is already at the head
        self.root = os.path.join(self.dir, "table")
        with step(f"pre-age ({self.PREAGE_COMMITS} commits)"):
            table = self._create(self.root)
            log = CommitLog(self.root)
            v = log.latest_version()
            for i in range(self.PREAGE_COMMITS):
                v += 1
                log.commit(Commit(version=v, app_id="pre-aged-stream", epoch_id=i))
        with step("consumer cursor"):
            table.consume_changes("serve")[1]()
        self.land_dir = os.path.join(self.dir, "landing")
        os.makedirs(self.land_dir)
        self.pipe = IngestPipeline(
            self.spark, self.land_dir, self.root, os.path.join(self.dir, "ckpt"),
            max_files_per_trigger=1,
        )
        self.table = LakeTable.load(self.spark, self.root)
        self.last_table = self.root

        # warm-up: the same round shape on a scratch table
        scratch_root = os.path.join(self.dir, "scratch-table")
        scratch = self._create(scratch_root)
        scratch_land = os.path.join(self.dir, "scratch-landing")
        os.makedirs(scratch_land)
        pipe = IngestPipeline(
            self.spark, scratch_land, scratch_root, os.path.join(self.dir, "scratch-ckpt"),
            max_files_per_trigger=1,
        )
        scratch_rec = Record()
        for r in range(self.MAX_ROUNDS, self.MAX_ROUNDS + self.WARM_ROUNDS):
            with step(f"warm-up round {r - self.MAX_ROUNDS}"):
                for path in self.staged[r]:
                    shutil.copy2(path, scratch_land)
                self.drain(pipe, None, 0)
                part, window = self._round(r)
                for k in part["conv_id"].unique()[: self.LOOKUPS]:
                    scratch.read(where=[("conv_id", "=", k)]).toPandas()
                self.changelog(scratch_rec, scratch, "warm", window)
        if scratch_rec.failed:
            raise RuntimeError("tail_serve warm-up changelog read failed the gate")

    def _create(self, root: str) -> LakeTable:
        return LakeTable.create(
            self.spark, root, TRANSCRIPT_SCHEMA, n_buckets=BUCKETS, mode="mor",
            keyset_col="conv_id", keyset_bloom_ndv=self.BLOOM_NDV,
        )

    def _round(self, r: int) -> tuple[pd.DataFrame, pd.DataFrame]:
        """Round ``r``'s events, and the changelog rows its epochs commit."""
        first = r * self.EPOCHS_PER_ROUND
        epochs = range(first, first + self.EPOCHS_PER_ROUND)
        part = self.events[self.events["epoch"].isin(epochs)]
        window = pd.concat(
            [inputs.batch_winners(part[part["epoch"] == e]) for e in epochs]
        )
        return part, window

    def exhausted(self) -> bool:
        return self.rounds >= self.MAX_ROUNDS

    def unit(self, rec: Record) -> None:
        r = self.rounds
        self.rounds += 1
        part, window = self._round(r)
        self.seen.append(part)
        for path in self.staged[r]:
            shutil.move(path, self.land_dir)
        before = inputs.dir_bytes(self.root)
        try:
            self.drain(self.pipe, rec, len(part))
        except Exception:
            traceback.print_exc()
            rec.attempted += self.EPOCHS_PER_ROUND
            rec.fail_epochs(f"tail_serve round {r}: ingest", self.EPOCHS_PER_ROUND)
            return
        rec.bytes_written += inputs.dir_bytes(self.root) - before
        convs = part["conv_id"].unique()
        keys = [str(k) for k in self.rng.choice(convs, size=min(self.LOOKUPS, len(convs)), replace=False)]
        so_far = pd.concat(self.seen)
        want = replay_oracle(so_far[so_far["conv_id"].isin(keys)].drop(columns=["epoch"]))
        for k in keys:
            self.lookup(rec, self.table, k, want[want["conv_id"] == k])
        self.changelog(rec, self.table, "serve", window)

    def finish(self, rec: Record) -> dict[str, float]:
        """Gate the whole served table against the oracle of every landed
        round, then measure it."""
        got = self.table.read().toPandas()
        if gate.table_diff(got, replay_oracle(pd.concat(self.seen).drop(columns=["epoch"]))):
            rec.fail_epochs("tail_serve: table differs from the oracle", len(rec.epochs))
        return super().finish(rec)


WORKLOADS = {w.name: w for w in (BackfillDup, BackfillUnique, TailServe)}
