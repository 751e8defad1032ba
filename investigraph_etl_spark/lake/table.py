"""LakeTable — bucketed, transactional parquet table with copy-on-write MERGE.

Physical layout::

    <root>/_log/00000000000000000001.json       commit chain (see log.py)
    <root>/data/commit=<token>/bucket=<i>/part-*.parquet

Key design decisions, each driven by 100 TB scale:

- **Hash-bucketed by conv_id** (``pmod(murmur3(conv_id), n_buckets)``, see
  ``_bucket_sql``): a MERGE reads and rewrites ONLY the buckets its batch
  touches — file-level partition pruning without a metastore. A micro-batch
  touching 1% of conversations rewrites ~1% of the table, not all of it.
  turn_idx stays inside the bucket so a whole conversation is co-located.
- **Bucket pruning**: every generation of a key sits in the key's bucket, so
  ``read(where=[("conv_id", "=", k)])`` keeps only the files of bucket
  ``pmod(murmur3(k), n_buckets)`` (the ``n_buckets`` of the version read) —
  a point lookup scans ~1/n_buckets of the table, MOR-safe for the same
  reason key zone maps are.
- **LWW state lives in the table** as hidden columns ``_ts``/``_seq``/
  ``_deleted``: cross-epoch conflicts (late update after delete, duplicate
  epochs) resolve by comparing stamps, so the MERGE is a pure idempotent
  function of (table state, batch) — reapplying any batch is a no-op.
  Tombstones are physical rows (filtered on read) so a stale update can never
  resurrect a deleted turn; ``vacuum`` can age them out.
- **MERGE = union + max_by re-reduce**, not a join: old rows of touched
  buckets become pseudo-events and are re-reduced with the batch winners by
  the same ``resolve_lww`` aggregation. One shuffle, over data that must be
  rewritten anyway; no broadcast needed, no skew-sensitive join. (With a real
  Iceberg catalog this function body becomes ``MERGE INTO``.)
- **Additive schema evolution**: new event columns widen the table schema on
  commit; old files are read with the widened schema (missing columns → null),
  mirroring the reference's tolerance for new record keys
  (/root/reference/investigraph/model/mapping.py:9-29). Type changes/drops are
  rejected.
- **Exactly-once**: each MERGE carries an ``(app_id, epoch_id)`` token stored
  in the commit log; a re-delivered micro-batch (foreachBatch retry, stream
  restart) is detected and skipped before any work happens.
- **Zone-map data skipping**: every write records per-file min/max bounds of
  the ``stats_cols`` (parquet-footer ranged reads, O(KB)/file) in the commit
  log; ``read(where=...)`` prunes provably-unmatchable files driver-side
  before the scan — the Iceberg-manifest-bounds / Delta-file-stats pattern
  (lake/stats.py; MOR prunes key columns only — payload bounds could drop an
  LWW winner).

Reference parity for the sink itself: keyed idempotent upsert store
(/root/reference/investigraph/logic/load.py:25-31) and fragment append
(/root/reference/investigraph/logic/load.py:44-54).
"""

from __future__ import annotations

import time
import uuid
import warnings
from typing import Any

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from investigraph_etl_spark.cdc.events import KEY_COLS
from investigraph_etl_spark.lake.log import Commit, CommitLog
from investigraph_etl_spark.lake.stats import (
    collect_file_stats,
    preds_to_column,
    prune_files,
    validate_preds,
)
from investigraph_etl_spark.profiling import phase
from investigraph_etl_spark.storage import join, storage_for

HIDDEN_COLS = ("_ts", "_seq", "_deleted")
_BUCKET_COL = "bucket"  # physical partition dir column; reserved name
_COMMIT_COL = "commit"  # physical partition dir column naming the write

#: Identity of the key→bucket hash this code lays data out with. Stamped
#: into the create()/rebucket() commit and validated at load(): the bucket
#: function is part of the persisted format — writing murmur3 buckets into
#: an xxhash64-era layout would leave two live rows per key (COW merge only
#: reads the buckets IT computes as touched) and mis-prune reads. Bump the
#: suffix if the expression in ``_bucket_sql`` ever changes.
BUCKET_FN = "murmur3_pmod_v1"


def _bucket_sql(n_buckets: int, key: str = "conv_id") -> str:
    """Bucket of a key = ``pmod(murmur3(key), n_buckets)`` — THE key→bucket
    rule, as a SQL expression over ``key`` (a column name or SQL
    expression, default ``conv_id``). The writer, the COW touched set and
    read pruning all go through it (``_bucket_expr`` is its Column face).
    ``key`` must carry the table's PHYSICAL conv_id type
    (``_physical_key``): murmur3 hashes the value's binary form, so an int
    5 and the string ``'5'`` land in different buckets."""
    return f"cast(pmod(hash({key}), {int(n_buckets)}) as int)"


def _bucket_expr(n_buckets: int, key: str = "conv_id") -> Column:
    """``_bucket_sql`` as a Column."""
    return F.expr(_bucket_sql(n_buckets, key))


def _physical_key(st) -> str:
    """SQL for ``conv_id`` cast to table state ``st``'s PHYSICAL conv_id
    type — the bucket rule's input for rows not yet in table form
    (canonical events)."""
    dtype = T.StructType.fromJson(st.schema)["conv_id"].dataType
    return f"cast(conv_id as {dtype.simpleString()})"


def _bucket_of(rel_path: str) -> int | None:
    """Bucket id of a data-relative file path (layout-agnostic: finds the
    ``bucket=<i>`` component wherever it sits)."""
    for comp in rel_path.split("/"):
        if comp.startswith(f"{_BUCKET_COL}="):
            return int(comp.split("=", 1)[1])
    return None


class EpochAlreadyApplied(Exception):
    """Raised (or signalled via merge() return) when an epoch token was already committed."""


#: Optimistic-concurrency commit attempts before giving up (pathological
#: contention — dozens of writers racing on one table).
MAX_COMMIT_ATTEMPTS = 12

#: Default ``vacuum`` grace for unreferenced files (Delta-style retention):
#: the OCC protocol makes "files landed at final paths, commit not yet
#: published" a normal long-lived state (up to MAX_COMMIT_ATTEMPTS control-
#: plane retries), so reclaiming young orphans by default would race writers.
#: Pass ``orphan_grace_s=0.0`` explicitly for known single-writer maintenance.
DEFAULT_ORPHAN_GRACE_S = 300.0


class BucketFnMismatch(RuntimeError):
    """The table's persisted bucket layout was written by a different
    key→bucket hash than this code uses (or predates stamping, so the
    layout hash is unknown). Opening it for writes would corrupt LWW
    semantics; ``LakeTable.load(..., check_bucket_fn=False)`` opens it
    anyway so ``rebucket()`` can migrate the layout."""


class CommitConflict(RuntimeError):
    """A commit lost the optimistic-concurrency race ``MAX_COMMIT_ATTEMPTS``
    times in a row. The attempt's data files have been discarded; the table
    is untouched and the operation can be retried."""


class _EpochRace(Exception):
    """Internal: a concurrent writer committed our (app_id, epoch_id) token
    while our attempt was in flight — the merge must become a skipped no-op."""


class _StaleInputs(Exception):
    """Internal: a concurrent commit changed the files this operation read
    (COW rewrite of the same buckets, compaction inputs superseded) — the
    written output no longer reflects table state and must be recomputed."""


class LakeTable:
    #: class-level default so instances built without __init__ (tests /
    #: serialization) still get layout enforcement rather than an
    #: AttributeError; load(check_bucket_fn=False) overrides per-instance
    _allow_foreign_layout = False

    def __init__(self, spark: SparkSession, root: str) -> None:
        self.spark = spark
        self.root = root
        self.fs = storage_for(root)  # control plane; data plane = Spark/Hadoop FS
        self.data_dir = join(root, "data")
        self.log = CommitLog(root)
        #: migration escape hatch (load(check_bucket_fn=False)): lets
        #: rebucket() run on a foreign/unstamped layout. Everything else
        #: refuses via _state() — reads mis-prune and writes split keys on
        #: a layout hashed by a different bucket function.
        self._allow_foreign_layout = False

    # ------------------------------------------------------------------ setup
    @classmethod
    def create(
        cls,
        spark: SparkSession,
        root: str,
        schema: T.StructType,
        n_buckets: int = 16,
        key_cols: tuple[str, ...] = KEY_COLS,
        mode: str = "cow",
        stats_cols: tuple[str, ...] | None = None,
        keyset_col: str | None = None,
        keyset_bits: int | None = None,
        keyset_bloom_ndv: int | None = None,
    ) -> "LakeTable":
        """Create an empty table (commit 1 = schema + layout + mode, no files).

        ``stats_cols``: columns whose per-file min/max bounds are recorded in
        the commit log at write time (parquet-footer reads only — one ranged
        GET per new file) and used by ``read(where=...)`` to skip files
        (lake/stats.py). Default: the key columns + ``ts``. Pass ``()`` to
        disable stats collection.

        ``keyset_col``, ``keyset_bits``, ``keyset_bloom_ndv``: deprecated
        and ignored (passing any of them emits a ``DeprecationWarning``).
        They named a per-file key-bitmap tier that bucket pruning made
        redundant for ``conv_id = k`` lookups, and that returned superseded
        rows when the column was a MOR payload column. They are accepted
        only so existing callers keep running, and will be removed once
        ``perfbench/workloads.py`` stops passing them.

        ``mode``:

        - ``"cow"`` (copy-on-write): MERGE rewrites every touched bucket —
          reads pay nothing, writes pay O(touched table data). Right when
          batches touch few buckets or reads dominate.
        - ``"mor"`` (merge-on-read): MERGE appends the resolved batch as a new
          file generation — writes pay O(batch) regardless of table size;
          reads LWW-reduce across generations; background compaction
          (automatic past ``compact_threshold`` generations per bucket) bounds
          read amplification. Right for high-rate ingest — the 10^10-event
          CDC tail — exactly like Iceberg v2 MOR + equality deletes.
        """
        if mode not in ("cow", "mor"):
            raise ValueError(f"unknown table mode: {mode!r}")
        t = cls(spark, root)
        if t.log.exists():
            raise FileExistsError(f"table already exists at {root}")
        physical = T.StructType(
            list(schema.fields)
            + [
                T.StructField("_ts", T.TimestampType(), True),
                T.StructField("_seq", T.LongType(), True),
                T.StructField("_deleted", T.BooleanType(), False),
            ]
        )
        if stats_cols is None:
            stats_cols = tuple(key_cols) + (("ts",) if "ts" in schema.names else ())
        if (keyset_col, keyset_bits, keyset_bloom_ndv) != (None, None, None):
            warnings.warn(
                "LakeTable.create: keyset_col, keyset_bits and keyset_bloom_ndv "
                "are ignored (bucket pruning serves conv_id point lookups)",
                DeprecationWarning,
                stacklevel=2,
            )
        t.log.commit(
            Commit(
                version=1,
                schema=physical.jsonValue(),
                n_buckets=n_buckets,
                key_cols=list(key_cols),
                mode=mode,
                stats_cols=list(stats_cols),
                bucket_fn=BUCKET_FN,
            )
        )
        return t

    @classmethod
    def load(
        cls, spark: SparkSession, root: str, check_bucket_fn: bool = True
    ) -> "LakeTable":
        """Open an existing table.

        ``check_bucket_fn=False`` is the migration escape hatch for
        foreign/unstamped bucket layouts: it opens the table without the
        layout guard so ``rebucket()`` can rewrite it under the current
        bucket function. With the default, the guard is enforced lazily by
        ``_state()`` on every state read (zero extra control-plane I/O —
        and immune to the table being replaced underneath a long-lived
        process, which a load-time-only check would miss)."""
        t = cls(spark, root)
        if not t.log.exists():
            raise FileNotFoundError(f"no lake table at {root}")
        if not check_bucket_fn:
            t._allow_foreign_layout = True
        return t

    # ------------------------------------------------------------------ state
    def _state(self, at_version: int | None = None):
        st = self.log.read_state(at_version)
        if st is None:
            raise FileNotFoundError(f"no lake table at {self.root}")
        # the bucket function is part of the persisted format: enforce on
        # every state read (reads prune by computed bucket, writes route by
        # it), not just at load — a table swapped/restored underneath a
        # long-lived process must still refuse
        if not self._allow_foreign_layout and st.bucket_fn != BUCKET_FN:
            layout = st.bucket_fn or "UNSTAMPED (pre-stamping; possibly xxhash64-era)"
            raise BucketFnMismatch(
                f"table at {self.root} has bucket layout {layout}, this "
                f"code uses {BUCKET_FN}. Reads would mis-prune and writes "
                "would split keys across buckets. Migrate with "
                "LakeTable.load(spark, root, check_bucket_fn=False)"
                ".rebucket(n_buckets) — rebucket recomputes every row's "
                "bucket with the current function and stamps the layout."
            )
        return st

    @property
    def version(self) -> int:
        return self._state().version

    def physical_schema(self, at_version: int | None = None) -> T.StructType:
        return T.StructType.fromJson(self._state(at_version).schema)

    def schema(self) -> T.StructType:
        """Public (logical) schema: physical minus hidden columns."""
        return T.StructType(
            [f for f in self.physical_schema().fields if f.name not in HIDDEN_COLS]
        )

    def committed_epochs(self) -> set[tuple[str | None, int]]:
        return self._state().committed_epochs

    # ------------------------------------------------------------------ read
    def _read_files(
        self, files: list[str], schema: T.StructType, with_bucket: bool = False
    ) -> DataFrame:
        reader_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField(_COMMIT_COL, T.StringType(), True),
                T.StructField(_BUCKET_COL, T.IntegerType(), True),
            ]
        )
        if not files:
            df = self.spark.createDataFrame([], reader_schema)
        else:
            paths = [join(self.data_dir, f) for f in files]
            # Explicit schema: files written before a column existed read as null
            # (additive evolution); basePath materializes the commit/bucket
            # partition columns from the directory layout.
            df = (
                self.spark.read.schema(reader_schema)
                .option("basePath", self.data_dir)
                .parquet(*paths)
            )
        df = df.drop(_COMMIT_COL)
        return df if with_bucket else df.drop(_BUCKET_COL)

    def _collect_stats(self, added: list[str], st) -> dict:
        """Zone maps for freshly written files: one parquet-footer read per
        file through the storage interface (ranged GETs — O(KB) per file,
        driver-side, same cost class as the manifest LIST). Recorded in the
        commit so ``read(where=...)`` can skip files without data-plane I/O."""
        if not (st.stats_cols and added):
            return {}
        return collect_file_stats(self.fs, self.data_dir, added, st.stats_cols)

    def _prune_spec(self, st) -> tuple[set, set]:
        """(fully-prunable cols, monotone-only cols) for this table's mode.

        COW: one version per key on disk — every stats column prunes under
        any op. MOR: only key columns prune unconditionally (a reduction
        group fails a key predicate in every generation or in none); the LWW
        stamp's public face (``ts``) additionally prunes under ``>``/``>=``
        — see lake/stats.py prune_files for the winner-monotonicity proof.
        """
        prunable = set(st.stats_cols)
        if st.mode != "mor":
            return prunable, set()
        monotone = {"ts"} & prunable
        return prunable & set(st.key_cols), monotone

    def _pruned_files(self, st, preds) -> tuple[list[str], int]:
        """Zone-map pruning, then bucket pruning for ``conv_id = k`` (both
        MOR-safe: each drops a key's generations all together or not at
        all; lake/stats.py for the zone-map proofs)."""
        prunable, monotone = self._prune_spec(st)
        files, n = prune_files(st.live_files, st.file_stats, preds, prunable, monotone)
        if st.n_buckets <= 1:
            return files, n
        # Each literal is read in conv_id's PHYSICAL type: murmur3 is
        # type-sensitive, so e.g. an int literal against a string column
        # would otherwise hash to the wrong bucket and prune files that hold
        # the key. A literal that does not cast (null) prunes nothing.
        dtype = T.StructType.fromJson(st.schema)["conv_id"].dataType.simpleString()
        args: dict[str, Any] = {}
        buckets: list[str] = []
        for pcol, op, val in preds:
            if pcol != "conv_id" or op != "=" or val is None:
                continue
            k = f"k{len(args)}"
            args[k] = val
            lit = f"try_cast(:{k} as {dtype})"
            buckets.append(f"if({lit} is null, null, {_bucket_sql(st.n_buckets, lit)})")
        if not buckets:
            return files, n
        # ONE 1-row select computes every bucket BY Spark, so they are
        # bit-identical to the write side's murmur3. Over a VALUES row the
        # optimizer folds it to constants on the driver: no Spark job per
        # lookup.
        row = self.spark.sql(
            f"SELECT {', '.join(buckets)} FROM VALUES (0)", args=args
        ).first()
        for b in row:
            if b is not None:
                kept = [f for f in files if _bucket_of(f) in (b, None)]
                n += len(files) - len(kept)
                files = kept
        return files, n

    def files_for(
        self,
        where: list[tuple[str, str, Any]] | None = None,
        at_version: int | None = None,
    ) -> tuple[list[str], int]:
        """(files read(where=...) would scan, number pruned by zone maps and
        buckets) — the observability/test surface for data skipping."""
        st = self._state(at_version)
        if not where:
            return list(st.live_files), 0
        return self._pruned_files(st, validate_preds(where))

    def _reduce_physical(self, df: DataFrame, physical: T.StructType) -> DataFrame:
        """LWW-reduce physical rows to one winner per key by (_ts, _seq).

        The merge-on-read kernel: same max_by partial-agg shape as
        cdc/resolve.py, over the stored stamp columns.
        """
        rest = [f.name for f in physical.fields if f.name not in KEY_COLS]
        cand = F.struct(*[F.col(c) for c in rest])
        stamp = F.struct(F.col("_ts"), F.col("_seq"))
        reduced = df.groupBy(*KEY_COLS).agg(F.max_by(cand, stamp).alias("w"))
        return reduced.select(
            *KEY_COLS, *[F.col(f"w.{c}").alias(c) for c in rest]
        )

    def read(
        self,
        at_version: int | None = None,
        where: list[tuple[str, str, Any]] | None = None,
        prune_report: dict | None = None,
    ) -> DataFrame:
        """Live rows, public schema (tombstones and hidden columns stripped).

        COW tables hold one version per key on disk — plain scan. MOR tables
        LWW-reduce across file generations first (one hash-agg keyed on the
        table key; partition pruning/bucketing still applies upstream).

        ``where``: AND-ed simple predicates ``[(col, op, literal), ...]``
        (ops ``= < <= > >=``). Files whose recorded zone maps prove no match
        are skipped BEFORE the scan (lake/stats.py); ``conv_id = k`` further
        keeps only the files of k's bucket (under the ``n_buckets`` of the
        version read, so time travel across ``rebucket()`` prunes right).
        The predicate is then also applied as a normal Spark filter, so the
        result is identical to filtering a full read — pruning only removes
        I/O. On MOR tables only key-column predicates prune files (a payload
        bound could drop the LWW winner while keeping a stale loser);
        payload predicates still filter, post-reduction.
        """
        st = self._state(at_version)
        schema = T.StructType.fromJson(st.schema)
        files = st.live_files
        cond = None
        if where:
            preds = validate_preds(where)
            files, pruned = self._pruned_files(st, preds)
            cond = preds_to_column(preds)
            if prune_report is not None:  # observability without re-pruning
                prune_report.update(files_scanned=len(files), files_pruned=pruned)
        df = self._read_files(files, schema)
        if st.mode == "mor":
            df = self._reduce_physical(df, schema)
        public = [f.name for f in schema.fields if f.name not in HIDDEN_COLS]
        out = df.filter(~F.col("_deleted")).select(*public)
        return out.filter(cond) if cond is not None else out

    def changes(
        self,
        since_version: int,
        to_version: int | None = None,
        with_stamps: bool = False,
    ) -> DataFrame:
        """Incremental changelog: the logical change rows committed in
        versions ``(since_version, to_version]`` — the "CDC out" face of the
        table (Iceberg incremental scan / changelog view analog), so a
        downstream pipeline can consume exactly the delta instead of
        re-scanning 10^10 rows.

        Returns the public columns plus ``_change_type`` (``upsert`` |
        ``delete``) and ``_commit_version`` (``with_stamps=True`` adds the
        LWW stamp columns ``_ts``/``_seq`` — what downstream replication
        needs to re-apply changes with exact conflict resolution). Cost
        scales with the DELTA only:
        the commit walk is control-plane, and the scan touches just the files
        those commits added.

        Requires ``mode="mor"`` for merge commits: a MOR merge's added files
        ARE the resolved change batch (one LWW winner per key per epoch,
        tombstones included), so the changelog is exact. A COW merge rewrites
        whole buckets — its files mix changed and carried-over rows, which
        cannot be split back into a delta without diffing versions; asking
        for a changelog across one raises ``ValueError``. ``append`` commits
        are logical inserts in either mode. Compaction and vacuum commits
        are physical-only (no logical change) and are skipped; a window
        where compaction already superseded an epoch's files still yields
        that epoch's rows from the ORIGINAL files as long as they are not
        vacuumed — ``vacuum(retain_versions=...)`` is the changelog-retention
        knob, exactly as in Iceberg.
        """
        st = self._state(to_version)
        to_v = st.version
        if since_version > to_v:
            raise ValueError(f"since_version {since_version} > version {to_v}")
        schema = T.StructType.fromJson(st.schema)
        # ONE shared classifier decides which commits carry logical changes
        # (also used by the lake_changes streaming source — log.py)
        pairs = self.log.change_window_files(
            self.fs, self.data_dir, since_version, to_v, st.mode
        )
        files = [f for f, _v in pairs]
        # dir name "commit=<token>"; the materialized partition column
        # holds the bare token
        token_version = {
            f.split("/", 1)[0].split("=", 1)[1]: v for f, v in pairs
        }

        reader_schema = T.StructType(
            list(schema.fields)
            + [
                T.StructField(_COMMIT_COL, T.StringType(), True),
                T.StructField(_BUCKET_COL, T.IntegerType(), True),
            ]
        )
        stamp_cols = ["_ts", "_seq"] if with_stamps else []
        if not token_version:
            empty = self.spark.createDataFrame([], reader_schema)
            public = [f.name for f in schema.fields if f.name not in HIDDEN_COLS]
            return empty.select(
                *public,
                *stamp_cols,
                F.lit("upsert").alias("_change_type"),
                F.lit(0).cast("long").alias("_commit_version"),
            ).limit(0)

        df = (
            self.spark.read.schema(reader_schema)
            .option("basePath", self.data_dir)
            .parquet(*[join(self.data_dir, f) for f in files])
        )
        ver_map = F.create_map(
            *[x for t, v in token_version.items() for x in (F.lit(t), F.lit(v))]
        )
        public = [f.name for f in schema.fields if f.name not in HIDDEN_COLS]
        return df.select(
            *public,
            *stamp_cols,
            F.when(F.col("_deleted"), F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("_change_type"),
            F.element_at(ver_map, F.col(_COMMIT_COL))
            .cast("long")
            .alias("_commit_version"),
        )

    def consume_changes(self, consumer_id: str, with_stamps: bool = False):
        """Consumer-group changelog consumption: ``(df, ack)`` where ``df``
        is :meth:`changes` since this consumer's last acknowledged version
        and calling ``ack()`` advances its cursor to the version the batch
        was cut at.

        The cursor is one tiny JSON object per consumer under
        ``_consumers/`` (control-plane storage — works on object stores).
        Crash between processing and ``ack()`` ⇒ the next call redelivers
        the same window: **at-least-once**, the standard CDC-consumer
        contract; downstream sinks dedupe idempotently by
        ``(key, _commit_version)`` exactly as this engine's own ingest
        dedupes epochs. Independent consumer_ids have independent cursors.
        """
        path = join(self.root, "_consumers", f"{consumer_id}.json")
        last = 0
        if self.fs.exists(path):
            last = int(self.fs.get_json(path)["version"])
        cur = self.version
        df = self.changes(last, cur, with_stamps=with_stamps)

        def ack() -> int:
            self.fs.put_json(path, {"version": cur, "consumer": consumer_id})
            return cur

        ack.window = (last, cur)  # consumed range, pre-ack (replication token)
        return df, ack

    def read_physical(self, buckets: list[int] | None = None) -> DataFrame:
        """All physical rows incl. tombstones; optionally pruned to buckets."""
        st = self._state()
        files = st.live_files
        if buckets is not None:
            want = set(buckets)
            files = [f for f in files if _bucket_of(f) in want]
        return self._read_files(files, T.StructType.fromJson(st.schema))

    # ------------------------------------------------------------------ write
    #: Permitted lossless type promotions (Iceberg's widening set): integral
    #: rank upward, float→double. Old data files keep their narrow physical
    #: type — Spark 4's parquet readers read them under the widened schema
    #: directly (SPARK-40876 type promotion), so widening is a pure
    #: commit-log schema change with zero data rewrite.
    _INT_RANK = {T.ByteType: 0, T.ShortType: 1, T.IntegerType: 2, T.LongType: 3}
    _FLOAT_RANK = {T.FloatType: 0, T.DoubleType: 1}

    @classmethod
    def _widens(cls, frm: T.DataType, to: T.DataType) -> bool:
        for ranks in (cls._INT_RANK, cls._FLOAT_RANK):
            if type(frm) in ranks and type(to) in ranks:
                return ranks[type(frm)] < ranks[type(to)]
        return False

    def _evolve_schema(
        self,
        current: T.StructType,
        batch_cols: list[tuple[str, T.DataType]],
    ) -> T.StructType:
        """Widen the physical schema with new payload columns (additive) and
        lossless type promotions (int→long, float→double — ``_widens``).
        A batch NARROWER than the table is fine too (it casts up at write).
        Anything else — type change across families, drops — is rejected."""
        names = {f.name for f in current.fields}
        fields = list(current.fields)
        hidden = [f for f in fields if f.name in HIDDEN_COLS]
        visible = [f for f in fields if f.name not in HIDDEN_COLS]
        for name, dtype in batch_cols:
            if isinstance(dtype, T.NullType):
                # An all-null batch column carries no type information (pandas
                # all-None inference); keep/ignore, cast handled at select time.
                continue
            if name in names:
                existing = current[name].dataType
                if existing == dtype or self._widens(dtype, existing):
                    continue  # identical, or narrower batch → casts up
                if self._widens(existing, dtype):
                    visible = [
                        T.StructField(name, dtype, True) if f.name == name else f
                        for f in visible
                    ]
                    continue
                raise TypeError(
                    f"schema evolution is additive/widening-only: column "
                    f"{name!r} is {existing.simpleString()}, batch has "
                    f"{dtype.simpleString()}"
                )
            else:
                visible.append(T.StructField(name, dtype, True))
        return T.StructType(visible + hidden)

    def _write_data(
        self,
        df: DataFrame,
        n_buckets: int,
        n_touched: int | None = None,
        cluster_by: list[str] | None = None,
    ) -> list[str]:
        """Write df (must contain the bucket col) into data/, return new rel paths.

        Object-store-safe commit: tasks write DIRECTLY to the final location
        ``data/commit=<token>/bucket=<i>/`` — a fresh token per write, so
        nothing is ever renamed (a rename is a full copy on S3-class stores)
        and the driver's only post-write work is ONE recursive LIST of the
        token's directory to build the manifest. Files become live only when
        the commit log references them; a crashed write leaves an orphaned
        token directory that ``vacuum`` reclaims.

        The frame is hash-repartitioned on the bucket column so each bucket
        lands in one task → O(touched buckets) files per commit.
        """
        token = uuid.uuid4().hex[:12]
        dest = join(self.data_dir, f"{_COMMIT_COL}={token}")
        # Write-stage width: one task per touched bucket, CLAMPED to 2× the
        # cluster's core count. A write task carries ~35-40 ms of fixed
        # overhead beyond its executorRunTime (measured,
        # BENCH.md round 4): with 32 touched buckets on 1-4 local
        # cores the pinned 32-task stage was >50% overhead and capped 1→4
        # scaling at ~0.46. Under the clamp a task holds several whole
        # buckets (hash on the bucket col) and partitionBy still emits
        # per-bucket files — layout, pruning, and manifest are unchanged. On
        # a real cluster defaultParallelism >> n_buckets, so the clamp never
        # binds and large tables keep full per-bucket write parallelism.
        parts = max(1, n_touched if n_touched is not None else n_buckets)
        cores = df.sparkSession.sparkContext.defaultParallelism
        parts = min(parts, max(1, 2 * cores))
        out = df.repartition(parts, F.col(_BUCKET_COL))
        if cluster_by:
            # Per-task sort before write (no exchange): rows land key-ordered
            # inside each file, so parquet row-group stats become tight,
            # disjoint ranges — reader-side row-group pruning on the keys —
            # and runs of a conversation compress together. Paid only where
            # requested (compaction, the background op).
            out = out.sortWithinPartitions(*cluster_by)
        with phase("write_job"):
            out.write.mode("overwrite").partitionBy(_BUCKET_COL).parquet(dest)

        # ONE recursive LIST of the fresh token's prefix builds the manifest
        # (control-plane storage interface — object-store LIST, POSIX walk).
        with phase("manifest_list"):
            return [
                f"{_COMMIT_COL}={token}/{rel}"
                for rel in self.fs.list_files(dest)
                if rel.endswith(".parquet") and f"{_BUCKET_COL}=" in rel
            ]

    def _discard_files(self, added: list[str]) -> None:
        """Delete data files written by a commit attempt that will never be
        published (lost race, vetoed revalidation). Best-effort — a crash
        mid-discard leaves orphans that ``vacuum`` reclaims anyway."""
        for rel in added:
            try:
                self.fs.delete(join(self.data_dir, rel))
            except FileNotFoundError:
                pass
        self.fs.prune(self.data_dir)

    def _publish(self, commit: Commit, revalidate) -> int:
        """Optimistic-concurrency commit (the Delta/Iceberg commit protocol):
        try the prepared version's exclusive put; when another writer won,
        re-read state, let ``revalidate(new_state)`` adjust or veto the
        commit, and republish at the new head. Data files already sit at
        their final unique-token paths, so every retry is control-plane only
        — one LIST + one conditional PUT, never a data rewrite.

        ``revalidate`` returns the (possibly adjusted) Commit to publish, or
        raises ``_EpochRace`` / ``_StaleInputs`` for the caller to translate
        into a skip or a recompute."""
        for _ in range(MAX_COMMIT_ATTEMPTS):
            try:
                self.log.commit(commit)
                return commit.version
            except FileExistsError:
                new_st = self._state()
                commit = revalidate(new_st)
                commit.version = new_st.version + 1
        self._discard_files(commit.added)
        raise CommitConflict(
            f"lost the commit race {MAX_COMMIT_ATTEMPTS} times at {self.root}"
        )

    def merge(
        self,
        resolved: DataFrame,
        app_id: str | None = None,
        epoch_id: int | None = None,
        extra_metrics: Any = None,
        touched: list[int] | None = None,
    ) -> dict[str, Any]:
        """MERGE one LWW-resolved batch (one row per key, cols: key, op,
        payload..., ts, seq) into the table. Returns commit metrics.

        Exactly-once: if (app_id, epoch_id) was already committed the call is a
        recorded no-op. Copy-on-write: only buckets present in the batch are
        read and rewritten; ``touched`` (bucket ids present in the batch) can
        be supplied by callers that already computed it, else a distinct job
        derives it. Merge-on-read never needs ``touched`` up front — the
        appended file paths name the buckets, so a MOR epoch is a SINGLE
        Spark action end-to-end.

        ``extra_metrics`` may be a dict, or a zero-arg callable evaluated
        after the data write and before the log commit — the hook that lets
        apply_events_batch ride its lineage on an Observation of the write
        job instead of a separate aggregation action.

        Concurrent writers are safe (optimistic concurrency, see
        :meth:`_publish`): a MOR merge is a pure append, so losing the race
        just republishes the same files at the next version (LWW stamps make
        epoch order irrelevant); a COW merge whose touched buckets were
        rewritten underneath it discards its output and recomputes against
        fresh state; a raced epoch token turns into the same skipped no-op a
        re-delivered batch gets. Concurrent *schema evolution* merges
        additively at republish time.
        """
        extra = extra_metrics
        for _ in range(MAX_COMMIT_ATTEMPTS):
            status, payload = self._merge_once(
                resolved, app_id, epoch_id, extra, touched
            )
            if status == "done":
                return payload
            extra = payload  # callable already evaluated by the aborted attempt
            # Caller-supplied bucket ids are stale after a raced rebucket (the
            # retry recomputes ids under the NEW layout, but would still read
            # existing rows / compute `removed` from the old ids, leaving two
            # live rows per key on a COW table). Recompute from fresh state.
            touched = None
        raise CommitConflict(
            f"merge recomputed {MAX_COMMIT_ATTEMPTS} times against concurrent "
            f"rewrites of the same buckets at {self.root}"
        )

    def _merge_once(
        self,
        resolved: DataFrame,
        app_id: str | None,
        epoch_id: int | None,
        extra_metrics: Any,
        touched: list[int] | None,
    ) -> tuple[str, Any]:
        with phase("state"):
            st = self._state()
        if epoch_id is not None and (app_id, epoch_id) in st.committed_epochs:
            return "done", {
                "skipped": True,
                "reason": "epoch already committed",
                "version": st.version,
            }

        current = T.StructType.fromJson(st.schema)
        payload_types = [
            (f.name, f.dataType)
            for f in resolved.schema.fields
            if f.name not in {*KEY_COLS, "op", "ts", "seq"}
        ]
        physical = self._evolve_schema(current, payload_types)
        payload_names = [f.name for f in physical.fields if f.name not in {*KEY_COLS, "ts", *HIDDEN_COLS}]

        # Enforce the physical schema on every batch column (callers may hand
        # pandas-inferred wider types, e.g. int64 turn_idx). One selectExpr:
        # per-micro-batch driver cost, see canonicalize_events.
        in_batch = set(resolved.columns)
        batch_ev = resolved.selectExpr(
            "cast(op as string) as op",
            *[
                f"cast(`{k}` as {physical[k].dataType.simpleString()}) as `{k}`"
                for k in KEY_COLS
            ],
            *[
                f"cast({f'`{c}`' if c in in_batch else 'null'} as "
                f"{physical[c].dataType.simpleString()}) as `{c}`"
                for c in payload_names
            ],
            "cast(ts as timestamp) as ts",
            "cast(seq as long) as seq",
        )
        if touched is None and st.mode != "mor":
            # from the PHYSICAL-typed key: the buckets the rows are written to
            buckets = batch_ev.select(_bucket_expr(st.n_buckets)).distinct()
            touched = [r[0] for r in buckets.collect()]

        if st.mode == "mor":
            # Merge-on-read: append the resolved batch as a new generation —
            # write cost O(batch), independent of table size. Cross-epoch
            # conflicts resolve at read/compaction time by the same stamps.
            out = self._events_to_physical(batch_ev, payload_names, st.n_buckets)
            added = self._write_data(
                out,
                st.n_buckets,
                n_touched=len(touched) if touched is not None else None,
            )
            if touched is None:  # free: the written paths name the buckets
                touched = sorted({_bucket_of(f) for f in added})
            removed: list[str] = []
        else:
            # Copy-on-write: old rows of touched buckets become pseudo-events
            # and re-reduce with the batch; touched buckets are rewritten.
            existing = self.read_physical(buckets=touched)
            existing_ev = existing.select(
                F.when(F.col("_deleted"), F.lit("delete")).otherwise(F.lit("upsert")).alias("op"),
                *KEY_COLS,
                *[
                    (F.col(c) if c in existing.columns else F.lit(None).cast(physical[c].dataType)).alias(c)
                    for c in payload_names
                ],
                F.col("_ts").alias("ts"),
                F.col("_seq").alias("seq"),
            )
            from investigraph_etl_spark.cdc.resolve import resolve_lww

            merged = resolve_lww(existing_ev.unionByName(batch_ev))
            out = self._events_to_physical(merged, payload_names, st.n_buckets)
            added = self._write_data(out, st.n_buckets, n_touched=len(touched))
            removed_set = set(touched)
            removed = [f for f in st.live_files if _bucket_of(f) in removed_set]

        if callable(extra_metrics):  # post-write hook (Observation results)
            with phase("pre_commit"):
                extra_metrics = extra_metrics()
        metrics = {"buckets_touched": len(touched), **(extra_metrics or {})}
        with phase("stats"):
            stats = self._collect_stats(added, st)
        commit = Commit(
            version=st.version + 1,
            added=added,
            removed=removed,
            schema=physical.jsonValue() if physical != current else None,
            app_id=app_id,
            epoch_id=epoch_id,
            metrics=metrics,
            stats=stats,
        )

        def revalidate(new_st) -> Commit:
            if epoch_id is not None and (app_id, epoch_id) in new_st.committed_epochs:
                raise _EpochRace
            if new_st.n_buckets != st.n_buckets:
                # concurrent rebucket: our files sit in old-layout bucket=
                # dirs — recompute the whole merge under the new layout
                raise _StaleInputs
            if st.mode != "mor":
                # Our rewrite replaced the touched buckets' old files; if a
                # concurrent commit changed those buckets the rewrite is stale.
                tset = set(touched)
                before = {f for f in st.live_files if _bucket_of(f) in tset}
                after = {f for f in new_st.live_files if _bucket_of(f) in tset}
                if before != after:
                    raise _StaleInputs
            # Re-merge the schema additively on top of whatever the winning
            # writers committed (parquet is read by name, so files written
            # under the pre-race column order stay valid).
            base = T.StructType.fromJson(new_st.schema)
            try:
                widened = self._evolve_schema(base, payload_types)
            except TypeError:
                self._discard_files(commit.added)
                raise
            commit.schema = widened.jsonValue() if widened != base else None
            return commit

        try:
            with phase("commit"):
                version = self._publish(commit, revalidate)
        except _EpochRace:
            self._discard_files(commit.added)
            return "done", {
                "skipped": True,
                "reason": "epoch committed by concurrent writer",
                "version": self.version,
            }
        except _StaleInputs:
            self._discard_files(commit.added)
            return "redo", extra_metrics
        if st.mode == "mor":
            with phase("compact_check"):
                self._maybe_compact(touched)
        return "done", {"skipped": False, "version": version, **metrics}

    def _events_to_physical(
        self, events: DataFrame, payload_names: list[str], n_buckets: int
    ) -> DataFrame:
        """(op, key, payload, ts, seq) rows → physical table rows + bucket.

        Public ts = winning writer's ts (input_hint column); hidden stamp
        columns keep cross-epoch LWW exact; deletes become tombstones with
        blanked payload (so a stale update can never resurrect a turn).
        """
        # One selectExpr: per-micro-batch driver cost, see canonicalize_events.
        # ``events`` already carries the physical key types.
        return events.selectExpr(
            *KEY_COLS,
            *[
                f"if(op = 'delete', null, `{c}`) as `{c}`"
                for c in payload_names
            ],
            "ts",
            "ts as _ts",
            "seq as _seq",
            "op = 'delete' as _deleted",
            f"{_bucket_sql(n_buckets)} as {_BUCKET_COL}",
        )

    # ------------------------------------------------------------- compaction
    #: MOR generations per bucket tolerated before auto-compaction.
    compact_threshold: int = 8

    def _files_per_bucket(self, live_files: list[str]) -> dict[int, int]:
        counts: dict[int, int] = {}
        for f in live_files:
            b = _bucket_of(f)
            if b is not None:
                counts[b] = counts.get(b, 0) + 1
        return counts

    def _maybe_compact(self, candidate_buckets: list[int]) -> None:
        counts = self._files_per_bucket(self._state().live_files)
        need = [b for b in candidate_buckets if counts.get(b, 0) > self.compact_threshold]
        if need:
            self.compact(buckets=need)

    def compact(
        self, buckets: list[int] | None = None, cluster: bool = True
    ) -> dict[str, Any]:
        """Rewrite MOR generations of the given buckets (default: all buckets
        holding more than one file) into a single LWW-reduced generation.

        Keeps tombstones (a stale update must still lose after compaction);
        ``vacuum`` reclaims the superseded files. Crash-safe: compaction is a
        pure optimization commit — losing it costs read amplification, never
        correctness. ``cluster`` (default) sorts rows by the table key within
        each task before writing — compacted files get tight, disjoint
        per-row-group key ranges (reader-side row-group pruning) and whole
        conversations stored contiguously, at the cost of a per-task sort in
        the background op.
        """
        st = self._state()
        counts = self._files_per_bucket(st.live_files)
        if buckets is None:
            buckets = [b for b, n in counts.items() if n > 1]
        want = set(buckets)
        files = [f for f in st.live_files if _bucket_of(f) in want]
        if not files:
            return {"compacted_buckets": 0, "files_removed": 0}
        physical = T.StructType.fromJson(st.schema)
        df = self._read_files(files, physical)
        reduced = self._reduce_physical(df, physical).withColumn(
            _BUCKET_COL, _bucket_expr(st.n_buckets)
        )
        added = self._write_data(
            reduced,
            st.n_buckets,
            n_touched=len(buckets),
            cluster_by=list(st.key_cols) if cluster else None,
        )
        commit = Commit(
            version=st.version + 1,
            added=added,
            removed=files,
            metrics={"compaction": True, "buckets": len(buckets)},
            stats=self._collect_stats(added, st),
        )

        def revalidate(new_st) -> Commit:
            # Inputs vanished (concurrent compact/vacuum won): our reduction
            # no longer covers those buckets — abort, keep the winner's work.
            # New generations appended concurrently to the same buckets are
            # fine: they stay live and resolve against our output by stamps.
            if not set(files) <= set(new_st.live_files):
                raise _StaleInputs
            return commit

        try:
            self._publish(commit, revalidate)
        except _StaleInputs:
            self._discard_files(added)
            return {"compacted_buckets": 0, "files_removed": 0,
                    "aborted": "inputs superseded by concurrent commit"}
        return {"compacted_buckets": len(buckets), "files_removed": len(files)}

    def delete_where(
        self,
        cond,
        app_id: str | None = None,
        epoch_id: int | None = None,
    ) -> dict[str, Any]:
        """Targeted logical delete — the GDPR / right-to-be-forgotten face:
        tombstone every LIVE key whose current row matches ``cond`` (a SQL
        string or Column over the public schema).

        Deliberately a NORMAL merge of delete events stamped with the
        current time, so it composes with everything else the engine
        guarantees: the rows vanish from ``read()`` immediately, the
        deletes flow through the changelog / ``lake_changes`` stream and
        replicate downstream with exact stamps, late stale updates cannot
        resurrect the turns (tombstone wins LWW), and an ``(app_id,
        epoch_id)`` token makes the call exactly-once under retry. Physical
        erasure of the old bytes is ``compact()`` + ``vacuum()`` (with
        ``orphan_grace_s=0.0`` when no concurrent writers, else after the
        grace has elapsed) — the documented two-step purge.
        """
        keys = self.read().filter(cond).select(*KEY_COLS)
        events = keys.select(
            F.lit("delete").alias("op"),
            *KEY_COLS,
            F.current_timestamp().alias("ts"),
            F.lit(2**62).alias("seq"),  # beats any generator/replica seq at same ts
        )
        from investigraph_etl_spark.cdc.resolve import resolve_lww

        res = self.merge(resolve_lww(events), app_id=app_id, epoch_id=epoch_id)
        return res

    def rebucket(self, n_buckets: int, cluster: bool = True) -> dict[str, Any]:
        """Change the hash-bucket layout (partition-spec evolution): ONE
        full-rewrite commit that LWW-reduces every live row (tombstones
        kept, like compaction), rewrites under the new bucket count, and
        swaps the layout atomically — readers at older versions still see
        the old layout (time travel), and ``changes()``/the stream treat it
        as physical-only exactly like compaction. The one intentionally
        O(table) maintenance op: re-keying data movement cannot be avoided
        when the partition spec changes.
        """
        if n_buckets < 1:
            raise ValueError("n_buckets must be >= 1")
        st = self._state()
        physical = T.StructType.fromJson(st.schema)
        df = self._read_files(st.live_files, physical)
        reduced = self._reduce_physical(df, physical).withColumn(
            _BUCKET_COL, _bucket_expr(n_buckets)
        )
        added = self._write_data(
            reduced,
            n_buckets,
            cluster_by=list(st.key_cols) if cluster else None,
        )
        commit = Commit(
            version=st.version + 1,
            added=added,
            removed=list(st.live_files),
            n_buckets=n_buckets,
            # "compaction" marks it physical-only for every changelog
            # classifier; "rebucket" records the layout change for history
            metrics={"compaction": True, "rebucket": n_buckets},
            stats=self._collect_stats(added, st),
            # rebucket recomputes every bucket with the CURRENT function, so
            # it is also the migration path for unstamped/foreign layouts
            bucket_fn=BUCKET_FN,
        )

        def revalidate(new_st) -> Commit:
            # any concurrent commit (new data, compaction) invalidates a
            # whole-table rewrite — abort rather than drop the winner's rows
            if set(new_st.live_files) != set(st.live_files):
                raise _StaleInputs
            return commit

        try:
            self._publish(commit, revalidate)
        except _StaleInputs:
            self._discard_files(added)
            return {"rebucketed": False,
                    "aborted": "concurrent commit during rebucket"}
        return {"rebucketed": True, "n_buckets": n_buckets,
                "files_written": len(added)}

    def append(
        self,
        df: DataFrame,
        metrics: dict[str, Any] | None = None,
        app_id: str | None = None,
        epoch_id: int | None = None,
    ) -> dict[str, Any]:
        """Blind append (initial bulk load path): rows must match public schema;
        stamps default to (ts, -1), live. An optional ``(app_id, epoch_id)``
        token gives bulk-load chunks the same exactly-once retry semantics
        as MERGE epochs (a re-driven load step is a recorded no-op)."""
        for _ in range(MAX_COMMIT_ATTEMPTS):
            out = self._append_once(df, metrics, app_id, epoch_id)
            if out is not None:
                return out
        raise CommitConflict(
            f"append recomputed {MAX_COMMIT_ATTEMPTS} times against "
            f"concurrent layout changes at {self.root}"
        )

    def _append_once(
        self,
        df: DataFrame,
        metrics: dict[str, Any] | None,
        app_id: str | None,
        epoch_id: int | None,
    ) -> dict[str, Any] | None:
        st = self._state()
        if epoch_id is not None and (app_id, epoch_id) in st.committed_epochs:
            return {"skipped": True, "reason": "epoch already committed",
                    "version": st.version}
        physical = T.StructType.fromJson(st.schema)
        out = df.select(
            *[
                F.col(f.name).cast(f.dataType).alias(f.name)
                for f in physical.fields
                if f.name not in HIDDEN_COLS
            ],
            F.col("ts").alias("_ts"),
            F.lit(-1).cast("long").alias("_seq"),
            F.lit(False).alias("_deleted"),
        ).withColumn(_BUCKET_COL, _bucket_expr(st.n_buckets))
        added = self._write_data(out, st.n_buckets)
        commit = Commit(
            version=st.version + 1,
            added=added,
            app_id=app_id,
            epoch_id=epoch_id,
            metrics=metrics or {},
            stats=self._collect_stats(added, st),
        )

        def revalidate(new_st) -> Commit:
            if epoch_id is not None and (app_id, epoch_id) in new_st.committed_epochs:
                raise _EpochRace
            if new_st.n_buckets != st.n_buckets:
                raise _StaleInputs  # concurrent rebucket: rewrite under new layout
            return commit  # otherwise a pure append: always safe to republish

        try:
            version = self._publish(commit, revalidate)
        except _EpochRace:
            self._discard_files(commit.added)
            return {"skipped": True,
                    "reason": "epoch committed by concurrent writer",
                    "version": self.version}
        except _StaleInputs:
            self._discard_files(commit.added)
            return None  # append() loops and recomputes under the new layout
        return {"version": version, "files_added": len(added)}

    # ------------------------------------------------------------------ maintenance
    def vacuum(
        self,
        retain_versions: int = 0,
        retain_s: float = 0.0,
        now: float | None = None,
        orphan_grace_s: float = DEFAULT_ORPHAN_GRACE_S,
    ) -> int:
        """Delete data files referenced by no retained version. Returns count.

        Retention keeps time travel alive: a version is retained when it is
        the current version, one of the last ``retain_versions`` before it,
        or committed within ``retain_s`` seconds of ``now``. Files live in ANY
        retained version survive; everything else (superseded generations,
        aborted-write orphans) is reclaimed. Defaults reclaim everything but
        the current version — the pre-retention behavior.

        Cost is control-plane only: one state reconstruction per retained
        version (each checkpoint-bounded), one LIST of the data prefix — no
        data scan, so this is safe to run on a 10^10-row table.

        Concurrency (the Delta ``VACUUM`` retention rule): committed writers
        are safe, but an IN-FLIGHT write — files landed, commit not yet
        published — looks like an orphan, and reclaiming it would let the
        writer commit references to deleted files. ``orphan_grace_s`` guards
        this: unreferenced files younger than the grace (storage mtime) are
        left alone, so any vacuum racing a write that takes less than the
        grace is safe. The default (:data:`DEFAULT_ORPHAN_GRACE_S`) is
        conservative, Delta-style; pass ``orphan_grace_s=0.0`` explicitly to
        reclaim everything unreferenced — correct only with no in-flight
        writes (single-writer maintenance).
        """
        st = self._state()
        now_s = time.time() if now is None else now
        cutoff = now_s - retain_s
        retained = {st.version}
        older = [v for v in self.log.versions() if v < st.version]
        retained.update(older[len(older) - retain_versions:] if retain_versions else [])
        if retain_s > 0:
            retained.update(v for v in older if self.log.commit_time(v) >= cutoff)
        live: set[str] = set()
        for v in sorted(retained):
            vst = self._state(at_version=v)
            live.update(vst.live_files)
        removed = 0
        for rel in self.fs.list_files(self.data_dir):
            if rel not in live:
                if orphan_grace_s:
                    try:
                        if now_s - self.fs.mtime(join(self.data_dir, rel)) < orphan_grace_s:
                            continue  # possibly an in-flight writer's file
                    except FileNotFoundError:
                        continue
                self.fs.delete(join(self.data_dir, rel))  # incl. _SUCCESS markers
                if rel.endswith(".parquet"):
                    removed += 1
        self.fs.prune(self.data_dir)  # reclaim emptied dirs (POSIX only)
        return removed

    def history(self) -> list[dict]:
        """Every commit of the table, oldest first (the `_commits` view)."""
        return [c.to_json() for c in self.log.walk()]

    def export_metadata(self) -> dict[str, Any]:
        """Write ``index.json`` at the table root: schema + layout + stats.

        Reference parity: dataset metadata/coverage export
        (/root/reference/investigraph/model/context.py:59-63,
        /root/reference/investigraph/pipeline.py:177-187). Stats come from the
        commit log (no table scan): live files, committed epochs, cumulative
        events applied/quarantined/conflicts summed over every commit's metrics.
        """
        st = self._state()
        totals: dict[str, int] = {}
        for c in self.log.walk(to=st.version):
            for k in ("events_applied", "events_quarantined", "conflicts_resolved"):
                if k in c.metrics:
                    totals[k] = totals.get(k, 0) + int(c.metrics[k])
        meta = {
            "name": self.root.rstrip("/").rsplit("/", 1)[-1],
            "version": st.version,
            "mode": st.mode,
            "n_buckets": st.n_buckets,
            "key_cols": st.key_cols,
            "schema": [
                {"name": f.name, "type": f.dataType.simpleString()}
                for f in self.schema().fields
            ],
            "live_files": len(st.live_files),
            "committed_epochs": len(st.committed_epochs),
            "stats": totals,
        }
        self.fs.put_json(join(self.root, "index.json"), meta)
        return meta
