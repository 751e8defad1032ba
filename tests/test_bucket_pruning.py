"""Bucket pruning and cheap read planning.

Every generation of a key lands in bucket ``pmod(murmur3(conv_id),
n_buckets)``, so a ``conv_id = k`` read keeps only that bucket's files —
MOR-safe for the same reason key zone maps are. Every test proves the pruned
read equal to full-scan + filter; pruning only removes I/O.

Also here: the COW touched-bucket regression for non-string keys (the rule
must see the PHYSICAL-typed key), the listing-job width ``get_spark``
clamps to 2 × defaultParallelism, and tables whose logs still carry the
retired keyset tier's config and per-file key bitmaps.
"""

from __future__ import annotations

import base64

import pandas as pd
import pytest
from pyspark.sql import types as T

from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
from investigraph_etl_spark.cdc.resolve import resolve_lww
from investigraph_etl_spark.lake.table import LakeTable, _bucket_of
from investigraph_etl_spark.session import LISTING_PARALLELISM, get_spark

T0 = pd.Timestamp("2025-03-01")


def _ev(spark, rows):
    return resolve_lww(spark.createDataFrame(pd.DataFrame(rows)))


def _r(op, conv, turn, text, hours, seq):
    return {"op": op, "conv_id": conv, "turn_idx": turn, "role": "user",
            "text": text, "tool": None,
            "ts": T0 + pd.Timedelta(hours=hours), "seq": seq}


def _bucket(spark, conv, n):
    return spark.sql(f"select pmod(hash('{conv}'), {n})").first()[0]


def _fill(spark, root, mode="mor", n_buckets=4, n_epochs=4, n_convs=12,
          conv=lambda c: f"c{c}", **create_kw):
    """n_epochs merges, each updating every conversation: every bucket holds
    one file generation per epoch (MOR) or one rewritten file (COW)."""
    t = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, n_buckets=n_buckets,
                         mode=mode, **create_kw)
    t.compact_threshold = 10**9
    seq = 0
    for e in range(n_epochs):
        rows = []
        for c in range(n_convs):
            seq += 1
            rows.append(_r("upsert", conv(c), 0, f"t{e}.{c}", e, seq))
        t.merge(_ev(spark, rows), app_id="x", epoch_id=e)
    return t


def _rows(df):
    return sorted((r.conv_id, r.turn_idx, r.text) for r in df.collect())


def _assert_one_bucket(t, spark, conv, n_buckets, at_version=None):
    kept, pruned = t.files_for(where=[("conv_id", "=", conv)], at_version=at_version)
    live = t._state(at_version).live_files
    want = _bucket(spark, conv, n_buckets)
    assert kept and {_bucket_of(f) for f in kept} == {want}
    assert sorted(kept) == sorted(f for f in live if _bucket_of(f) == want)
    assert pruned == len(live) - len(kept)
    got = _rows(t.read(where=[("conv_id", "=", conv)], at_version=at_version))
    full = _rows(t.read(at_version=at_version).filter(f"conv_id = '{conv}'"))
    assert got == full and len(got) == 1


def test_mor_lookup_keeps_only_the_key_bucket(spark, tmp_table_root):
    t = _fill(spark, tmp_table_root, mode="mor")
    assert len(t._state().live_files) == 16  # 4 buckets × 4 generations
    for conv in ("c0", "c5", "c11"):
        _assert_one_bucket(t, spark, conv, 4)
    # the report counts bucket-pruned files with the rest
    report: dict = {}
    t.read(where=[("conv_id", "=", "c5")], prune_report=report)
    assert report == {"files_scanned": 4, "files_pruned": 12}


def test_cow_lookup_keeps_only_the_key_bucket(spark, tmp_table_root):
    t = _fill(spark, tmp_table_root, mode="cow")
    for conv in ("c0", "c5", "c11"):
        _assert_one_bucket(t, spark, conv, 4)


def test_absent_key_and_non_eq_predicates(spark, tmp_table_root):
    t = _fill(spark, tmp_table_root, mode="mor")
    kept, _ = t.files_for(where=[("conv_id", "=", "nope")])
    assert {_bucket_of(f) for f in kept} <= {_bucket(spark, "nope", 4)}
    assert t.read(where=[("conv_id", "=", "nope")]).count() == 0
    # range predicates on the key never bucket-prune
    got = _rows(t.read(where=[("conv_id", ">=", "c5")]))
    assert got == _rows(t.read().filter("conv_id >= 'c5'")) and len(got) == 5


def test_int_literal_against_string_key(spark, tmp_path):
    """The literal is hashed in the PHYSICAL conv_id type: an int 7012
    against the string column must prune to the bucket of '7012'."""
    t = _fill(spark, str(tmp_path / "t"), conv=lambda c: str(7000 + c))
    kept, _ = t.files_for(where=[("conv_id", "=", 7005)])
    assert {_bucket_of(f) for f in kept} == {_bucket(spark, "7005", 4)}
    got = _rows(t.read(where=[("conv_id", "=", 7005)]))
    assert got == _rows(t.read().filter("conv_id = 7005")) == [("7005", 0, "t3.5")]


def test_bucket_and_keyset_pruning_compose(spark, tmp_path):
    """A table created with the deprecated ``keyset_col`` prunes exactly like
    a plain one: the whole key bucket, every generation of it, and nothing
    inside it — the retired key bitmaps pruned there and lost MOR winners."""
    def hexid(c):  # hash-like ids: zone maps keep every file
        return format((c * 2654435761) % 2**32, "08x")

    plain = _fill(spark, str(tmp_path / "plain"), n_epochs=6, n_convs=16,
                  conv=hexid)
    with pytest.warns(DeprecationWarning, match="keyset"):
        keyed = _fill(spark, str(tmp_path / "keyed"), n_epochs=6, n_convs=16,
                      conv=hexid, keyset_col="conv_id")
    # each later batch is a fresh set of keys: generations of the target's
    # bucket that do not hold the target stay in the read all the same
    seq = 1000
    for e in range(6, 9):
        rows = []
        for c in range(16):
            seq += 1
            rows.append(_r("upsert", hexid(100 * e + c), 0, f"n{e}.{c}", e, seq))
        keyed.merge(_ev(spark, rows), app_id="x", epoch_id=e)
    target = hexid(7)
    b = _bucket(spark, target, 4)
    kept_plain, _ = plain.files_for(where=[("conv_id", "=", target)])
    kept_keyed, pruned_keyed = keyed.files_for(where=[("conv_id", "=", target)])
    in_bucket = [f for f in keyed._state().live_files if _bucket_of(f) == b]
    assert {_bucket_of(f) for f in kept_plain} == {b}
    assert sorted(kept_keyed) == sorted(in_bucket)
    assert len(kept_keyed) > len(kept_plain)  # the later generations
    assert pruned_keyed == len(keyed._state().live_files) - len(kept_keyed)
    want = [(target, 0, "t5.7")]
    assert _rows(keyed.read(where=[("conv_id", "=", target)])) == want
    assert _rows(plain.read(where=[("conv_id", "=", target)])) == want


def test_time_travel_across_rebucket_prunes_by_each_versions_layout(spark, tmp_table_root):
    t = _fill(spark, tmp_table_root, mode="mor", n_buckets=4)
    before = t.version
    assert t.rebucket(8)["rebucketed"]
    for conv in ("c1", "c6", "c9"):
        _assert_one_bucket(t, spark, conv, 4, at_version=before)
        _assert_one_bucket(t, spark, conv, 8)


def test_lookup_after_compaction_and_vacuum(spark, tmp_table_root):
    t = _fill(spark, tmp_table_root, mode="mor")
    t.compact()
    t.vacuum(orphan_grace_s=0.0)
    assert len(t._state().live_files) == 4  # one compacted file per bucket
    for conv in ("c0", "c5", "c11"):
        _assert_one_bucket(t, spark, conv, 4)


def _assert_lookup(t, spark, conv, preds, cond):
    """``conv_id = conv`` plus ``preds`` keeps only conv's bucket and equals
    the full-scan filter ``cond``; returns the rows."""
    kept, _ = t.files_for(where=[("conv_id", "=", conv), *preds])
    assert {_bucket_of(f) for f in kept} <= {_bucket(spark, conv, 4)}
    got = _rows(t.read(where=[("conv_id", "=", conv), *preds]))
    assert got == _rows(t.read().filter(f"conv_id = '{conv}' and ({cond})"))
    return got


def test_lookup_with_stamp_predicate(spark, tmp_table_root):
    """``conv_id = k`` composes with the MOR-safe ``ts >=`` zone-map rule:
    each epoch inserts fresh keys, and epoch 5 updates an old one."""
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=4,
                         mode="mor")
    t.compact_threshold = 10**9
    seq = 0
    for e in range(6):
        rows = []
        for c in range(4):
            seq += 1
            rows.append(_r("insert", f"c{c}-{e}", 0, f"t{e}.{c}", e, seq))
        if e == 5:
            seq += 1
            rows.append(_r("update", "c3-0", 0, "late", e, seq))
        t.merge(_ev(spark, rows), app_id="x", epoch_id=e)
    cutoff = T0 + pd.Timedelta(hours=3)
    cond = f"ts >= '{cutoff}'"
    stamp = [("ts", ">=", cutoff)]
    assert _assert_lookup(t, spark, "c2-4", stamp, cond) == [("c2-4", 0, "t4.2")]
    assert _assert_lookup(t, spark, "c0-1", stamp, cond) == []
    assert _assert_lookup(t, spark, "c3-0", stamp, cond) == [("c3-0", 0, "late")]


def test_keyset_options_ignored_and_payload_lookup_sees_winner(spark, tmp_path):
    """Regression: ``keyset_col`` on a MOR payload column used to prune by
    per-file key bitmaps, which dropped the LWW winner's generation and
    returned the superseded row. The keyset options are now deprecated and
    ignored."""
    schema = T.StructType([
        T.StructField("conv_id", T.StringType(), False),
        T.StructField("turn_idx", T.IntegerType(), False),
        T.StructField("uid", T.IntegerType(), True),
        T.StructField("ts", T.TimestampType(), True),
    ])
    for i, kw in enumerate(({"keyset_bits": 16384}, {"keyset_bloom_ndv": 2000})):
        with pytest.warns(DeprecationWarning, match="keyset"):
            LakeTable.create(spark, str(tmp_path / f"w{i}"), schema, mode="mor", **kw)
    with pytest.warns(DeprecationWarning, match="keyset"):
        t = LakeTable.create(spark, str(tmp_path / "t"), schema, n_buckets=2,
                             mode="mor", keyset_col="uid")
    t.compact_threshold = 10**9

    def ev(uid, hours, seq):
        pdf = pd.DataFrame([{"op": "upsert", "conv_id": "c1", "turn_idx": 0,
                             "uid": uid, "ts": T0 + pd.Timedelta(hours=hours),
                             "seq": seq}])
        pdf["uid"] = pdf["uid"].astype("int32")
        return resolve_lww(spark.createDataFrame(pdf))

    t.merge(ev(7, 0, 1), app_id="x", epoch_id=0)
    t.merge(ev(8, 1, 2), app_id="x", epoch_id=1)

    def uids(df):
        return [(r.conv_id, r.uid) for r in df.collect()]

    assert uids(t.read(where=[("uid", "=", 7)])) == uids(t.read().filter("uid = 7")) == []
    assert uids(t.read(where=[("uid", "=", 8)])) == [("c1", 8)]


def test_old_keyset_log_still_opens_reads_merges_compacts_vacuums(
    spark, tmp_table_root, monkeypatch
):
    """A log written by the retired keyset tier: ``keyset`` config on the
    create commit and on a checkpoint, ``_keyset`` bitmaps in one merge
    commit's file stats. The bitmaps are all zero, so code that still
    honoured them would prune every file of that commit — which holds the
    only generation of c6..c11."""
    from investigraph_etl_spark.lake import log as log_mod

    monkeypatch.setattr(log_mod, "CHECKPOINT_EVERY", 4)
    cfg = {"col": "conv_id", "bits": 16384, "ndv": 2000}
    zero = {"n": 16384, "b64": base64.b64encode(bytes(16384 // 8)).decode()}
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=4,
                         mode="mor")
    log = t.log

    def edit(path, fn):
        doc = log.fs.get_json(path)
        fn(doc)
        log.fs.put_json(path, doc)

    def add_bitmaps(c):
        for rel in c["added"]:
            c["stats"].setdefault(rel, {})["_keyset"] = zero

    def merge(epoch, convs):
        rows = [_r("upsert", f"c{c}", 0, f"t{epoch}.{c}", epoch, 100 * epoch + c)
                for c in convs]
        t.merge(_ev(spark, rows), app_id="x", epoch_id=epoch)

    edit(log._version_path(1), lambda c: c.update(keyset=cfg))
    merge(0, range(12))                                    # version 2
    edit(log._version_path(2), add_bitmaps)
    merge(1, range(6))
    merge(2, range(6))                                     # version 4
    assert log._list_checkpoints() == [4]
    edit(log._checkpoint_path(4), lambda cp: cp.update(keyset=cfg))
    cp = log.fs.get_json(log._checkpoint_path(4))
    assert sum("_keyset" in s for s in cp["file_stats"].values()) == 4

    t = LakeTable.load(spark, tmp_table_root)
    t.compact_threshold = 10**9

    def check(text_of):
        for c in (0, 7, 11):
            got = _assert_lookup(t, spark, f"c{c}", [], "true")
            assert got == [(f"c{c}", 0, text_of(c))]
        assert len(_rows(t.read())) == 12

    check(lambda c: f"t{2 if c < 6 else 0}.{c}")
    merge(3, [7])
    check(lambda c: {0: "t2.0", 7: "t3.7", 11: "t0.11"}[c])
    assert t.compact()["compacted_buckets"] > 0
    assert t.vacuum(orphan_grace_s=0.0) > 0
    assert len(t._state().live_files) <= 4
    check(lambda c: {0: "t2.0", 7: "t3.7", 11: "t0.11"}[c])


def test_cow_merge_with_int_keys_replaces_string_keyed_rows(spark, tmp_table_root):
    """Regression: the COW touched set must come from the key cast to the
    table's type. Hashing the batch's int conv_id read and removed the
    wrong buckets, so stale v1 rows stayed live next to the v2 rows."""
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=8)
    t.merge(_ev(spark, [_r("insert", str(k), 0, "v1", 0, k + 1) for k in range(20)]),
            app_id="x", epoch_id=0)
    for k in range(20):
        t.merge(_ev(spark, [_r("update", k, 0, "v2", 1, 100 + k)]),
                app_id="x", epoch_id=1 + k)
    got = _rows(t.read())
    assert got == sorted((str(k), 0, "v2") for k in range(20))


def _stage_tasks(spark, group, fn):
    """Task count of every stage of the Spark jobs ``fn()`` runs."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    tracker = sc.statusTracker()
    return [
        tracker.getStageInfo(sid).numTasks
        for job in tracker.getJobIdsForGroup(group)
        for sid in tracker.getJobInfo(job).stageIds
    ]


def test_lookup_planning_runs_no_spark_job(spark, tmp_path):
    t = _fill(spark, str(tmp_path / "t"))

    def prune():
        return t.files_for(where=[("conv_id", "=", "c5")])

    # the bucket folds to a constant on the driver
    assert _stage_tasks(spark, "lookup-planning", prune) == []
    kept, _ = prune()
    assert {_bucket_of(f) for f in kept} == {_bucket(spark, "c5", 4)}


def test_listing_job_is_clamped_to_twice_the_cores(spark, tmp_table_root):
    t = _fill(spark, tmp_table_root, n_buckets=8, n_epochs=5, n_convs=24)
    n_files = len(t._state().live_files)
    cap = 2 * spark.sparkContext.defaultParallelism
    assert n_files > 32 and n_files > cap  # past Spark's listing threshold
    assert spark.conf.get(LISTING_PARALLELISM) == str(cap)
    # planning a read with an explicit schema runs only the listing job
    tasks = _stage_tasks(spark, "listing-default", t.read)
    assert tasks and max(tasks) <= cap
    # and the pruned lookup still returns the row
    assert _rows(t.read(where=[("conv_id", "=", "c3")])) == [("c3", 0, "t4.3")]


def test_explicit_listing_parallelism_is_respected(spark, tmp_table_root):
    t = _fill(spark, tmp_table_root, n_buckets=8, n_epochs=5, n_convs=24)
    # get_spark on a live session re-applies its conf to it: restore after
    saved = {k: spark.conf.get(k) for k in spark.conf.getAll
             if spark.conf.isModifiable(k)}
    try:
        s = get_spark(conf={LISTING_PARALLELISM: "3"})
        assert s.conf.get(LISTING_PARALLELISM) == "3"
        assert _stage_tasks(s, "listing-explicit", t.read) == [3]
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    assert spark.conf.get(LISTING_PARALLELISM) == str(
        2 * spark.sparkContext.defaultParallelism
    )


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


def test_mor_lookup_reduces_in_one_task_without_exchange(spark, tmp_table_root):
    """A MOR ``conv_id = k`` read holds one bucket: it reduces in one task
    (one job, one stage), with no exchange, and equals the filtered full
    read — for a key with several generations, a tombstoned key, an absent
    key whose bucket is scanned, and one the zone maps prune to no file."""
    t = _fill(spark, tmp_table_root, mode="mor")  # 4 generations per key
    t.merge(_ev(spark, [_r("delete", "c7", 0, None, 9, 999)]), app_id="x", epoch_id=9)
    for conv, n_files in (("c5", 4), ("c7", 5), ("c55", 4), ("nope", 0)):
        assert len(t.files_for(where=[("conv_id", "=", conv)])[0]) == n_files
        df = t.read(where=[("conv_id", "=", conv)])
        assert "Exchange" not in _plan(df)
        got: list = []
        assert _stage_tasks(spark, f"one-task-{conv}", lambda: got.extend(_rows(df))) == [1]
        assert got == _rows(t.read().filter(f"conv_id = '{conv}'"))
        assert len(got) == (conv == "c5")
    assert "Coalesce 1" in _plan(t.read(where=[("conv_id", "=", "c5")]))


def test_reads_beyond_one_bucket_keep_the_exchange(spark, tmp_path):
    """A full read, a key range and a lookup on a one-bucket table (the
    whole table) still reduce over a keyed exchange."""
    t = _fill(spark, str(tmp_path / "t"), mode="mor")
    one = _fill(spark, str(tmp_path / "one"), mode="mor", n_buckets=1)
    for group, df in (
        ("full", t.read()),
        ("range", t.read(where=[("turn_idx", ">=", 0)])),
        ("one-bucket-table", one.read(where=[("conv_id", "=", "c5")])),
    ):
        assert "Exchange hashpartitioning" in _plan(df), group
        assert len(_stage_tasks(spark, f"exchange-{group}", df.collect)) > 1, group
    assert _rows(one.read(where=[("conv_id", "=", "c5")])) == [("c5", 0, "t3.5")]
