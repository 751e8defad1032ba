"""Bucket pruning and cheap read planning.

Every generation of a key lands in bucket ``pmod(murmur3(conv_id),
n_buckets)``, so a ``conv_id = k`` read keeps only that bucket's files —
MOR-safe for the same reason key zone maps are. Every test proves the pruned
read equal to full-scan + filter; pruning only removes I/O.

Also here: the COW touched-bucket regression for non-string keys (the rule
must see the PHYSICAL-typed key), and the listing-job width ``get_spark``
clamps to 2 × defaultParallelism.
"""

from __future__ import annotations

import pandas as pd

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


def test_time_travel_across_rebucket_prunes_by_each_versions_layout(spark, tmp_table_root):
    t = _fill(spark, tmp_table_root, mode="mor", n_buckets=4)
    before = t.version
    assert t.rebucket(8)["rebucketed"]
    for conv in ("c1", "c6", "c9"):
        _assert_one_bucket(t, spark, conv, 4, at_version=before)
        _assert_one_bucket(t, spark, conv, 8)


def test_bucket_and_keyset_pruning_compose(spark, tmp_path):
    def hexid(c):  # hash-like ids: zone maps keep every file
        return format((c * 2654435761) % 2**32, "08x")

    plain = _fill(spark, str(tmp_path / "plain"), n_epochs=6, n_convs=16,
                  conv=hexid)
    keyed = _fill(spark, str(tmp_path / "keyed"), n_epochs=6, n_convs=16,
                  conv=hexid, keyset_col="conv_id")
    # each epoch's batch is a fresh set of keys in the keyed table, so the
    # key bitmap can drop generations of the key's own bucket too
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
    assert set(kept_keyed) < set(in_bucket)  # bitmap prunes inside the bucket
    assert pruned_keyed == len(keyed._state().live_files) - len(kept_keyed)
    want = [(target, 0, "t5.7")]
    assert _rows(keyed.read(where=[("conv_id", "=", target)])) == want
    assert _rows(plain.read(where=[("conv_id", "=", target)])) == want


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
    t = _fill(spark, str(tmp_path / "t"), keyset_col="conv_id")

    def prune():
        return t.files_for(where=[("conv_id", "=", "c5")])

    # the bucket and the key bit fold to constants on the driver
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
