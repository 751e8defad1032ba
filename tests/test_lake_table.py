"""LakeTable: atomic commits, bucket-pruned MERGE, tombstones, schema evolution,
time travel, vacuum, exactly-once epoch tokens."""

import os

import pandas as pd
import pytest
from pyspark.sql import functions as F

from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
from investigraph_etl_spark.cdc.generator import GeneratorConfig, generate_events
from investigraph_etl_spark.cdc.resolve import resolve_lww
from investigraph_etl_spark.lake.table import LakeTable


def _resolved(spark, pdf):
    return resolve_lww(spark.createDataFrame(pdf.drop(columns=["epoch"])))


def test_create_load_schema(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=8)
    assert t.version == 1
    t2 = LakeTable.load(spark, tmp_table_root)
    assert [f.name for f in t2.schema().fields] == [
        "conv_id", "turn_idx", "role", "text", "tool", "ts",
    ]
    assert t2.read().count() == 0
    with pytest.raises(FileExistsError):
        LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA)


def test_merge_upsert_delete_across_epochs(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=8)
    t0 = pd.Timestamp("2025-01-01")

    def ev(rows):
        return spark.createDataFrame(pd.DataFrame(rows))

    b1 = resolve_lww(ev([
        {"op": "insert", "conv_id": "c1", "turn_idx": 0, "role": "user",
         "text": "hello", "tool": None, "ts": t0, "seq": 1},
        {"op": "insert", "conv_id": "c2", "turn_idx": 0, "role": "user",
         "text": "hi", "tool": None, "ts": t0, "seq": 2},
    ]))
    t.merge(b1, app_id="t", epoch_id=0)
    assert t.read().count() == 2

    # epoch 2: update c1 (newer ts), delete c2, stale update to c2 in SAME batch loses
    b2 = resolve_lww(ev([
        {"op": "update", "conv_id": "c1", "turn_idx": 0, "role": "user",
         "text": "hello v2", "tool": None, "ts": t0 + pd.Timedelta("1h"), "seq": 3},
        {"op": "delete", "conv_id": "c2", "turn_idx": 0, "role": None,
         "text": None, "tool": None, "ts": t0 + pd.Timedelta("1h"), "seq": 4},
    ]))
    t.merge(b2, app_id="t", epoch_id=1)
    live = {r["conv_id"]: r["text"] for r in t.read().collect()}
    assert live == {"c1": "hello v2"}

    # epoch 3: LATE update to the deleted c2 (older ts than tombstone) — no resurrection.
    b3 = resolve_lww(ev([
        {"op": "update", "conv_id": "c2", "turn_idx": 0, "role": "user",
         "text": "zombie", "tool": None, "ts": t0 + pd.Timedelta("30min"), "seq": 5},
    ]))
    t.merge(b3, app_id="t", epoch_id=2)
    assert sorted(r["conv_id"] for r in t.read().collect()) == ["c1"]

    # epoch 4: strictly newer update to c2 resurrects.
    b4 = resolve_lww(ev([
        {"op": "upsert", "conv_id": "c2", "turn_idx": 0, "role": "user",
         "text": "reborn", "tool": None, "ts": t0 + pd.Timedelta("2h"), "seq": 6},
    ]))
    t.merge(b4, app_id="t", epoch_id=3)
    live = {r["conv_id"]: r["text"] for r in t.read().collect()}
    assert live == {"c1": "hello v2", "c2": "reborn"}


def test_merge_exactly_once_epoch_token(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=8)
    ev = generate_events(GeneratorConfig(n_events=500, seed=5))
    r = _resolved(spark, ev)
    first = t.merge(r, app_id="t", epoch_id=7)
    assert not first["skipped"]
    before = t.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    again = t.merge(r, app_id="t", epoch_id=7)
    assert again["skipped"]
    after = t.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after)
    # reapplying under a NEW epoch id is also a semantic no-op (LWW idempotence)
    t.merge(r, app_id="t", epoch_id=8)
    after2 = t.read().toPandas().sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    pd.testing.assert_frame_equal(before, after2)


def test_merge_rewrites_only_touched_buckets(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=16)
    ev = generate_events(GeneratorConfig(n_events=2000, seed=6))
    t.merge(_resolved(spark, ev), app_id="t", epoch_id=0)
    files_before = set(t._state().live_files)

    one = pd.DataFrame([{
        "op": "update", "conv_id": "conv-000000", "turn_idx": 0, "role": "user",
        "text": "bump", "tool": None, "ts": pd.Timestamp("2026-01-01"), "seq": 10**9,
    }])
    t.merge(resolve_lww(spark.createDataFrame(one)), app_id="t", epoch_id=1)
    files_after = set(t._state().live_files)

    from investigraph_etl_spark.lake.table import _bucket_of

    changed_buckets = {_bucket_of(f) for f in files_before ^ files_after}
    assert len(changed_buckets) == 1  # exactly the one bucket conv-000000 hashes to
    # untouched buckets kept their physical files
    assert len(files_before & files_after) > 0


def test_schema_evolution_additive(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=8)
    ev = generate_events(GeneratorConfig(n_events=300, seed=8))
    t.merge(_resolved(spark, ev), app_id="t", epoch_id=0)

    evolved = generate_events(
        GeneratorConfig(n_events=300, seed=9, evolve_from_epoch=0, n_epochs=1)
    )
    evolved["seq"] += 10_000
    evolved["ts"] += pd.Timedelta("365d")
    t.merge(_resolved(spark, evolved), app_id="t", epoch_id=1)

    cols = [f.name for f in t.schema().fields]
    assert "tool_version" in cols and "tokens" in cols
    out = t.read().toPandas()
    # old rows read null in the new columns; evolved rows carry values
    assert out["tokens"].notna().any() and out["tokens"].isna().any()

    # type change is rejected
    bad = evolved.copy()
    bad["tokens"] = bad["tokens"].astype("Float64")
    bad["seq"] += 10_000
    with pytest.raises(TypeError):
        t.merge(_resolved(spark, bad), app_id="t", epoch_id=2)


def test_time_travel_and_vacuum(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=4)
    ev = generate_events(GeneratorConfig(n_events=400, seed=10))
    t.merge(_resolved(spark, ev), app_id="t", epoch_id=0)
    v2 = t.version
    n_v2 = t.read().count()

    more = generate_events(GeneratorConfig(n_events=400, seed=20))
    more["seq"] += 100_000
    t.merge(_resolved(spark, more), app_id="t", epoch_id=1)

    assert t.read(at_version=v2).count() == n_v2  # snapshot isolation
    removed = t.vacuum(orphan_grace_s=0.0)
    assert removed > 0  # old versions' files reclaimed
    assert t.read().count() > 0  # current version intact


def test_vacuum_retention_window(spark, tmp_table_root):
    """Vacuum with retention keeps time travel inside the window and reclaims
    past it (round-2 verdict #9: immediate reclaim killed time travel)."""
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=4)
    versions = []
    for i in range(3):
        ev = generate_events(GeneratorConfig(n_events=300, seed=40 + i))
        ev["seq"] += i * 100_000
        t.merge(_resolved(spark, ev), app_id="t", epoch_id=i)
        versions.append(t.version)
    v_old, v_mid, v_cur = versions
    mid_before = t.read(at_version=v_mid).orderBy("conv_id", "turn_idx").collect()

    # retain 1 version of history: v_mid still travels, v_old's files go
    removed = t.vacuum(retain_versions=1, orphan_grace_s=0.0)
    assert removed > 0
    assert (
        t.read(at_version=v_mid).orderBy("conv_id", "turn_idx").collect()
        == mid_before
    )
    assert t.read(at_version=v_cur).count() > 0
    old_only = set(t.log.read_state(at_version=v_old).live_files) - set(
        t.log.read_state(at_version=v_mid).live_files
    ) - set(t.log.read_state(at_version=v_cur).live_files)
    on_disk = set(t.fs.list_files(t.data_dir))
    assert old_only and not (old_only & on_disk)

    # past the window: a second vacuum without retention reclaims v_mid too
    mid_only = set(t.log.read_state(at_version=v_mid).live_files) - set(
        t.log.read_state(at_version=v_cur).live_files
    )
    assert t.vacuum(orphan_grace_s=0.0) > 0
    assert not (mid_only & set(t.fs.list_files(t.data_dir)))


def test_vacuum_retain_by_age(spark, tmp_table_root):
    """Time-based retention: every version committed within retain_s survives."""
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=4)
    for i in range(2):
        ev = generate_events(GeneratorConfig(n_events=200, seed=60 + i))
        ev["seq"] += i * 100_000
        t.merge(_resolved(spark, ev), app_id="t", epoch_id=i)
    # every commit is seconds old → nothing but write-orphans may go
    live_all = set()
    for v in t.log.versions():
        live_all |= set(t.log.read_state(at_version=v).live_files)
    t.vacuum(retain_s=3600.0)
    assert live_all <= set(t.fs.list_files(t.data_dir))
    # with now pushed far into the future the window is empty → reclaim
    assert t.vacuum(now=t.log.commit_time(t.version) + 7200.0, retain_s=3600.0) > 0


def test_history_lineage(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=4)
    ev = generate_events(GeneratorConfig(n_events=200, seed=30))
    t.merge(_resolved(spark, ev), app_id="pipeline-x", epoch_id=0,
            extra_metrics={"events_applied": len(ev)})
    h = t.history()
    assert h[-1]["app_id"] == "pipeline-x"
    assert h[-1]["metrics"]["events_applied"] == len(ev)


def test_history_and_export_span_checkpoints(tmp_table_root):
    """history() and export_metadata() cover every commit, not just the ones
    after the last checkpoint (needs no Spark session: both read only the
    commit log)."""
    from investigraph_etl_spark.lake.log import CHECKPOINT_EVERY, Commit

    t = LakeTable.create(None, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=4)
    n = CHECKPOINT_EVERY + 5
    for v in range(2, n + 1):
        t.log.commit(Commit(version=v, app_id="a", epoch_id=v,
                            metrics={"events_applied": 10}))
    h = t.history()
    assert [c["version"] for c in h] == list(range(1, n + 1))
    assert t.export_metadata()["stats"] == {"events_applied": 10 * (n - 1)}


def test_decimal_stats_col_commits_and_skips_bounds(spark, tmp_table_root):
    """ADVICE r3: pyarrow emits decimal.Decimal min/max for DECIMAL stats
    columns; json.dumps raised TypeError AFTER the data files landed, aborting
    the commit and orphaning them. The column's bounds are skipped instead."""
    from pyspark.sql import types as T

    schema = T.StructType(
        list(TRANSCRIPT_SCHEMA.fields) + [T.StructField("amount", T.DecimalType(9, 2), True)]
    )
    t = LakeTable.create(spark, tmp_table_root, schema, n_buckets=2,
                         stats_cols=("conv_id", "amount"))
    t0 = pd.Timestamp("2025-01-01")
    ev = resolve_lww(
        spark.createDataFrame(pd.DataFrame([
            {"op": "insert", "conv_id": f"c{i}", "turn_idx": 0, "role": "user",
             "text": f"t{i}", "tool": None, "ts": t0, "seq": i, "amount": 1.25 * i}
            for i in range(4)
        ])).withColumn("amount", F.col("amount").cast("decimal(9,2)"))
    )
    res = t.merge(ev, app_id="d", epoch_id=0)  # must not abort
    assert not res["skipped"] and t.version == 2
    assert t.read().count() == 4
    st = t._state()
    assert st.file_stats  # conv_id bounds recorded...
    for bounds in st.file_stats.values():
        assert "conv_id" in bounds
        assert "amount" not in bounds  # ...decimal bounds skipped, unprunable
    kept, pruned = t.files_for(where=[("conv_id", "=", "c1")])
    assert kept  # pruning on the non-decimal stats col still works


def test_vacuum_default_grace_spares_young_orphans(spark, tmp_table_root):
    """ADVICE r3: under the OCC protocol 'files landed, commit not yet
    published' is a normal state, so the DEFAULT vacuum must leave young
    unreferenced files alone; reclaim-now is an explicit opt-in."""
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=2)
    ev = generate_events(GeneratorConfig(n_events=200, seed=77))
    t.merge(_resolved(spark, ev), app_id="t", epoch_id=0)
    more = generate_events(GeneratorConfig(n_events=200, seed=78))
    more["seq"] += 100_000
    t.merge(_resolved(spark, more), app_id="t", epoch_id=1)  # supersedes files
    assert t.vacuum() == 0                    # default: young files survive
    assert t.vacuum(orphan_grace_s=0.0) > 0   # explicit opt-in reclaims
    assert t.read().count() > 0


def test_bucket_fn_stamp_guards_foreign_layouts(spark, tmp_table_root):
    """ADVICE r4 (medium) + round-5 review: the bucket hash is part of the
    persisted format. A table laid out by a different (or unknown/pre-stamp)
    bucket function must refuse EVERY state read — writing murmur3 buckets
    into an xxhash64-era layout leaves two live rows per key, and reads
    prune by the computed bucket. Enforcement lives in _state() (not a
    load-time cache), so even a table swapped underneath an ALREADY-OPEN
    handle refuses; rebucket() is the migration path."""
    import json

    from investigraph_etl_spark.lake.table import BUCKET_FN, BucketFnMismatch

    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=4)
    ev = generate_events(GeneratorConfig(n_events=200, seed=91))
    t.merge(_resolved(spark, ev), app_id="t", epoch_id=0)
    assert t._state().bucket_fn == BUCKET_FN
    LakeTable.load(spark, tmp_table_root).read().count()  # matching stamp: fine

    # simulate a legacy / foreign layout: rewrite the create commit's stamp
    create_path = os.path.join(tmp_table_root, "_log", f"{1:020d}.json")
    c = json.load(open(create_path))
    c["bucket_fn"] = "xxhash64_pmod_v0"
    json.dump(c, open(create_path, "w"))
    with pytest.raises(BucketFnMismatch):
        LakeTable.load(spark, tmp_table_root).read()
    # the ALREADY-OPEN handle refuses too (the load-time-cache hole)
    with pytest.raises(BucketFnMismatch):
        t.merge(_resolved(spark, ev), app_id="t", epoch_id=1)
    # ... and an UNSTAMPED (pre-stamping) table is treated as unknown too
    c["bucket_fn"] = None
    json.dump(c, open(create_path, "w"))
    with pytest.raises(BucketFnMismatch):
        LakeTable.load(spark, tmp_table_root).read()

    # migration: open unchecked, rebucket (recomputes every bucket with the
    # current function and stamps it), then normal use works again
    tm = LakeTable.load(spark, tmp_table_root, check_bucket_fn=False)
    n_before = tm.read().count()
    assert tm.rebucket(4)["rebucketed"]
    t2 = LakeTable.load(spark, tmp_table_root)
    assert t2._state().bucket_fn == BUCKET_FN
    assert t2.read().count() == n_before
