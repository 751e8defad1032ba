"""Incremental changelog reads (LakeTable.changes — the CDC-out face):
exact per-epoch deltas on MOR tables, replay-to-state equivalence, window
selection, compaction transparency, vacuum interaction, COW refusal."""

from __future__ import annotations

import pandas as pd
import pytest

from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
from investigraph_etl_spark.cdc.resolve import resolve_lww
from investigraph_etl_spark.lake.table import LakeTable

T0 = pd.Timestamp("2025-03-01")


def _ev(spark, rows):
    return resolve_lww(spark.createDataFrame(pd.DataFrame(rows)))


def _r(op, conv, turn, text, hours, seq):
    return {"op": op, "conv_id": conv, "turn_idx": turn, "role": "user",
            "text": text, "tool": None,
            "ts": T0 + pd.Timedelta(hours=hours), "seq": seq}


def _mor(spark, root):
    t = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, n_buckets=2, mode="mor")
    t.compact_threshold = 10**9
    t.merge(_ev(spark, [
        _r("insert", "c1", 0, "a", 0, 1),
        _r("insert", "c2", 0, "b", 0, 2),
    ]), app_id="cl", epoch_id=0)
    v_after_1 = t.version
    t.merge(_ev(spark, [
        _r("update", "c1", 0, "a2", 1, 3),
        _r("insert", "c3", 0, "c", 1, 4),
    ]), app_id="cl", epoch_id=1)
    t.merge(_ev(spark, [
        _r("delete", "c2", 0, None, 2, 5),
    ]), app_id="cl", epoch_id=2)
    return t, v_after_1


def _replay(changes_pdf):
    """Apply the changelog in commit order; returns {key: text} live state."""
    state = {}
    for _, row in changes_pdf.sort_values("_commit_version").iterrows():
        k = (row.conv_id, row.turn_idx)
        if row._change_type == "delete":
            state.pop(k, None)
        else:
            state[k] = row.text
    return state


def test_changes_full_window_replays_to_table_state(spark, tmp_table_root):
    t, _ = _mor(spark, tmp_table_root)
    ch = t.changes(0).toPandas()
    assert set(ch["_change_type"]) == {"upsert", "delete"}
    assert len(ch) == 5  # 2 + 2 + 1 resolved change rows, exactly
    assert ch["_commit_version"].nunique() == 3
    live = {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}
    assert _replay(ch) == live == {("c1", 0): "a2", ("c3", 0): "c"}


def test_changes_window_selection(spark, tmp_table_root):
    t, v1 = _mor(spark, tmp_table_root)
    ch = t.changes(v1).toPandas()  # epochs 1 and 2 only
    assert len(ch) == 3
    assert set(ch["conv_id"]) == {"c1", "c2", "c3"}
    # bounded upper end
    ch01 = t.changes(0, to_version=v1).toPandas()
    assert len(ch01) == 2 and set(ch01["conv_id"]) == {"c1", "c2"}
    # empty window
    assert t.changes(t.version).count() == 0


def test_changes_skips_compaction_and_reemitted_epochs(spark, tmp_table_root):
    t, _ = _mor(spark, tmp_table_root)
    before = t.changes(0).toPandas()
    t.compact()  # physical-only commit
    # a re-delivered epoch is an exactly-once no-op: no new commit, no rows
    t.merge(_ev(spark, [_r("insert", "c9", 0, "dup", 9, 99)]),
            app_id="cl", epoch_id=1)
    after = t.changes(0).toPandas()
    pd.testing.assert_frame_equal(
        before.sort_values(["_commit_version", "conv_id"]).reset_index(drop=True),
        after.sort_values(["_commit_version", "conv_id"]).reset_index(drop=True),
    )


def test_changes_after_vacuum_raises(spark, tmp_table_root):
    t, _ = _mor(spark, tmp_table_root)
    t.compact()
    t.vacuum(orphan_grace_s=0.0)  # reclaims the pre-compaction generations
    with pytest.raises(FileNotFoundError, match="vacuum"):
        t.changes(0).count()


def test_cow_merge_refused_append_allowed(spark, tmp_table_root):
    t = LakeTable.create(spark, tmp_table_root, TRANSCRIPT_SCHEMA, n_buckets=2)
    df = spark.createDataFrame(pd.DataFrame([
        {"conv_id": "a", "turn_idx": 0, "role": "user", "text": "x",
         "tool": None, "ts": T0},
    ]))
    t.append(df)
    ch = t.changes(0).toPandas()  # append = logical insert, fine on COW
    assert len(ch) == 1 and ch.iloc[0]._change_type == "upsert"
    t.merge(_ev(spark, [_r("update", "a", 0, "y", 1, 2)]), app_id="c", epoch_id=0)
    with pytest.raises(ValueError, match="copy-on-write"):
        t.changes(0)


def test_consume_changes_consumer_groups(spark, tmp_table_root):
    """consume_changes: ack advances the cursor, missing ack redelivers
    (at-least-once), consumer ids are independent."""
    t, v1 = _mor(spark, tmp_table_root)
    df, ack = t.consume_changes("sink-a")
    assert df.count() == 5  # full history on first consumption
    assert ack() == t.version
    df2, ack2 = t.consume_changes("sink-a")
    assert df2.count() == 0  # nothing new after ack

    # un-acked consumption redelivers the same window
    df3, _no_ack = t.consume_changes("sink-b")
    assert df3.count() == 5
    df4, ack4 = t.consume_changes("sink-b")
    assert df4.count() == 5  # redelivery
    ack4()

    # new epoch: both consumers see exactly the delta
    t.merge(_ev(spark, [_r("insert", "c7", 0, "z", 5, 9)]),
            app_id="cl", epoch_id=7)
    for cid in ("sink-a", "sink-b"):
        d, a = t.consume_changes(cid)
        rows = d.collect()
        assert len(rows) == 1 and rows[0].conv_id == "c7"
        a()


def test_consume_changes_reads_state_once(spark, tmp_table_root, monkeypatch):
    """One state read cuts the window and plans its changelog; the window
    and the ack cursor are the same as ``changes(last, version)``."""
    from investigraph_etl_spark.lake.log import CommitLog

    t, v1 = _mor(spark, tmp_table_root)
    calls = []
    read_state = CommitLog.read_state
    monkeypatch.setattr(
        CommitLog, "read_state",
        lambda self, *a, **k: calls.append(1) or read_state(self, *a, **k),
    )
    df, ack = t.consume_changes("once")
    assert len(calls) == 1
    assert ack.window == (0, t.version)
    assert sorted(df.collect(), key=str) == sorted(t.changes(0, t.version).collect(), key=str)
    assert ack() == t.version
    calls.clear()
    df, ack = t.consume_changes("once")
    assert len(calls) == 1 and df.count() == 0 and ack.window == (t.version,) * 2


def test_compact_clusters_rows_by_key(spark, tmp_table_root):
    """Clustered compaction writes each file key-sorted (tight per-row-group
    ranges; conversations contiguous)."""
    import pandas as pd_
    t, _ = _mor(spark, tmp_table_root)
    t.merge(_ev(spark, [_r("insert", f"k{i % 7}", i, "v", 3, 50 + i)
                        for i in range(40)]), app_id="cl", epoch_id=5)
    t.compact()
    st = t._state()
    for rel in st.live_files:
        pdf = pd_.read_parquet(f"{t.data_dir}/{rel}")
        keys = list(zip(pdf["conv_id"], pdf["turn_idx"]))
        assert keys == sorted(keys), rel
    # correctness untouched
    assert t.read().count() > 0
    live = {(r.conv_id, r.turn_idx) for r in t.read().collect()}
    assert ("c1", 0) in live and ("c2", 0) not in live  # c2 deleted pre-compact


# ----------------------------------------------------------------- replicate
def test_replicate_converges_and_is_exactly_once(spark, tmp_path):
    """src changelog → dst merge: replica equals source after every cycle,
    crash-before-ack redelivery is harmless, deltas arrive incrementally."""
    from investigraph_etl_spark.lake.replicate import replicate

    src, _ = _mor(spark, str(tmp_path / "src"))
    dst = LakeTable.create(spark, str(tmp_path / "dst"), TRANSCRIPT_SCHEMA,
                           n_buckets=2, mode="mor")

    r1 = replicate(src, dst, "rep")
    assert not r1.get("skipped")

    def state(t):
        return {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}

    assert state(dst) == state(src) == {("c1", 0): "a2", ("c3", 0): "c"}

    # nothing new → skipped, no commit
    v = dst.version
    assert replicate(src, dst, "rep")["skipped"] and dst.version == v

    # crash-before-ack: consume without acking, then replicate normally —
    # the epoch token absorbs the replay
    df, _no_ack = src.consume_changes("rep2", with_stamps=True)
    assert df.count() == 5
    replicate(src, dst, "rep2")  # applies the same history under a new id
    assert state(dst) == state(src)

    # incremental: one more source epoch, delta-only application
    src.merge(_ev(spark, [
        _r("update", "c3", 0, "c9", 8, 11),
        _r("insert", "c4", 1, "d", 8, 12),
    ]), app_id="cl", epoch_id=9)
    r2 = replicate(src, dst, "rep")
    assert not r2.get("skipped")
    assert state(dst) == state(src)
    assert state(dst)[("c3", 0)] == "c9" and ("c4", 1) in state(dst)

    # late stale update upstream must stay resolved identically downstream
    src.merge(_ev(spark, [_r("update", "c3", 0, "stale", 3, 13)]),
              app_id="cl", epoch_id=10)
    replicate(src, dst, "rep")
    assert state(dst) == state(src)
    assert state(dst)[("c3", 0)] == "c9"  # +8h beats the late +3h everywhere
