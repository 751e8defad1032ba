"""Merge-on-read mode: append-only MERGE generations + read-time LWW reduce +
compaction. State must be indistinguishable from COW / the replay oracle at
every step — MOR is a physical-layout choice, never a semantic one."""

from __future__ import annotations

import pandas as pd
import pytest

from investigraph_etl_spark.cdc.apply import apply_events_batch
from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
from investigraph_etl_spark.cdc.generator import GeneratorConfig, generate_events
from investigraph_etl_spark.cdc.oracle import replay_oracle
from investigraph_etl_spark.lake.table import LakeTable

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _final(table):
    return (
        table.read().toPandas()[PAYLOAD]
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


@pytest.fixture()
def tail():
    return generate_events(GeneratorConfig(n_events=4000, seed=11, n_epochs=4))


def _apply_all(spark, root, ev, **kw):
    table = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, n_buckets=8, mode="mor")
    for epoch, part in ev.groupby("epoch", sort=True):
        apply_events_batch(
            table,
            spark.createDataFrame(part.drop(columns=["epoch"])),
            app_id="mor",
            epoch_id=int(epoch),
            **kw,
        )
    return table


def test_mor_matches_oracle_after_each_epoch(spark, tail, tmp_path):
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, n_buckets=8, mode="mor"
    )
    seen = []
    for epoch, part in tail.groupby("epoch", sort=True):
        body = part.drop(columns=["epoch"])
        apply_events_batch(table, spark.createDataFrame(body), app_id="m", epoch_id=int(epoch))
        seen.append(body)
        want = replay_oracle(pd.concat(seen, ignore_index=True))[PAYLOAD]
        pd.testing.assert_frame_equal(_final(table), want, check_dtype=False)


def test_mor_equals_cow_final_state(spark, tail, tmp_path):
    mor = _apply_all(spark, str(tmp_path / "mor"), tail)
    cow = LakeTable.create(spark, str(tmp_path / "cow"), TRANSCRIPT_SCHEMA, n_buckets=8)
    for epoch, part in tail.groupby("epoch", sort=True):
        apply_events_batch(
            cow, spark.createDataFrame(part.drop(columns=["epoch"])), app_id="c", epoch_id=int(epoch)
        )
    pd.testing.assert_frame_equal(_final(mor), _final(cow), check_dtype=False)


def test_mor_compaction_preserves_state_and_prunes_files(spark, tail, tmp_path):
    table = _apply_all(spark, str(tmp_path / "t"), tail)
    before = _final(table)
    n_files_before = len(table._state().live_files)
    res = table.compact()
    assert res["compacted_buckets"] > 0
    n_files_after = len(table._state().live_files)
    assert n_files_after < n_files_before
    pd.testing.assert_frame_equal(_final(table), before, check_dtype=False)
    # compacted layout: at most one file per bucket
    assert max(table._files_per_bucket(table._state().live_files).values()) == 1
    # vacuum reclaims superseded generations
    assert table.vacuum(orphan_grace_s=0.0) > 0
    pd.testing.assert_frame_equal(_final(table), before, check_dtype=False)


def test_mor_tombstone_survives_compaction(spark, tmp_path):
    """delete → compact → stale update: the update must still lose."""
    ts = pd.Timestamp("2025-06-01")
    mk = lambda rows: spark.createDataFrame(
        pd.DataFrame(rows, columns=["op", "conv_id", "turn_idx", "role", "text", "tool", "ts", "seq"])
    )
    table = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, n_buckets=4, mode="mor")
    apply_events_batch(table, mk([("insert", "c1", 0, "user", "hello", None, ts, 1)]), "a", 0)
    apply_events_batch(
        table, mk([("delete", "c1", 0, None, None, None, ts + pd.Timedelta("2h"), 2)]), "a", 1
    )
    table.compact()
    # stale update (older ts than the tombstone) must NOT resurrect
    apply_events_batch(
        table, mk([("update", "c1", 0, "user", "zombie", None, ts + pd.Timedelta("1h"), 3)]), "a", 2
    )
    assert table.read().count() == 0
    # a strictly newer update does resurrect
    apply_events_batch(
        table, mk([("update", "c1", 0, "user", "alive", None, ts + pd.Timedelta("3h"), 4)]), "a", 3
    )
    got = table.read().toPandas()
    assert list(got["text"]) == ["alive"]


def test_mor_auto_compaction_bounds_generations(spark, tmp_path):
    ev = generate_events(GeneratorConfig(n_events=3000, seed=13, n_epochs=12, n_convs=40))
    table = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, n_buckets=2, mode="mor")
    table.compact_threshold = 3
    for epoch, part in ev.groupby("epoch", sort=True):
        apply_events_batch(
            table, spark.createDataFrame(part.drop(columns=["epoch"])), app_id="ac", epoch_id=int(epoch)
        )
        counts = table._files_per_bucket(table._state().live_files)
        assert max(counts.values()) <= table.compact_threshold + 1
    want = replay_oracle(ev.drop(columns=["epoch"]))[PAYLOAD]
    pd.testing.assert_frame_equal(_final(table), want, check_dtype=False)


def test_mor_exactly_once_reapply(spark, tail, tmp_path):
    table = _apply_all(spark, str(tmp_path / "t"), tail)
    before = _final(table)
    version = table.version
    # re-deliver epoch 0 verbatim → recorded no-op
    part0 = tail[tail["epoch"] == 0].drop(columns=["epoch"])
    res = apply_events_batch(table, spark.createDataFrame(part0), app_id="mor", epoch_id=0)
    assert res["skipped"]
    assert table.version == version
    pd.testing.assert_frame_equal(_final(table), before, check_dtype=False)


def test_mor_schema_evolution_mid_stream(spark, tmp_path):
    """Additive columns appear mid-stream in MOR mode: old generations read
    as null for the new columns; final state matches the oracle."""
    ev = generate_events(
        GeneratorConfig(n_events=3000, seed=37, n_epochs=6, evolve_from_epoch=3)
    )
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, n_buckets=4, mode="mor"
    )
    for epoch, part in ev.groupby("epoch", sort=True):
        body = part.drop(columns=["epoch"])
        if epoch < 3:
            body = body.drop(columns=["tool_version", "tokens"])
        apply_events_batch(
            table, spark.createDataFrame(body), app_id="sev", epoch_id=int(epoch)
        )
    cols = [f.name for f in table.schema().fields]
    assert cols[-2:] == ["tool_version", "tokens"]
    table.compact()  # evolution must survive compaction too
    got = (
        table.read().toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    )
    want = replay_oracle(ev.drop(columns=["epoch"]))
    pd.testing.assert_frame_equal(
        got[PAYLOAD], want[PAYLOAD].reset_index(drop=True), check_dtype=False
    )
    evolved = want[want["tool_version"].notna()]
    got_idx = got.set_index(["conv_id", "turn_idx"])
    for _, r in evolved.head(50).iterrows():
        assert got_idx.loc[(r["conv_id"], r["turn_idx"]), "tool_version"] == r["tool_version"]


def test_mor_epoch_reads_state_twice_and_compacts_past_threshold(
    spark, tmp_path, monkeypatch
):
    """An epoch reads the table state twice (the apply's exactly-once check
    and the merge's base); the compaction probe counts files from the
    published commit instead of a third read. Compaction still fires on
    the epoch that leaves ``compact_threshold + 1`` generations."""
    from investigraph_etl_spark.lake.log import CommitLog

    calls = []
    read_state = CommitLog.read_state
    monkeypatch.setattr(
        CommitLog, "read_state",
        lambda self, *a, **k: calls.append(1) or read_state(self, *a, **k),
    )
    ev = generate_events(GeneratorConfig(n_events=2000, seed=5, n_epochs=5, n_convs=40))
    table = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                             n_buckets=2, mode="mor")
    table.compact_threshold = 3
    per_epoch, generations = [], []
    for epoch, part in ev.groupby("epoch", sort=True):
        df = spark.createDataFrame(part.drop(columns=["epoch"]))
        calls.clear()
        apply_events_batch(table, df, app_id="rs", epoch_id=int(epoch))
        per_epoch.append(len(calls))
        generations.append(max(table._files_per_bucket(table._state().live_files).values()))
    # epoch 3 writes generation 4 = compact_threshold + 1: compacted to one
    assert generations == [1, 2, 3, 1, 2]
    assert per_epoch[:3] + per_epoch[4:] == [2, 2, 2, 2]
    assert per_epoch[3] > 2  # compact() reads the state itself
    want = replay_oracle(ev.drop(columns=["epoch"]))[PAYLOAD]
    pd.testing.assert_frame_equal(_final(table), want, check_dtype=False)
