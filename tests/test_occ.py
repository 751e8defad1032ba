"""Optimistic-concurrency commits: two writers racing on one table.

Races are injected deterministically: writer A's commit-log publish is
wrapped so A's FIRST attempt runs writer B's full operation before A's own
exclusive put — A then loses the version race and must retry (republish),
recompute (stale COW rewrite), or abort (epoch token / compaction inputs
taken), exactly the Delta/Iceberg commit-protocol cases.
"""

from __future__ import annotations

import pandas as pd

from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
from investigraph_etl_spark.cdc.resolve import resolve_lww
from investigraph_etl_spark.lake.table import LakeTable

T0 = pd.Timestamp("2025-03-01")


def _ev(spark, rows):
    return resolve_lww(spark.createDataFrame(pd.DataFrame(rows)))


def _r(op, conv, turn, text, hours, seq, **extra):
    return {"op": op, "conv_id": conv, "turn_idx": turn, "role": "user",
            "text": text, "tool": None,
            "ts": T0 + pd.Timedelta(hours=hours), "seq": seq, **extra}


def _inject_before_publish(table, action, times=1):
    """Run ``action`` right before this table handle's next ``times`` commit
    publishes — the other writer lands first, forcing the OCC retry path."""
    orig = table.log.commit
    state = {"n": 0}

    def hook(commit):
        if state["n"] < times:
            state["n"] += 1
            action()
        orig(commit)

    table.log.commit = hook


def _state(t):
    return {(r.conv_id, r.turn_idx): r.text for r in t.read().collect()}


def _on_disk(t):
    return {f for f in t.fs.list_files(t.data_dir) if f.endswith(".parquet")}


def _two_handles(spark, root, mode, n_buckets=2):
    a = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, n_buckets=n_buckets, mode=mode)
    a.compact_threshold = 10**9
    b = LakeTable.load(spark, root)
    b.compact_threshold = 10**9
    return a, b


def _bucket(spark, conv, n):
    return spark.sql(f"select pmod(hash('{conv}'), {n})").first()[0]


def test_mor_concurrent_merges_both_land(spark, tmp_path):
    a, b = _two_handles(spark, str(tmp_path / "t"), "mor")
    _inject_before_publish(a, lambda: b.merge(
        _ev(spark, [_r("insert", "c2", 0, "from-b", 0, 2)]), app_id="b", epoch_id=0))
    res = a.merge(_ev(spark, [_r("insert", "c1", 0, "from-a", 0, 1)]),
                  app_id="a", epoch_id=0)
    assert not res["skipped"]
    assert _state(a) == {("c1", 0): "from-a", ("c2", 0): "from-b"}
    assert ("a", 0) in a.committed_epochs() and ("b", 0) in a.committed_epochs()
    assert a.version == 3  # create + B's merge + A's republished merge


def test_raced_mor_merge_counts_the_winners_files_for_compaction(spark, tmp_path):
    """The compaction probe counts the files of the state A's commit was
    republished on: B's generation, landed in the same bucket during A's
    publish, takes the bucket past the threshold and A compacts it."""
    a, b = _two_handles(spark, str(tmp_path / "t"), "mor", n_buckets=1)
    a.compact_threshold = 1
    _inject_before_publish(a, lambda: b.merge(
        _ev(spark, [_r("insert", "c2", 0, "from-b", 0, 2)]), app_id="b", epoch_id=0))
    a.merge(_ev(spark, [_r("insert", "c1", 0, "from-a", 0, 1)]), app_id="a", epoch_id=0)
    assert len(a.files_for()[0]) == 1  # B's file + A's file, compacted to one
    assert _state(a) == {("c1", 0): "from-a", ("c2", 0): "from-b"}


def test_epoch_token_race_skips_and_discards(spark, tmp_path):
    a, b = _two_handles(spark, str(tmp_path / "t"), "mor")
    same = [_r("insert", "c1", 0, "x", 0, 1)]
    _inject_before_publish(a, lambda: b.merge(
        _ev(spark, same), app_id="app", epoch_id=7))
    res = a.merge(_ev(spark, same), app_id="app", epoch_id=7)
    assert res["skipped"] and "concurrent" in res["reason"]
    assert _state(a) == {("c1", 0): "x"}
    # the losing attempt's files were discarded EAGERLY (no vacuum needed):
    # everything on disk is referenced by the live version
    assert _on_disk(a) == set(a._state().live_files)


def test_cow_disjoint_buckets_both_land(spark, tmp_path):
    a, b = _two_handles(spark, str(tmp_path / "t"), "cow")
    convs = [f"c{i}" for i in range(12)]
    bk = {c: _bucket(spark, c, 2) for c in convs}
    ca = next(c for c in convs if bk[c] == 0)
    cb = next(c for c in convs if bk[c] == 1)
    _inject_before_publish(a, lambda: b.merge(
        _ev(spark, [_r("insert", cb, 0, "B", 0, 2)]), app_id="b", epoch_id=0))
    res = a.merge(_ev(spark, [_r("insert", ca, 0, "A", 0, 1)]),
                  app_id="a", epoch_id=0)
    assert not res["skipped"]
    assert _state(a) == {(ca, 0): "A", (cb, 0): "B"}


def test_cow_same_bucket_race_recomputes(spark, tmp_path):
    a, b = _two_handles(spark, str(tmp_path / "t"), "cow")
    # same conv_id → same bucket: A's rewrite is stale once B lands,
    # so A must discard its output and recompute against fresh state
    _inject_before_publish(a, lambda: b.merge(
        _ev(spark, [_r("insert", "c1", 1, "B", 0, 2)]), app_id="b", epoch_id=0))
    res = a.merge(_ev(spark, [_r("insert", "c1", 0, "A", 0, 1)]),
                  app_id="a", epoch_id=0)
    assert not res["skipped"]
    assert _state(a) == {("c1", 0): "A", ("c1", 1): "B"}
    # COW invariant restored: the touched bucket holds ONE generation again
    st = a._state()
    assert len(st.live_files) == 1
    a.vacuum(orphan_grace_s=0.0)
    assert _on_disk(a) == set(st.live_files)


def test_concurrent_schema_evolution_merges_additively(spark, tmp_path):
    a, b = _two_handles(spark, str(tmp_path / "t"), "mor")
    _inject_before_publish(a, lambda: b.merge(
        _ev(spark, [_r("insert", "c2", 0, "B", 0, 2, lang="en")]),
        app_id="b", epoch_id=0))
    a.merge(_ev(spark, [_r("insert", "c1", 0, "A", 0, 1, score=1.5)]),
            app_id="a", epoch_id=0)
    cols = {f.name for f in a.schema().fields}
    assert {"lang", "score"} <= cols  # both writers' columns survive the race
    rows = {r.conv_id: (r.lang, r.score) for r in a.read().collect()}
    assert rows["c1"] == (None, 1.5) and rows["c2"] == ("en", None)


def test_concurrent_compactions_one_wins_one_aborts(spark, tmp_path):
    a, b = _two_handles(spark, str(tmp_path / "t"), "mor")
    for e in range(3):
        a.merge(_ev(spark, [_r("insert", "c1", e, f"t{e}", e, e + 1)]),
                app_id="x", epoch_id=e)
    b_res = {}
    _inject_before_publish(a, lambda: b_res.update(b.compact()))
    res = a.compact()
    assert b_res["files_removed"] > 0                       # B won
    assert res["compacted_buckets"] == 0 and "aborted" in res  # A backed off
    assert _state(a) == {("c1", 0): "t0", ("c1", 1): "t1", ("c1", 2): "t2"}
    a.vacuum(orphan_grace_s=0.0)
    assert _on_disk(a) == set(a._state().live_files)


def test_compact_with_concurrent_append_keeps_new_generation(spark, tmp_path):
    a, b = _two_handles(spark, str(tmp_path / "t"), "mor")
    for e in range(2):
        a.merge(_ev(spark, [_r("insert" if e == 0 else "update", "c1", 0,
                               f"t{e}", e, e + 1)]), app_id="x", epoch_id=e)
    _inject_before_publish(a, lambda: b.merge(
        _ev(spark, [_r("update", "c1", 0, "newer", 9, 99)]),
        app_id="x", epoch_id=5))
    res = a.compact()
    assert res["files_removed"] == 2  # the two old generations it reduced
    # the concurrently-appended generation stayed live and wins by stamps
    assert _state(a)[("c1", 0)] == "newer"


def test_vacuum_orphan_grace_protects_inflight_writes(spark, tmp_path):
    import time as _time

    from investigraph_etl_spark.storage import join

    a, _ = _two_handles(spark, str(tmp_path / "t"), "mor")
    a.merge(_ev(spark, [_r("insert", "c1", 0, "x", 0, 1)]), app_id="x", epoch_id=0)
    # simulate an in-flight writer: files landed, commit not yet published
    orphan = "commit=deadbeef/bucket=0/part-00000.parquet"
    a.fs.put_bytes(join(a.data_dir, orphan), b"not-yet-committed")
    a.vacuum(orphan_grace_s=3600)
    assert a.fs.exists(join(a.data_dir, orphan))  # young orphan survives
    # …but a stale orphan (crashed writer) is reclaimed once past the grace
    a.vacuum(orphan_grace_s=3600, now=_time.time() + 7200)
    assert not a.fs.exists(join(a.data_dir, orphan))
    assert _state(a) == {("c1", 0): "x"}


def test_append_race_republishes(spark, tmp_path):
    a, b = _two_handles(spark, str(tmp_path / "t"), "cow")

    def rows(conv, text):
        return pd.DataFrame([{"conv_id": conv, "turn_idx": 0, "role": "user",
                              "text": text, "tool": None, "ts": T0}])

    _inject_before_publish(a, lambda: b.append(spark.createDataFrame(rows("c2", "B"))))
    res = a.append(spark.createDataFrame(rows("c1", "A")))
    assert res["version"] == 3  # republished after losing version 2
    assert _state(a) == {("c1", 0): "A", ("c2", 0): "B"}


def test_append_epoch_token_exactly_once(spark, tmp_path):
    a, b = _two_handles(spark, str(tmp_path / "t"), "cow")
    pdf = pd.DataFrame([{"conv_id": "c1", "turn_idx": 0, "role": "user",
                         "text": "bulk", "tool": None, "ts": T0}])
    r1 = a.append(spark.createDataFrame(pdf), app_id="load", epoch_id=3)
    assert not r1.get("skipped")
    # re-driven load step: recorded no-op before any work
    r2 = a.append(spark.createDataFrame(pdf), app_id="load", epoch_id=3)
    assert r2["skipped"] and a.version == r1["version"]
    assert len(_state(a)) == 1
    # raced token: B lands the same chunk while A's attempt is in flight
    pdf2 = pdf.assign(conv_id="c2")
    _inject_before_publish(a, lambda: b.append(
        spark.createDataFrame(pdf2), app_id="load", epoch_id=4))
    r3 = a.append(spark.createDataFrame(pdf2), app_id="load", epoch_id=4)
    assert r3["skipped"] and "concurrent" in r3["reason"]
    assert _on_disk(a) == set(a._state().live_files)  # loser's files discarded


def test_cow_merge_raced_by_rebucket_recomputes_touched(spark, tmp_path):
    """ADVICE r3: a COW merge retried after a concurrent REBUCKET must not
    reuse the caller-supplied `touched` list — those bucket ids belong to the
    old layout, so the retry would neither re-reduce nor remove the keys'
    existing rows, leaving two live rows per key (and COW read() does no LWW
    reduction)."""
    a, b = _two_handles(spark, str(tmp_path / "t"), "cow", n_buckets=2)
    # pick a conv whose bucket id CHANGES between the 2- and 7-bucket layouts
    conv = next(c for c in (f"c{i}" for i in range(50))
                if _bucket(spark, c, 2) != _bucket(spark, c, 7))
    a.merge(_ev(spark, [_r("insert", conv, 0, "old", 0, 1)]),
            app_id="a", epoch_id=0)
    touched = [_bucket(spark, conv, 2)]  # computed under the CURRENT layout
    _inject_before_publish(a, lambda: b.rebucket(7))
    res = a.merge(_ev(spark, [_r("update", conv, 0, "new", 1, 2)]),
                  app_id="a", epoch_id=1, touched=touched)
    assert not res["skipped"]
    assert a.read().count() == 1           # exactly ONE live row for the key
    assert _state(a) == {(conv, 0): "new"}
