"""End-to-end batch apply: full adversarial tail, applied epoch by epoch through
apply_events_batch, must reach 100% per-turn text equality with the pandas
replay oracle — and be invariant to how the tail is chopped into epochs
(the generalization of the reference's chunk_size-invariance test,
/root/reference/tests/test_pipeline.py:72-79)."""

import pandas as pd
import pytest

from investigraph_etl_spark.cdc.apply import apply_events_batch, read_metrics
from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
from investigraph_etl_spark.cdc.generator import GeneratorConfig, generate_events
from investigraph_etl_spark.cdc.oracle import replay_oracle
from investigraph_etl_spark.lake.table import LakeTable

PAYLOAD = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]


def _apply_all(spark, root, ev, n_salts=None, n_buckets=8, mode="cow"):
    table = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, n_buckets=n_buckets, mode=mode)
    results = []
    for epoch, part in ev.groupby("epoch", sort=True):
        batch = spark.createDataFrame(part.drop(columns=["epoch"]))
        results.append(apply_events_batch(
            table, batch, app_id="e2e", epoch_id=int(epoch), n_salts=n_salts
        ))
    return table, results


def _final(table):
    return (
        table.read()
        .toPandas()[PAYLOAD]
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


@pytest.mark.parametrize(
    "n_salts,wide_mor", [(None, False), (8, False), (None, True)],
    ids=["None", "8", "wide_mor"],
)
def test_e2e_matches_oracle(spark, tmp_path, n_salts, wide_mor):
    """``wide_mor``: a MOR table wider than ``OBS_LINEAGE_MAX_BUCKETS`` takes
    the two-action fallback, and its committed lineage must still add up."""
    ev = generate_events(GeneratorConfig(n_events=6000, seed=42, n_epochs=5))
    layout = dict(n_buckets=72, mode="mor") if wide_mor else {}
    table, results = _apply_all(spark, str(tmp_path / "t"), ev, n_salts=n_salts, **layout)
    got = _final(table)
    want = replay_oracle(ev.drop(columns=["epoch"]))[PAYLOAD].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    # 100% per-turn text equality, explicitly (BASELINE.json correctness gate)
    assert (got["text"].fillna("∅") == want["text"].fillna("∅")).all()
    if wide_mor:
        assert all(r["plan_shape"] == "two_action" for r in results)
        commits = [c for c in table.history() if c["epoch_id"] is not None]
        assert [c["version"] for c in commits] == [r["version"] for r in results]
        for c in commits:
            m = c["metrics"]
            assert sum(m["lineage"]["events_applied"]) == m["events_applied"] > 0
        assert read_metrics(table).toPandas()["events_applied"].sum() == sum(
            r["events_applied"] for r in results
        )


def test_e2e_epoch_partitioning_invariance(spark, tmp_path):
    """Same tail, chopped into 2 vs 9 epochs ⇒ byte-identical final table."""
    base = GeneratorConfig(n_events=4000, seed=7, n_epochs=2)
    ev_a = generate_events(base)
    ev_b = ev_a.copy()
    ev_b["epoch"] = (pd.RangeIndex(len(ev_b)) * 9 // len(ev_b)).astype("int64")
    ta, _ = _apply_all(spark, str(tmp_path / "a"), ev_a)
    tb, _ = _apply_all(spark, str(tmp_path / "b"), ev_b)
    pd.testing.assert_frame_equal(_final(ta), _final(tb))


def test_e2e_quarantine_and_metrics(spark, tmp_path):
    ev = generate_events(GeneratorConfig(n_events=1000, seed=3, n_epochs=1))
    bad = ev.head(20).copy()
    bad["conv_id"] = None  # null key → quarantine, never applied
    evq = pd.concat([ev, bad], ignore_index=True)
    table = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, n_buckets=8)
    res = apply_events_batch(
        table, spark.createDataFrame(evq.drop(columns=["epoch"])), app_id="q", epoch_id=0
    )
    assert res["events_quarantined"] == 20
    assert res["events_applied"] == len(ev)

    m = read_metrics(table).toPandas()
    assert m["events_applied"].sum() == len(ev)
    assert (m["conflicts_resolved"] >= 0).all()
    # applied buckets carry a watermark; the bucket=-1 quarantine lineage
    # row legitimately has none
    assert m.loc[m["events_applied"] > 0, "watermark_pos"].notna().all()
    assert m["events_quarantined"].sum() == 20
    # final state matches oracle despite the junk rows
    want = replay_oracle(ev.drop(columns=["epoch"]))[PAYLOAD].reset_index(drop=True)
    pd.testing.assert_frame_equal(_final(table), want, check_dtype=False)


def test_crash_between_write_and_commit_keeps_quarantine(spark, tmp_path):
    """Regression (round-2 advice): quarantine + metrics used to be written
    AFTER the commit-log append — a crash between the two permanently lost
    the quarantined rows, since the committed epoch token makes the retry a
    no-op. Quarantine is now written in the pre-commit hook and the lineage
    rides the commit itself; a crash injected at the log commit must leave
    no lineage behind and the retry able to converge with no loss and no
    quarantine duplicates."""
    from investigraph_etl_spark.cdc.apply import read_quarantine

    ev = generate_events(GeneratorConfig(n_events=800, seed=13, n_epochs=1))
    bad = ev.head(15).copy()
    bad["conv_id"] = None
    evq = pd.concat([ev, bad], ignore_index=True)
    table = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, n_buckets=8)
    batch = spark.createDataFrame(evq.drop(columns=["epoch"]))

    real_commit = table.log.commit
    boom = {"armed": True}

    def crashing_commit(c):
        if boom["armed"]:  # data + quarantine written, token + lineage not yet
            boom["armed"] = False
            raise RuntimeError("injected crash before log commit")
        return real_commit(c)

    table.log.commit = crashing_commit
    with pytest.raises(RuntimeError, match="injected crash"):
        apply_events_batch(table, batch, app_id="cr", epoch_id=0)
    # the crash lost the token but NOT the quarantine rows; the lineage
    # rides the commit, so the uncommitted epoch shows none
    assert read_quarantine(table).count() == 15
    assert read_metrics(table).count() == 0

    res = apply_events_batch(table, batch, app_id="cr", epoch_id=0)  # retry
    assert res["events_quarantined"] == 15
    assert res["events_applied"] == len(ev)
    assert read_quarantine(table).count() == 15  # overwrite, not append: no dupes
    m = read_metrics(table).toPandas()
    assert m["events_quarantined"].sum() == 15  # metrics not duplicated either
    want = replay_oracle(ev.drop(columns=["epoch"]))[PAYLOAD].reset_index(drop=True)
    pd.testing.assert_frame_equal(_final(table), want, check_dtype=False)

    res2 = apply_events_batch(table, batch, app_id="cr", epoch_id=0)  # re-delivery
    assert res2.get("skipped")


def test_metrics_keep_two_apps_epoch_zero_apart(spark, tmp_path):
    """Two writers (apps ``a`` and ``b``) each commit epoch 0 to one MOR
    table: the lineage of both epochs survives, one row set per app, each
    tagged with its own commit version."""
    table = LakeTable.create(
        spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, n_buckets=8, mode="mor"
    )
    res = {}
    for app, seed in (("a", 21), ("b", 22)):
        ev = generate_events(GeneratorConfig(n_events=300, seed=seed, n_epochs=1))
        batch = spark.createDataFrame(ev.drop(columns=["epoch"]))
        res[app] = apply_events_batch(table, batch, app_id=app, epoch_id=0)
    m = read_metrics(table).toPandas()
    assert m["events_applied"].sum() == sum(r["events_applied"] for r in res.values())
    assert set(m["app_id"]) == {"a", "b"}
    for app, r in res.items():
        rows = m[m["app_id"] == app]
        assert set(rows["version"]) == {r["version"]}
        assert set(rows["epoch_id"]) == {0}
        assert rows["bucket"].is_unique
        assert rows["events_applied"].sum() == r["events_applied"] > 0


def test_e2e_schema_evolution_mid_stream(spark, tmp_path):
    ev = generate_events(
        GeneratorConfig(n_events=3000, seed=5, n_epochs=6, evolve_from_epoch=3)
    )
    table = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA, n_buckets=8)
    for epoch, part in ev.groupby("epoch", sort=True):
        body = part.drop(columns=["epoch"])
        if epoch < 3:  # early epochs genuinely lack the new columns
            body = body.drop(columns=["tool_version", "tokens"])
        apply_events_batch(table, spark.createDataFrame(body), app_id="se", epoch_id=int(epoch))

    cols = [f.name for f in table.schema().fields]
    assert cols[-2:] == ["tool_version", "tokens"]
    got = (
        table.read().toPandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable").reset_index(drop=True)
    )
    want = replay_oracle(ev.drop(columns=["epoch"]))
    pd.testing.assert_frame_equal(
        got[PAYLOAD], want[PAYLOAD].reset_index(drop=True), check_dtype=False
    )
    # evolved column values survive the merge for winners from evolved epochs
    want_tokens = want["tokens"].reset_index(drop=True)
    got_tokens = got["tokens"]
    assert (got_tokens.isna() == want_tokens.isna()).all()
    both = got_tokens.notna()
    assert (got_tokens[both].astype("int64") == want_tokens[both].astype("int64")).all()


def test_lineage_parity_across_apply_paths(spark, tmp_path):
    """The one-action MOR path (per-bucket lineage via Observation riding the
    write job) and the two-action COW path (separate lineage aggregation) must
    emit IDENTICAL _metrics rows for the same tail — lineage semantics are a
    property of the data, not of the physical apply strategy."""
    ev = generate_events(GeneratorConfig(n_events=4000, seed=11, n_epochs=3))

    def metrics_of(mode, root):
        table = LakeTable.create(
            spark, root, TRANSCRIPT_SCHEMA, n_buckets=8, mode=mode
        )
        for epoch, part in ev.groupby("epoch", sort=True):
            batch = spark.createDataFrame(part.drop(columns=["epoch"]))
            apply_events_batch(table, batch, app_id="par", epoch_id=int(epoch))
        return (
            read_metrics(table)
            .toPandas()
            .sort_values(["epoch_id", "bucket"], kind="stable")
            .reset_index(drop=True)
        )

    mor = metrics_of("mor", str(tmp_path / "mor"))
    cow = metrics_of("cow", str(tmp_path / "cow"))
    pd.testing.assert_frame_equal(mor, cow, check_dtype=False)
    assert (mor["events_applied"] > 0).any()


def _tail_frame(rows):
    ev = pd.DataFrame(rows)
    ev["turn_idx"] = ev["turn_idx"].astype("int32")
    ev["ts"] = ev["ts"].astype("datetime64[us]")
    ev["tool"] = ev["tool"].astype("string")  # all-null object → parquet INT32
    return ev


def _unique_tail(n_epochs: int = 3, per_epoch: int = 400):
    """Every (conv, turn) inserted once, within and across epochs."""
    t0 = pd.Timestamp("2025-05-01")
    return _tail_frame([
        {"op": "insert", "conv_id": f"c{epoch}-{i}", "turn_idx": 0,
         "role": "user", "text": f"t{epoch}.{i}", "tool": None,
         "ts": t0 + pd.Timedelta(seconds=epoch * 1000 + i),
         "seq": epoch * 1000 + i, "epoch": epoch}
        for epoch in range(n_epochs) for i in range(per_epoch)
    ])


def _duplicated_tail(n_epochs: int = 3, n_keys: int = 100, writes: int = 4):
    """The same ``n_keys`` keys re-written ``writes`` times in every epoch."""
    t0 = pd.Timestamp("2025-05-01")
    rows, seq = [], 0
    for epoch in range(n_epochs):
        for _ in range(writes):
            for i in range(n_keys):
                rows.append({
                    "op": "upsert", "conv_id": f"c{i}", "turn_idx": 0,
                    "role": "user", "text": f"t{seq}", "tool": None,
                    "ts": t0 + pd.Timedelta(seconds=seq), "seq": seq,
                    "epoch": epoch,
                })
                seq += 1
    return _tail_frame(rows)


def _hot_bucket_tail(n_epochs: int = 2, per_epoch: int = 400):
    """Half of every epoch in ONE conversation (distinct turns), the other
    half on unique keys."""
    t0 = pd.Timestamp("2025-06-01")
    rows, seq = [], 0
    for epoch in range(n_epochs):
        for i in range(per_epoch):
            hot = i % 2 == 0
            rows.append({
                "op": "insert",
                "conv_id": "hot-conv" if hot else f"c{epoch}-{i}",
                "turn_idx": seq if hot else 0,
                "role": "user", "text": f"t{seq}", "tool": None,
                "ts": t0 + pd.Timedelta(seconds=seq), "seq": seq, "epoch": epoch,
            })
            seq += 1
    return _tail_frame(rows)


def _epoch_tail(flood_rows: int, uniq_rows: int, n_epochs: int):
    """Synthetic tail: per epoch, `flood_rows` upserts re-write ONE
    (conv, turn) key and `uniq_rows` inserts hit unique keys."""
    t0 = pd.Timestamp("2025-06-01")
    rows, seq = [], 0
    for epoch in range(n_epochs):
        for i in range(flood_rows + uniq_rows):
            hot = i < flood_rows
            rows.append({
                "op": "upsert" if hot else "insert",
                "conv_id": "flood" if hot else f"c{epoch}-{i}",
                "turn_idx": 0,
                "role": "user", "text": f"t{seq}", "tool": None,
                "ts": t0 + pd.Timedelta(seconds=seq), "seq": seq,
                "epoch": epoch,
            })
            seq += 1
    return _tail_frame(rows)


def _run_tail(spark, tmp_path, ev, tag, n_buckets):
    """Land ``ev`` as 4 files per epoch and drain it through IngestPipeline
    into a fresh MOR table; returns (table, per-epoch results)."""
    from investigraph_etl_spark.cdc.generator import write_epoch_files
    from investigraph_etl_spark.streaming.ingest import IngestPipeline

    landing = str(tmp_path / f"landing-{tag}")
    write_epoch_files(ev, landing, files_per_epoch=4)
    table = LakeTable.create(spark, str(tmp_path / f"t-{tag}"), TRANSCRIPT_SCHEMA,
                             n_buckets=n_buckets, mode="mor")
    pipe = IngestPipeline(
        spark, events_dir=landing, table_root=table.root,
        checkpoint_dir=str(tmp_path / f"ckpt-{tag}"), max_files_per_trigger=4,
    )
    return table, pipe.run_available_now()


def _assert_one_file_per_bucket(table):
    """Every merge commit added at most one file per bucket."""
    for c in table.history():
        if c.get("epoch_id") is not None and c.get("added"):
            buckets = [
                [p for p in f.split("/") if p.startswith("bucket=")][0]
                for f in c["added"]
            ]
            assert len(buckets) == len(set(buckets))


def _assert_matches_oracle(table, ev):
    cols = ["conv_id", "turn_idx", "text"]
    got = table.read().orderBy("conv_id", "turn_idx").toPandas()[cols]
    want = (
        replay_oracle(ev.drop(columns=["epoch"]))
        .sort_values(["conv_id", "turn_idx"])
        .reset_index(drop=True)[cols]
    )
    pd.testing.assert_frame_equal(got.reset_index(drop=True), want,
                                  check_dtype=False)


def test_unique_key_tail_matches_oracle(spark, tmp_path):
    """A duplication-1 tail (every key inserted once) through the streaming
    pipeline: the table equals the replay oracle and every MOR commit adds
    at most one file per bucket."""
    ev = _unique_tail()
    table, results = _run_tail(spark, tmp_path, ev, "uniq", n_buckets=8)
    assert len(results) == 3
    assert all(r["conflicts_resolved"] == 0 for r in results)
    _assert_one_file_per_bucket(table)
    _assert_matches_oracle(table, ev)


def test_hot_bucket_tail_stays_on_combine_shape(spark, tmp_path):
    """One conversation owns ~50% of every epoch: the hot epochs run the
    same combine-first plan as any other (the resolve spreads by
    (conv, turn)), the lineage reports the hot bucket's share, each commit
    still adds at most one file per bucket, and the table equals the
    replay oracle."""
    ev = _hot_bucket_tail()
    table, results = _run_tail(spark, tmp_path, ev, "hot", n_buckets=8)
    assert len(results) == 2
    assert all(r["max_bucket_share"] >= 0.5 for r in results)
    _assert_one_file_per_bucket(table)
    _assert_matches_oracle(table, ev)


def test_single_key_flood_tail_matches_oracle(spark, tmp_path):
    """~20% of each epoch re-writes ONE (conv, turn) key. Map-side combine
    in the combine-first resolve absorbs the flood (forcing the salted
    reduce on a 50%-one-key tail COSTS ~1.4x, bench.py --skew keyflood
    rows), so salting stays manual; the table equals the replay oracle and
    each commit adds at most one file per bucket."""
    ev = _epoch_tail(flood_rows=205, uniq_rows=795, n_epochs=3)
    table, results = _run_tail(spark, tmp_path, ev, "flood", n_buckets=32)
    assert len(results) == 3
    for r in results:
        assert r["conflicts_resolved"] == 204          # the flood folds to one row
        assert r["n_salts_used"] == 0                   # salting stays manual
    _assert_one_file_per_bucket(table)
    _assert_matches_oracle(table, ev)


def test_epoch_plan_independent_of_input(spark, tmp_path, monkeypatch):
    """A MOR epoch runs the same plan whatever its input: a unique-key tail
    and a duplicated tail (4 writes per key per epoch) run the same number
    of Spark jobs in every epoch, counted per job group."""
    from investigraph_etl_spark.streaming import ingest as ingest_mod

    sc = spark.sparkContext
    props = ("spark.jobGroup.id", "spark.job.description",
             "spark.job.interruptOnCancel")
    groups: list[str] = []
    real_apply = ingest_mod.apply_events_batch

    def grouped_apply(*args, **kwargs):
        group = f"{tmp_path.name}-epoch-{len(groups)}"
        saved = [sc.getLocalProperty(p) for p in props]
        sc.setJobGroup(group, group)
        try:
            return real_apply(*args, **kwargs)
        finally:
            for p, v in zip(props, saved):
                sc.setLocalProperty(p, v)
            groups.append(group)

    monkeypatch.setattr(ingest_mod, "apply_events_batch", grouped_apply)
    for tag, ev in (("uniq", _unique_tail()), ("dup", _duplicated_tail())):
        _, results = _run_tail(spark, tmp_path, ev, tag, n_buckets=8)
        assert len(results) == 3
    tracker = sc.statusTracker()
    jobs = [len(tracker.getJobIdsForGroup(g)) for g in groups]
    assert len(jobs) == 6 and jobs[0] > 0
    assert jobs == [jobs[0]] * 6
