"""Type-widening schema evolution: a batch with a WIDER payload type
(int→long, float→double — Iceberg's lossless promotion set) widens the
table schema in the commit log only; old data files keep their narrow
physical type and are read under the widened schema by Spark 4's parquet
type promotion (no data rewrite). Narrower batches cast up at write;
cross-family changes stay rejected."""

from __future__ import annotations

import pandas as pd
import pytest

from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
from investigraph_etl_spark.cdc.resolve import resolve_lww
from investigraph_etl_spark.lake.table import LakeTable

T0 = pd.Timestamp("2025-03-01")


def _ev(spark, rows, score_dtype=None):
    pdf = pd.DataFrame(rows)
    if score_dtype is not None and "score" in pdf:
        pdf["score"] = pdf["score"].astype(score_dtype)
    return resolve_lww(spark.createDataFrame(pdf))


def _r(op, conv, turn, text, hours, seq, **extra):
    return {"op": op, "conv_id": conv, "turn_idx": turn, "role": "user",
            "text": text, "tool": None,
            "ts": T0 + pd.Timedelta(hours=hours), "seq": seq, **extra}


@pytest.mark.parametrize("mode", ["mor", "cow"])
def test_int_to_long_widening_no_rewrite(spark, tmp_path, mode):
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                         n_buckets=2, mode=mode)
    t.compact_threshold = 10**9
    # epoch 0 writes `score` as int32
    t.merge(_ev(spark, [_r("insert", "c1", 0, "a", 0, 1, score=7)],
                score_dtype="int32"), app_id="x", epoch_id=0)
    assert dict((f.name, f.dataType.simpleString())
                for f in t.schema().fields)["score"] == "int"
    files_before = set(t._state().live_files)
    # epoch 1 arrives with int64 → schema widens, narrow files stay live
    t.merge(_ev(spark, [_r("insert", "c2", 0, "b", 1, 2,
                           score=5_000_000_000)],
                score_dtype="int64"), app_id="x", epoch_id=1)
    assert dict((f.name, f.dataType.simpleString())
                for f in t.schema().fields)["score"] == "bigint"
    if mode == "mor":
        assert files_before <= set(t._state().live_files)  # no rewrite
    got = {r.conv_id: r.score for r in t.read().collect()}
    assert got == {"c1": 7, "c2": 5_000_000_000}


def test_float_to_double_widening(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                         n_buckets=2, mode="mor")
    t.compact_threshold = 10**9
    t.merge(_ev(spark, [_r("insert", "c1", 0, "a", 0, 1, q=1.5)],
                score_dtype=None).withColumn("q", _f32("q")),
            app_id="x", epoch_id=0)
    t.merge(_ev(spark, [_r("insert", "c2", 0, "b", 1, 2, q=2.25)]),
            app_id="x", epoch_id=1)  # pandas float64 → DoubleType
    assert dict((f.name, f.dataType.simpleString())
                for f in t.schema().fields)["q"] == "double"
    got = {r.conv_id: r.q for r in t.read().collect()}
    assert got == {"c1": 1.5, "c2": 2.25}


def _f32(col):
    from pyspark.sql import functions as F

    return F.col(col).cast("float")


def test_narrower_batch_casts_up(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                         n_buckets=2, mode="mor")
    t.compact_threshold = 10**9
    t.merge(_ev(spark, [_r("insert", "c1", 0, "a", 0, 1, score=10)],
                score_dtype="int64"), app_id="x", epoch_id=0)
    # later batch regresses to int32 (upstream producer change) — fine
    t.merge(_ev(spark, [_r("insert", "c2", 0, "b", 1, 2, score=11)],
                score_dtype="int32"), app_id="x", epoch_id=1)
    assert dict((f.name, f.dataType.simpleString())
                for f in t.schema().fields)["score"] == "bigint"
    assert {r.conv_id: r.score for r in t.read().collect()} == {"c1": 10, "c2": 11}


def test_cross_family_change_still_rejected(spark, tmp_path):
    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                         n_buckets=2, mode="mor")
    t.merge(_ev(spark, [_r("insert", "c1", 0, "a", 0, 1, score=1)],
                score_dtype="int64"), app_id="x", epoch_id=0)
    with pytest.raises(TypeError, match="widening-only"):
        t.merge(_ev(spark, [_r("insert", "c2", 0, "b", 1, 2, score="oops")]),
                app_id="x", epoch_id=1)


def test_changelog_and_stream_read_across_widening(spark, tmp_path):
    from investigraph_etl_spark.lake import stream_source

    t = LakeTable.create(spark, str(tmp_path / "t"), TRANSCRIPT_SCHEMA,
                         n_buckets=2, mode="mor")
    t.compact_threshold = 10**9
    t.merge(_ev(spark, [_r("insert", "c1", 0, "a", 0, 1, score=7)],
                score_dtype="int32"), app_id="x", epoch_id=0)
    t.merge(_ev(spark, [_r("insert", "c2", 0, "b", 1, 2, score=8)],
                score_dtype="int64"), app_id="x", epoch_id=1)
    ch = {r.conv_id: r.score for r in t.changes(0).collect()}
    assert ch == {"c1": 7, "c2": 8}
    stream_source.register(spark)
    got = (spark.read.format("lake_changes")
           .option("path", str(tmp_path / "t")).load().toPandas())
    assert dict(zip(got.conv_id, got.score)) == {"c1": 7, "c2": 8}
