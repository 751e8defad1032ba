"""Point lookups on tables created with the deprecated keyset options.

``keyset_col`` once added per-file key bitmaps that pruned ``conv_id = x``
reads inside a bucket. The option is now ignored (with a
``DeprecationWarning``): bucket pruning alone serves these lookups, keeping
every generation of the key's bucket, which is what keeps MOR reads correct.

Every test proves the lookup equal to full-scan + filter.
"""

from __future__ import annotations

import pandas as pd
import pytest

from investigraph_etl_spark.cdc.events import TRANSCRIPT_SCHEMA
from investigraph_etl_spark.cdc.resolve import resolve_lww
from investigraph_etl_spark.lake.table import LakeTable, _bucket_of

T0 = pd.Timestamp("2025-03-01")


def _ev(spark, rows):
    return resolve_lww(spark.createDataFrame(pd.DataFrame(rows)))


def _r(op, conv, turn, text, hours, seq):
    return {"op": op, "conv_id": conv, "turn_idx": turn, "role": "user",
            "text": text, "tool": None,
            "ts": T0 + pd.Timedelta(hours=hours), "seq": seq}


def _bucket(spark, conv, n):
    return spark.sql(f"select pmod(hash('{conv}'), {n})").first()[0]


def _create(spark, root):
    with pytest.warns(DeprecationWarning, match="keyset"):
        t = LakeTable.create(spark, root, TRANSCRIPT_SCHEMA, n_buckets=2,
                             mode="mor", keyset_col="conv_id")
    t.compact_threshold = 10**9
    return t


def _table(spark, root, n_epochs=6, convs_per_epoch=4):
    t = _create(spark, root)
    seq = 0
    for e in range(n_epochs):
        rows = []
        for c in range(convs_per_epoch):
            seq += 1
            rows.append(_r("insert", f"c{c}-{e}", 0, f"t{e}.{c}", e, seq))
        t.merge(_ev(spark, rows), app_id="x", epoch_id=e)
    return t


def _lookup(t, conv):
    return sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in t.read(where=[("conv_id", "=", conv)]).collect()
    )


def _full_filter(t, conv):
    return sorted(
        (r.conv_id, r.turn_idx, r.text)
        for r in t.read().filter(f"conv_id = '{conv}'").collect()
    )


def _assert_key_bucket_only(spark, t, key):
    """``conv_id = key`` keeps only files of key's bucket (zone maps may drop
    some of those too) and prunes every file of the other bucket; returns
    the pruned-file count."""
    live = t._state().live_files
    kept, pruned = t.files_for(where=[("conv_id", "=", key)])
    b = _bucket(spark, str(key), 2)
    assert {_bucket_of(f) for f in kept} <= {b}
    assert pruned == len(live) - len(kept)
    assert pruned >= sum(_bucket_of(f) != b for f in live)
    return pruned


def test_point_lookup_prunes_and_matches_full_scan(spark, tmp_table_root):
    t = _table(spark, tmp_table_root)
    # the bucket rule drops every file of the other bucket
    assert _assert_key_bucket_only(spark, t, "c1-3") > 0
    assert _lookup(t, "c1-3") == _full_filter(t, "c1-3") == [("c1-3", 0, "t3.1")]


def test_absent_key_prunes_everything_or_fp_only(spark, tmp_table_root):
    t = _table(spark, tmp_table_root)
    # an absent key still names a bucket: the other bucket's files go
    assert _assert_key_bucket_only(spark, t, "c1-99") > 0
    assert _lookup(t, "c1-99") == _full_filter(t, "c1-99") == []


def test_non_eq_and_other_col_predicates_ignore_keyset(spark, tmp_table_root):
    t = _table(spark, tmp_table_root)
    # >= on the key column names no single bucket: both buckets are read
    kept, _ = t.files_for(where=[("conv_id", ">=", "c2")])
    assert {_bucket_of(f) for f in kept} == {0, 1}
    got = sorted(r.conv_id for r in
                 t.read(where=[("conv_id", ">=", "c2")]).collect())
    want = sorted(r.conv_id for r in
                  t.read().filter("conv_id >= 'c2'").collect())
    assert got == want and len(got) == 12


def test_numeric_literal_on_string_keyset_column(spark, tmp_path):
    """Regression: the lookup literal must be cast to the key COLUMN's type
    before hashing — the hash is type-sensitive, so an int literal against
    this string column would otherwise pick the wrong bucket and silently
    prune the files that contain the key."""
    t = _create(spark, str(tmp_path / "t"))
    seq = 0
    for e in range(3):
        rows = []
        for c in range(4):
            seq += 1
            rows.append(_r("insert", str(7000 + 10 * c + e), 0, f"t{e}.{c}", e, seq))
        t.merge(_ev(spark, rows), app_id="x", epoch_id=e)
    _assert_key_bucket_only(spark, t, 7012)
    got = sorted((r.conv_id, r.text) for r in
                 t.read(where=[("conv_id", "=", 7012)]).collect())
    want = sorted((r.conv_id, r.text) for r in
                  t.read().filter("conv_id = 7012").collect())
    assert got == want and len(got) == 1  # ("7012", "t2.1") survives pruning
