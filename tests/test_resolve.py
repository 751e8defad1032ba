"""resolve_lww must agree with the pandas oracle within a single batch and be
invariant to salting."""

import pandas as pd

from investigraph_etl_spark.cdc.generator import GeneratorConfig, generate_events
from investigraph_etl_spark.cdc.oracle import replay_oracle
from investigraph_etl_spark.cdc.resolve import resolve_lww


def _spark_events(spark, pdf):
    return spark.createDataFrame(pdf.drop(columns=["epoch"]))


def _as_oracle_frame(resolved_pdf):
    live = resolved_pdf[resolved_pdf["op"] != "delete"]
    return (
        live[["conv_id", "turn_idx", "role", "text", "tool", "ts"]]
        .sort_values(["conv_id", "turn_idx"], kind="stable")
        .reset_index(drop=True)
    )


def test_resolve_matches_oracle(spark):
    ev = generate_events(GeneratorConfig(n_events=8000, seed=11))
    got = _as_oracle_frame(resolve_lww(_spark_events(spark, ev)).toPandas())
    want = replay_oracle(ev.drop(columns=["epoch"]))
    pd.testing.assert_frame_equal(
        got, want[["conv_id", "turn_idx", "role", "text", "tool", "ts"]], check_dtype=False
    )


def test_resolve_salted_identical(spark):
    ev = generate_events(GeneratorConfig(n_events=6000, seed=12))
    df = _spark_events(spark, ev)
    plain = _as_oracle_frame(resolve_lww(df).toPandas())
    salted = _as_oracle_frame(resolve_lww(df, n_salts=8).toPandas())
    pd.testing.assert_frame_equal(plain, salted, check_dtype=False)


def test_resolve_plans(spark):
    """max_by: single agg (partial map-side), no window."""
    ev = generate_events(GeneratorConfig(n_events=100, seed=1))
    df = _spark_events(spark, ev)

    plan = resolve_lww(df)._jdf.queryExecution().executedPlan().toString()
    assert "partial_max_by" in plan  # map-side combine before the shuffle
    assert "Window" not in plan
