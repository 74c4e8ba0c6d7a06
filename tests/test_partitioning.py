"""The "no single-task heavy stage" partitioning rules, pinned by plan shape
(exchange kinds and partition counts), never by timings: a regression here
silently runs a whole fan-out or per-row kernel as one task."""

from __future__ import annotations

import re

import pyspark.sql.functions as F

from ai_service_ocr_grading_handler_spark.core.partitioning import (
    fanout_repartition,
    widen_if_narrow,
)


def _par(spark) -> int:
    return spark.sparkContext.defaultParallelism


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _parent(lines: list[str], i: int) -> str:
    """The tree-string line of line i's parent operator (nearest line above
    with a smaller indent)."""
    indent = len(lines[i]) - len(lines[i].lstrip(" +-:"))
    for line in reversed(lines[:i]):
        if len(line) - len(line.lstrip(" +-:")) < indent:
            return line
    return ""


def test_widen_if_narrow_is_identity_on_wide_input(spark):
    for n in (_par(spark), _par(spark) + 3):
        df = spark.range(0, 100, numPartitions=n)
        assert widen_if_narrow(df) is df
        assert widen_if_narrow(df, by=F.col("id")) is df


def test_widen_if_narrow_adds_one_repartition_on_narrow_input(spark):
    df = spark.range(0, 100, numPartitions=1)
    for out in (widen_if_narrow(df), widen_if_narrow(df, by=F.col("id"))):
        plan = _plan(out)
        assert len(re.findall(r"Exchange [^\n]*REPARTITION_BY_NUM", plan)) == 1, plan
        assert len(re.findall(r"Exchange ", plan)) == 1, plan
        assert out.rdd.getNumPartitions() == _par(spark)


def _fanout_exchange_parent(spark, fan_out) -> tuple[str, str]:
    """Run a tiny groupBy followed by `fan_out(df, key)`; return the final
    plan's repartition exchange line and the operator right above its query
    stage. The fan-out key is not the group key: a same-key repartition at
    the aggregate's own partition count is planned away into the
    aggregate's exchange."""
    df = spark.range(0, 64).select((F.col("id") % 16).alias("g"), "id")
    out = fan_out(df.groupBy("g").agg(F.min("id").alias("k")), F.col("k"))
    assert sorted(r.k for r in out.collect()) == list(range(16))
    lines = _plan(out).split("== Initial Plan ==")[0].splitlines()
    (i,) = [
        j
        for j, line in enumerate(lines)
        if "Exchange" in line and "REPARTITION" in line
    ]
    stage = _parent(lines, i)
    assert "ShuffleQueryStage" in stage, lines
    return lines[i], _parent(lines, lines.index(stage))


def test_fanout_repartition_survives_aqe_coalescing(spark):
    """AQE coalesces byte-tiny shuffles to ~1 partition; the explicit-N
    exchange from `fanout_repartition` must stay uncoalesced after
    execution. The keys-only form is the control: it DOES get coalesced, so
    the helper losing its N fails this test."""
    exchange, above = _fanout_exchange_parent(spark, fanout_repartition)
    assert re.search(
        rf"Exchange hashpartitioning\(k#\d+L?, {_par(spark)}\), REPARTITION_BY_NUM",
        exchange,
    ), exchange
    assert "AQEShuffleRead" not in above, above

    exchange, above = _fanout_exchange_parent(
        spark, lambda df, *keys: df.repartition(*keys)
    )
    assert "REPARTITION_BY_COL" in exchange, exchange
    assert "AQEShuffleRead coalesced" in above, above
