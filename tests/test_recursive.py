"""Recursive-CTE clamped balance: hand-computed fold, clamp really
engages, non-window-expressibility evidence (operators/recursive.py)."""

from __future__ import annotations

from pyspark.sql import Row

from braintumor_data_pipeline_spark.operators.recursive import (
    _RCTE_SQL,
    rcte_clamped_balance,
)


def test_hand_computed_clamped_fold(spark):
    # customer 1: +500, -800 (clamps to 0), +300  → 300, NOT 0 (=sum)
    # customer 2: -100 (clamps to 0), +250        → 250, NOT 150
    rows = [
        Row(o_custkey=1, o_orderkey=2, o_totalprice=5.00),
        Row(o_custkey=1, o_orderkey=3, o_totalprice=8.00),
        Row(o_custkey=1, o_orderkey=4, o_totalprice=3.00),
        Row(o_custkey=2, o_orderkey=5, o_totalprice=1.00),
        Row(o_custkey=2, o_orderkey=6, o_totalprice=2.50),
    ]
    spark.createDataFrame(rows).createOrReplaceTempView("orders")
    got = {
        r.custkey: (r.n_orders, r.final_balance_cents)
        for r in spark.sql(_RCTE_SQL).collect()
    }
    assert got == {1: (3, 300), 2: (2, 250)}
    # the plain (windowed) running sum would have ended at 0 and 150 —
    # the clamp makes the fold non-associative, hence the recursion.


def test_fixture_run_clamps_somewhere(spark, sf_dir):
    df = rcte_clamped_balance(spark, sf_dir)
    rows = df.collect()
    assert all(r.final_balance_cents >= 0 for r in rows)
    assert all(r.n_orders >= 1 for r in rows)
    # at least one customer's unclamped sum is negative, so the clamp
    # must have fired (otherwise this query would be window-expressible
    # on this data and prove nothing)
    from braintumor_data_pipeline_spark.sources.fixtures import load_table
    from pyspark.sql import functions as F

    plain = (
        load_table(spark, sf_dir, "orders")
        .select(
            F.col("o_custkey").alias("custkey"),
            F.when(
                F.col("o_orderkey") % 2 == 0,
                F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)"),
            )
            .otherwise(
                -F.expr("cast(floor(o_totalprice * 100 + 0.5) as bigint)")
            )
            .alias("delta"),
        )
        .groupBy("custkey")
        .agg(F.sum("delta").alias("s"))
    )
    sums = {r.custkey: r.s for r in plain.collect()}
    finals = {r.custkey: r.final_balance_cents for r in rows}
    assert any(
        finals[c] != max(0, s) for c, s in sums.items()
    ), "clamp never changed an intermediate state on this fixture"


def test_holt_forecast_matches_float_replay(spark, sf_dir):
    """The exact fixed-point recurrence must agree with a plain float
    Holt replay (alpha=beta=0.5) to float precision."""
    from pyspark.sql import functions as F

    from braintumor_data_pipeline_spark.operators.recursive import (
        holt_linear_forecast,
    )
    from braintumor_data_pipeline_spark.sources.fixtures import load_table

    row = holt_linear_forecast(spark, sf_dir).collect()[0]
    e = load_table(spark, sf_dir, "events")
    daily = (
        e.groupBy(F.col("ts").cast("date").alias("d"))
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("c"))
        .orderBy("d")
        .collect()
    )
    ys = [r.c / 100 for r in daily]
    lvl, tr = ys[1], ys[1] - ys[0]
    for y in ys[2:]:
        prev = lvl
        lvl = 0.5 * y + 0.5 * (lvl + tr)
        tr = 0.5 * (lvl - prev) + 0.5 * tr
    assert row.n_days == len(ys)
    assert abs(row.level_final - lvl) < 1e-3
    assert abs(row.trend_final - tr) < 1e-3
    assert abs(row.forecast_7d - (lvl + 7 * tr)) < 1e-2


def test_holt_forecast_cache_is_released(spark, sf_dir):
    """The events cache the recursion reads is tracked, so the batch
    release leaves Spark's CacheManager empty."""
    from braintumor_data_pipeline_spark.caching import release_tracked
    from braintumor_data_pipeline_spark.operators.recursive import (
        holt_linear_forecast,
    )

    release_tracked()
    spark.catalog.clearCache()
    holt_linear_forecast(spark, sf_dir).collect()
    cache_manager = spark._jsparkSession.sharedState().cacheManager()
    assert not cache_manager.isEmpty()
    release_tracked()
    assert cache_manager.isEmpty()
