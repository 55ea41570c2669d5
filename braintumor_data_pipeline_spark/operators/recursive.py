"""Spark 4 recursive CTEs (`WITH RECURSIVE`) — the engine-native
iteration surface.

The repo's other iterative operators (region growing, connected
components, PageRank) drive iteration from Python loops with
localCheckpoint barriers because they predate a usable engine
recursion; Spark 4 ships `WITH RECURSIVE` (UNION ALL form), so this
module covers that surface with a computation that provably NEEDS
recursion: a **clamped running balance** — balance_i = max(0,
balance_{i-1} + delta_i). The clamp makes the fold non-associative, so
no window-function rewrite exists (a plain SUM() OVER is wrong the
moment any prefix dips below zero); it is the canonical "recursion or
nothing" SQL example (credit limits, inventory floors, battery
state-of-charge).

Scale shape: the recursion advances ONE row per key per step, joined
against the sequenced relation on (key, seq) — a keyed shuffle join
per iteration, fully parallel across keys; depth is bounded by the
longest per-key chain (≤ 25 orders/customer on every fixture SF, far
under Spark's recursion limit). For 100 TB chains thousands deep, the
checkpointed Pregel loop (`components.py`) remains the path; this is
the engine-native tier for bounded-depth folds.

Determinism: deltas are exact integer cents (floor(x·100 + 0.5)), the
fold order is pinned by (custkey, o_orderkey), and the oracle runs the
IDENTICAL recursive SQL in DuckDB — integer arithmetic end-to-end, no
accumulation-order ambiguity on either engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..caching import persist_tracked
from ..registry import register
from ..sources.fixtures import load_table as _t

#: The sequenced-ledger CTE: per customer, orders in key order, each
#: contributing ±cents (even orderkeys deposit, odd ones withdraw).
_ORD_SQL = """
      SELECT o_custkey AS custkey,
             CAST(row_number() OVER (PARTITION BY o_custkey
                                     ORDER BY o_orderkey) AS INT) AS seq,
             CASE WHEN o_orderkey % 2 = 0 THEN c ELSE -c END AS delta
      FROM (SELECT o_custkey, o_orderkey,
                   CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS c
            FROM orders)
"""

_RCTE_SQL = f"""
    WITH RECURSIVE ord AS ({_ORD_SQL}),
    bal(custkey, seq, balance) AS (
      SELECT custkey, CAST(0 AS INT), CAST(0 AS BIGINT)
      FROM (SELECT DISTINCT custkey FROM ord)
      UNION ALL
      SELECT b.custkey, b.seq + 1,
             greatest(CAST(0 AS BIGINT), b.balance + o.delta)
      FROM bal b JOIN ord o
        ON o.custkey = b.custkey AND o.seq = b.seq + 1
    )
    SELECT b.custkey, b.seq AS n_orders, b.balance AS final_balance_cents
    FROM bal b
    JOIN (SELECT custkey, max(seq) AS ms FROM bal GROUP BY custkey) m
      ON b.custkey = m.custkey AND b.seq = m.ms
"""


@register(
    "rcte_clamped_balance",
    oracle=_RCTE_SQL,
    tags=("recursive", "iterative", "window"),
)
def rcte_clamped_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-customer clamped running balance via Spark 4's native
    ``WITH RECURSIVE`` — byte-identical SQL on both engines (the oracle
    IS this query's text), the one formulation in the catalog where
    Spark and DuckDB execute the same recursion rather than
    independently-derived plans. Output: each customer's order count
    and final floor-clamped balance in exact integer cents."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(_RCTE_SQL)


_HOLT_SQL = """
    WITH RECURSIVE daily AS (
      SELECT CAST(ts AS DATE) AS d,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
               AS cents
      FROM events GROUP BY CAST(ts AS DATE)
    ),
    seq AS (
      SELECT cents,
             CAST(row_number() OVER (ORDER BY d) AS INT) AS t,
             CAST(count(*) OVER () AS INT) AS n
      FROM daily
    ),
    -- Holt linear smoothing, alpha = beta = 1/2, carried EXACTLY at
    -- scale 4^t:  S_t = 4^t*level, T_t = 4^t*trend
    --   S_t = 2*4^(t-1)*y_t + 2*(S_(t-1) + T_(t-1))
    --   T_t = S_t/2 - 2*S_(t-1) + 2*T_(t-1)      (S_t is always even)
    -- seeded at t=2 with level = y_2, trend = y_2 - y_1.
    holt(t, n, s, tr) AS (
      SELECT a.t, a.n,
             CAST(16 AS DECIMAL(38,0)) * a.cents,
             CAST(16 AS DECIMAL(38,0)) * (a.cents - b.cents)
      FROM seq a JOIN seq b ON a.t = 2 AND b.t = 1
      UNION ALL
      SELECT y.t, h.n,
             2 * CAST(power(4, y.t - 1) AS DECIMAL(38,0)) * y.cents
               + 2 * (h.s + h.tr),
             (2 * CAST(power(4, y.t - 1) AS DECIMAL(38,0)) * y.cents
               + 2 * (h.s + h.tr)) / 2 - 2 * h.s + 2 * h.tr
      FROM holt h JOIN seq y ON y.t = h.t + 1
    )
    SELECT CAST(n AS INT) AS n_days,
           round(CAST(s AS DOUBLE) / CAST(power(4, n) AS DOUBLE) / 100, 6)
             AS level_final,
           round(CAST(tr AS DOUBLE) / CAST(power(4, n) AS DOUBLE) / 100, 6)
             AS trend_final,
           round((CAST(s AS DOUBLE) + 7 * CAST(tr AS DOUBLE))
                 / CAST(power(4, n) AS DOUBLE) / 100, 6) AS forecast_7d
    FROM holt WHERE t = n
"""


@register(
    "holt_linear_forecast",
    oracle=_HOLT_SQL,
    tags=("recursive", "timeseries", "forecast"),
)
def holt_linear_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear-trend exponential smoothing over daily revenue,
    EXACT: with dyadic alpha = beta = 1/2 the recurrence stays integral
    at scale 4^t (DECIMAL(38,0) holds 4^31·1e9 comfortably), so the
    smoothed level/trend and the 7-day-ahead forecast are bit-identical
    on any engine — the forecast analog of the fixed-point
    PageRank/CUSUM doctrine. Byte-identical ``WITH RECURSIVE`` SQL on
    both engines (the oracle IS this query's text); the recursion walks
    ~30 daily rows, never raw events."""
    from ..sources.fixtures import load_table

    # the recursion re-evaluates the anchor CTE (events scan + daily
    # rollup) each step; caching the 6-column source turns 30 parquet
    # scans into memory reads (~4x wall on sf0.01)
    ev = load_table(spark, sf_dir, "events").transform(persist_tracked)
    ev.createOrReplaceTempView("events")
    return spark.sql(_HOLT_SQL)


_BOM_SQL = """
    WITH RECURSIVE anc(p_partkey, cents, anc) AS (
      SELECT p_partkey,
             CAST(round(p_retailprice * 100) AS BIGINT),
             CAST(floor(p_partkey / 10.0) AS BIGINT)
      FROM part WHERE p_partkey >= 10
      UNION ALL
      SELECT a.p_partkey, a.cents, CAST(floor(a.anc / 10.0) AS BIGINT)
      FROM anc a WHERE a.anc >= 10
    )
    SELECT anc AS ancestor,
           CAST(count(*) AS BIGINT) AS n_descendants,
           CAST(sum(cents) AS BIGINT) AS subtree_cents
    FROM anc
    GROUP BY anc
    ORDER BY subtree_cents DESC, ancestor
    LIMIT 50
"""


@register(
    "rcte_hierarchy_rollup",
    oracle=_BOM_SQL,
    tags=("recursive", "iterative", "hierarchy", "agg"),
)
def rcte_hierarchy_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bill-of-materials-style TRANSITIVE hierarchy rollup via Spark
    4's native WITH RECURSIVE — the second genuinely recursive shape
    next to ``rcte_clamped_balance``: parts form a synthetic decimal
    containment tree (parent = ⌊key/10⌋), each part climbs its whole
    ancestor chain (depth ≈ log₁₀ N — recursion rounds are the TREE
    DEPTH, never the row count), and every proper ancestor aggregates
    its full subtree's descendant count and exact-cents value. Like
    the other RCTE, the oracle IS this query's byte-identical SQL —
    both engines execute the same recursion (the division is spelled
    floor(x/10.0), the one integer-division form both dialects parse
    identically; values < 2²⁶ keep the double exact). Top-50 with a
    total-order tie-break."""
    _t(spark, sf_dir, "part").createOrReplaceTempView("part")
    return spark.sql(_BOM_SQL)
