"""Relational core: filters, projections, aggregations, joins, set ops,
window functions, grouping sets — SURVEY §2.2-2.8 mapped onto the fixture
star schema.

The reference's only relational queries are the two BigQuery examples in
its README (group-avg + order desc + limit, ``/root/reference/README.md:
167-172``; latest-N, ``:174-178``) — everything else here is the engine's
own query layer (SURVEY marks these N*), expressed declaratively so
Catalyst provides pushdown, pruning, join selection and AQE for free.

Scale notes (100 TB):
- Dim tables (region/nation/supplier/part/customer) are always joined
  via ``broadcast()`` — no shuffle of the fact side on those joins.
- Fact-fact joins (lineitem ⋈ orders) shuffle on the join key once; AQE
  coalesces/splits skewed partitions at runtime.
- Top-K queries use ORDER BY + LIMIT, which Spark plans as
  TakeOrderedAndProject (per-partition heap, no global sort).
- Aggregations are all partial-aggregable built-ins (map-side combine).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.money import (
    dec_col,
    dec_sum,
    oracle_split_sum,
    split_sum_aggs,
    split_sum_value,
)
from ..registry import register
from . import _pinned_sql as _pinned
from ..sources.fixtures import load_table as _t


# ---------------------------------------------------------------------------
# Flagship: group-avg + order desc + limit  (SURVEY A13, README.md:167-172)
# ---------------------------------------------------------------------------
@register(
    "flagship_avg_by_group",
    oracle=f"""
    SELECT o_custkey,
           round({oracle_split_sum('o_totalprice')} / count(*), 6) AS avg_total,
           count(*) AS n_orders
    FROM orders
    GROUP BY o_custkey
    ORDER BY avg_total DESC, o_custkey
    LIMIT 50
    """,
    tags=("agg", "topk", "flagship"),
)
def flagship_avg_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AVG per group, ORDER BY avg DESC, LIMIT — the reference's flagship
    analytics query shape (`dataflow_pipeline` stats table → README SQL).
    Split-sum fast path for the money total (functions/money.py)."""
    return (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(
            *split_sum_aggs("o_totalprice", "tot"),
            F.count("*").alias("n_orders"),
        )
        .select(
            "o_custkey",
            F.round(split_sum_value("tot") / F.col("n_orders"), 6).alias(
                "avg_total"
            ),
            "n_orders",
        )
        .orderBy(F.desc("avg_total"), "o_custkey")
        .limit(50)
    )


# ---------------------------------------------------------------------------
# Latest-N  (SURVEY A14/T2, README.md:174-178)
# ---------------------------------------------------------------------------
@register(
    "latest_events",
    oracle="""
    SELECT event_id,
           epoch_us(ts) AS ts_us,
           event_type,
           round(value, 6) AS value
    FROM events
    ORDER BY ts_us DESC, event_id DESC
    LIMIT 20
    """,
    tags=("topk",),
)
def latest_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORDER BY ts DESC LIMIT 20 — TakeOrderedAndProject, no global sort."""
    return (
        _t(spark, sf_dir, "events")
        .select(
            "event_id",
            F.unix_micros("ts").alias("ts_us"),
            "event_type",
            F.round("value", 6).alias("value"),
        )
        .orderBy(F.desc("ts_us"), F.desc("event_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Per-group mean + population stddev  (SURVEY A1/A2 — np.std is ddof=0!)
# ---------------------------------------------------------------------------
@register(
    "group_stats_pop",
    oracle="""
    SELECT l_returnflag,
           count(*) AS n,
           CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / count(*) AS mean_price,
           sqrt(CAST(sum(CAST(l_extendedprice * l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / count(*)
                 - (CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / count(*)) * (CAST(sum(CAST(l_extendedprice AS DECIMAL(38,6))) AS DOUBLE) / count(*))) AS std_price
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def group_stats_pop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mean/std of intensity per group. The reference uses np.std which is
    POPULATION std (ddof=0, `dataflow_pipeline.py:88`) → population
    variance, not the sample (n-1) one. Both moments are computed from
    exact DECIMAL(38,6) sums (functions/money.py) so the large-magnitude
    mean/std cannot drift across accumulation orders; the remaining ops
    (div, mul, sub, sqrt) are correctly-rounded IEEE on both engines —
    the outputs are bit-identical doubles, so no final round() is
    applied at all (a round would only re-introduce Spark's
    shortest-repr vs DuckDB binary-value rounding divergence)."""
    x = F.col("l_extendedprice")
    n = F.count("*")
    s1 = F.sum(dec_col(x)).cast("double")
    s2 = F.sum(dec_col(x * x)).cast("double")
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            n.alias("n"),
            (s1 / n).alias("mean_price"),
            F.sqrt(s2 / n - (s1 / n) * (s1 / n)).alias("std_price"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q1-shaped pricing summary (filter + multi-agg; pushdown check)
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag,
           l_linestatus,
           {oracle_split_sum('l_quantity')} AS sum_qty,
           {oracle_split_sum('l_extendedprice')} AS sum_base_price,
           {oracle_split_sum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
           {oracle_split_sum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
           {oracle_split_sum('l_quantity')} / count(*) AS avg_qty,
           {oracle_split_sum('l_discount')} / count(*) AS avg_disc,
           count(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2000-12-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("agg", "filter"),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-filter-aggregate; the shipdate predicate must reach the parquet
    scan (PushedFilters) and only 6 columns must be read (ReadSchema).

    Money sums use the split-sum fast path (functions/money.py): exact
    long-path aggregation in codegen, ~3× faster than DECIMAL(38,6)
    buffers, hash-stable vs the oracle's HUGEINT sum of the same
    quantized micros. Averages are exact-sum ÷ count (one deterministic
    double division both engines perform identically)."""
    li = _t(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    agg = (
        li.filter(F.col("l_shipdate") <= F.lit("2000-12-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            *split_sum_aggs("l_quantity", "qty"),
            *split_sum_aggs("l_extendedprice", "base"),
            *split_sum_aggs(disc_price, "disc"),
            *split_sum_aggs(disc_price * (1 + F.col("l_tax")), "charge"),
            *split_sum_aggs("l_discount", "dsc"),
            F.count("*").alias("count_order"),
        )
    )
    return agg.select(
        "l_returnflag",
        "l_linestatus",
        split_sum_value("qty").alias("sum_qty"),
        split_sum_value("base").alias("sum_base_price"),
        split_sum_value("disc").alias("sum_disc_price"),
        split_sum_value("charge").alias("sum_charge"),
        (split_sum_value("qty") / F.col("count_order")).alias("avg_qty"),
        (split_sum_value("dsc") / F.col("count_order")).alias("avg_disc"),
        "count_order",
    )


# ---------------------------------------------------------------------------
# Star-schema join: revenue per region/nation  (SURVEY J4)
# ---------------------------------------------------------------------------
@register(
    "star_join_revenue",
    oracle=f"""
    SELECT r_name, n_name,
           {oracle_split_sum('l_extendedprice * (1 - l_discount)')} AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    GROUP BY r_name, n_name
    """,
    tags=("join", "agg"),
)
def star_join_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lineitem ⋈ orders ⋈ customer ⋈ nation ⋈ region. r12 restructure
    (guide §3): the dim chain collapses into orders FIRST (customer/
    nation/region broadcast onto the orders scan — three probes over
    the small side), so the lineitem fact probes ONE prepared relation
    (o_orderkey → r_name, n_name) instead of chaining four hash
    lookups per fact row. The fact-side join strategy is left to the
    planner: broadcast at bench scale, sort-merge on the key shuffle
    at 100 TB — the dim collapse is the right shape either way.
    Revenue uses the split-sum fast path (functions/money.py) — exact,
    long-path, hash-stable."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    dims = (
        o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .select("o_orderkey", "r_name", "n_name")
    )
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        li.join(dims, li.l_orderkey == dims.o_orderkey)
        .groupBy("r_name", "n_name")
        .agg(*split_sum_aggs(rev, "rev"), F.count("*").alias("n_items"))
        .select(
            "r_name",
            "n_name",
            split_sum_value("rev").alias("revenue"),
            "n_items",
        )
    )


# ---------------------------------------------------------------------------
# Top-K by revenue (join + agg + TakeOrdered)
# ---------------------------------------------------------------------------
@register(
    "top_customers_by_revenue",
    oracle="""
    SELECT c_custkey, c_name,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(38,6))) AS DOUBLE) AS revenue
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    GROUP BY c_custkey, c_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk"),
)
def top_customers_by_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(
            F.sum(dec_col(F.col("l_extendedprice") * (1 - F.col("l_discount")))).cast("double").alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Semi / anti joins  (SURVEY J4 — leftsemi/leftanti)
# ---------------------------------------------------------------------------
@register(
    "semi_join_active_customers",
    oracle="""
    SELECT c_mktsegment, count(*) AS n_active
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c_mktsegment
    """,
    tags=("join",),
)
def semi_join_active_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left-semi join: customers with ≥1 order, counted per segment."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return (
        c.join(o, c.c_custkey == o.o_custkey, "left_semi")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_active"))
    )


@register(
    "anti_join_inactive_customers",
    oracle="""
    SELECT c_custkey, c_name
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    tags=("join",),
)
def anti_join_inactive_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """left-anti join: customers with no orders."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


# ---------------------------------------------------------------------------
# Set operations  (SURVEY §2.6 — the mask Boolean algebra generalized)
# ---------------------------------------------------------------------------
@register(
    "setop_intersect_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    INTERSECT
    SELECT s_nationkey FROM supplier
    """,
    tags=("setop",),
)
def setop_intersect_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.intersect(s)


@register(
    "setop_except_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    EXCEPT
    SELECT s_nationkey FROM supplier
    """,
    tags=("setop",),
)
def setop_except_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.subtract(s)


@register(
    "setop_union_nations",
    oracle="""
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey FROM supplier
    """,
    tags=("setop",),
)
def setop_union_nations(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("nationkey"))
    s = _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("nationkey"))
    return c.union(s).distinct()


# ---------------------------------------------------------------------------
# Window functions  (SURVEY §2.8)
# ---------------------------------------------------------------------------
@register(
    "window_rank_orders",
    oracle="""
    SELECT o_custkey, o_orderkey, round(o_totalprice, 6) AS total, rn
    FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    )
    WHERE rn <= 3
    """,
    tags=("window",),
)
def window_rank_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders per customer via row_number — the per-group top-K
    pattern that at scale beats a global sort (one hash shuffle on the
    partition key, heap per partition)."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), F.asc("o_orderkey")
    )
    return (
        o.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "o_custkey",
            "o_orderkey",
            F.round("o_totalprice", 6).alias("total"),
            "rn",
        )
    )


@register(
    "window_running_totals",
    oracle="""
    SELECT o_orderkey,
           o_custkey,
           round(lag(o_totalprice) OVER w, 6) AS prev_total,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) OVER (
             PARTITION BY o_custkey
             ORDER BY o_orderdate, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS run_total
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """,
    tags=("window",),
)
def window_running_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag + running sum with an explicit ROWS frame."""
    o = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.round(F.lag("o_totalprice").over(w), 6).alias("prev_total"),
        F.sum(dec_col("o_totalprice")).over(wsum).cast("double").alias("run_total"),
    )


# ---------------------------------------------------------------------------
# Grouping sets: ROLLUP / CUBE  (free in Spark, absent in reference)
# ---------------------------------------------------------------------------
@register(
    "rollup_lineitem",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {oracle_split_sum('l_quantity')} AS sum_qty,
           count(*) AS n
    FROM lineitem
    GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    tags=("agg", "grouping"),
)
def rollup_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping sets over the split-sum partials: the lo/hi longs are
    themselves sums, so they roll up exactly across grouping levels."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            *split_sum_aggs("l_quantity", "qty"),
            F.count("*").alias("n"),
        )
        .select(
            "l_returnflag",
            "l_linestatus",
            split_sum_value("qty").alias("sum_qty"),
            "n",
        )
    )


@register(
    "cube_orders",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    tags=("agg", "grouping"),
)
def cube_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "orders")
        .cube("o_orderstatus", "o_orderpriority")
        .agg(
            F.count("*").alias("n"),
            dec_sum("o_totalprice").alias("sum_total"),
        )
    )


# ---------------------------------------------------------------------------
# Distinct aggregation
# ---------------------------------------------------------------------------
@register(
    "distinct_agg_suppliers",
    oracle="""
    SELECT l_returnflag,
           count(DISTINCT l_suppkey) AS n_supp,
           count(DISTINCT l_partkey) AS n_part,
           count(*) AS n
    FROM lineitem
    GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def distinct_agg_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
            F.count_distinct("l_suppkey").alias("n_supp"),
            F.count_distinct("l_partkey").alias("n_part"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar projection set  (SURVEY §2.2 P1-P4, X18)
# ---------------------------------------------------------------------------
@register(
    "proj_hash_null_scalars",
    oracle="""
    SELECT c_custkey,
           substring(sha256(c_name), 1, 16) AS name_hash,
           nullif(c_mktsegment, '') AS segment,
           upper(c_name) AS name_upper,
           length(c_name) AS name_len
    FROM customer
    """,
    tags=("projection", "scalar"),
)
def proj_hash_null_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's derived-column set: sha256 truncated to 16 hex chars
    (`dataflow_pipeline.py:90-91`), empty-string → NULL coercion
    (`dataflow_pipeline.py:98-101`)."""
    c = _t(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.substring(F.sha2(F.col("c_name"), 256), 1, 16).alias("name_hash"),
        F.nullif(F.col("c_mktsegment"), F.lit("")).alias("segment"),
        F.upper("c_name").alias("name_upper"),
        F.length("c_name").alias("name_len"),
    )


@register(
    "proj_path_functions",
    oracle="""
    SELECT p_partkey,
           file_name,
           concat('processed/', regexp_replace(file_name, '\\.[^.]*$', ''),
                  '.png') AS gcs_uri_processed
    FROM (
      SELECT p_partkey,
             string_split(concat('raw/', p_brand, '/', p_name, '.dcm'),
                          '/')[-1] AS file_name
      FROM part
    )
    """,
    tags=("projection", "scalar"),
)
def proj_path_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Path scalar set: basename via split (`dataflow_pipeline.py:70`),
    stem via extension strip + processed-URI derivation
    (`dataflow_pipeline.py:83,95-96`)."""
    p = _t(spark, sf_dir, "part")
    path = F.concat(F.lit("raw/"), "p_brand", F.lit("/"), "p_name", F.lit(".dcm"))
    file_name = F.element_at(F.split(path, "/"), -1)
    stem = F.regexp_replace(file_name, r"\.[^.]*$", "")
    return p.select(
        "p_partkey",
        file_name.alias("file_name"),
        F.concat(F.lit("processed/"), stem, F.lit(".png")).alias(
            "gcs_uri_processed"
        ),
    )


# ---------------------------------------------------------------------------
# JSON extraction  (SURVEY X20)
# ---------------------------------------------------------------------------
@register(
    "json_extract_props",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events
    """,
    tags=("json", "projection"),
)
def json_extract_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    return e.select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


# ---------------------------------------------------------------------------
# Date/time grouping
# ---------------------------------------------------------------------------
@register(
    "orders_per_month",
    oracle="""
    SELECT CAST(year(o_orderdate) AS INT) AS y,
           CAST(month(o_orderdate) AS INT) AS m,
           count(*) AS n,
           CAST(sum(CAST(o_totalprice AS DECIMAL(38,6))) AS DOUBLE) AS sum_total
    FROM orders
    GROUP BY y, m
    """,
    tags=("agg", "datetime"),
)
def orders_per_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = _t(spark, sf_dir, "orders")
    return (
        o.groupBy(
            F.year("o_orderdate").alias("y"), F.month("o_orderdate").alias("m")
        )
        .agg(
            F.count("*").alias("n"),
            dec_sum("o_totalprice").alias("sum_total"),
        )
    )


# ---------------------------------------------------------------------------
# Scalar-subquery-shaped: orders above their customer's average
# ---------------------------------------------------------------------------
@register(
    "above_avg_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, round(o_totalprice, 6) AS total
    FROM orders o
    JOIN (
      SELECT o_custkey AS k, avg(o_totalprice) AS cust_avg
      FROM orders GROUP BY o_custkey
    ) s ON o.o_custkey = s.k
    WHERE o.o_totalprice > s.cust_avg
    """,
    tags=("join", "subquery"),
)
def above_avg_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated-subquery semantics via self-join with a pre-aggregated
    (broadcastable) per-key average."""
    o = _t(spark, sf_dir, "orders")
    avgs = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.avg("o_totalprice").alias("cust_avg")
    )
    return (
        o.join(F.broadcast(avgs), o.o_custkey == avgs.k)
        .filter(F.col("o_totalprice") > F.col("cust_avg"))
        .select(
            "o_orderkey", "o_custkey", F.round("o_totalprice", 6).alias("total")
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q3-shaped: top unshipped-revenue orders
# ---------------------------------------------------------------------------
@register(
    "top_revenue_orders",
    oracle=f"""
    SELECT o_orderkey, o_orderpriority,
           {oracle_split_sum('l_extendedprice * (1 - l_discount)')} AS revenue
    FROM lineitem
    JOIN orders ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
      AND l_shipdate > TIMESTAMP '1996-03-15 00:00:00'
    GROUP BY o_orderkey, o_orderpriority
    ORDER BY revenue DESC, o_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "filter"),
)
def top_revenue_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shape. r12 restructure (guide §3): the BUILDING-segment
    customer filter semi-reduces ORDERS first (broadcast customer onto
    the orders scan), so the lineitem fact probes one pre-filtered,
    pre-joined relation — one hash lookup per fact row instead of two,
    and the fact side meets the most selective combined filter as
    early as possible. Join strategy for the fact probe is the
    planner's (broadcast at bench scale, SMJ at 100 TB)."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    rev = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    building_orders = (
        o.filter(
            F.col("o_orderdate") < F.lit("1998-03-15 00:00:00").cast("timestamp")
        )
        .join(
            F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select("o_orderkey", "o_orderpriority")
    )
    return (
        li.filter(F.col("l_shipdate") > F.lit("1996-03-15 00:00:00").cast("timestamp"))
        .join(building_orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(*split_sum_aggs(rev, "rev"))
        .select(
            "o_orderkey",
            "o_orderpriority",
            split_sum_value("rev").alias("revenue"),
        )
        .orderBy(F.desc("revenue"), "o_orderkey")
        .limit(10)
    )


# ---------------------------------------------------------------------------
# Multi-dim join through part & supplier
# ---------------------------------------------------------------------------
@register(
    "brand_supplier_volume",
    oracle="""
    SELECT p_brand, s_nationkey,
           CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS sum_qty,
           count(*) AS n
    FROM lineitem
    JOIN part ON l_partkey = p_partkey
    JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY p_brand, s_nationkey
    """,
    tags=("join", "agg"),
)
def brand_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part")
    s = _t(spark, sf_dir, "supplier")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .groupBy("p_brand", "s_nationkey")
        .agg(
            dec_sum("l_quantity").alias("sum_qty"),
            F.count("*").alias("n"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-bin histogram  (SURVEY A7 — 50 equal-width bins over [min,max])
# ---------------------------------------------------------------------------
@register(
    "histogram_totalprice",
    oracle="""
    WITH b AS (
      SELECT min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders
    )
    SELECT CAST(least(floor((o_totalprice - lo) / ((hi - lo) / 50.0)), 49)
                AS BIGINT) AS bin_id,
           count(*) AS n
    FROM orders, b
    GROUP BY bin_id
    """,
    tags=("agg", "histogram"),
)
def histogram_totalprice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """np.histogram-compatible 50-bin fixed-count histogram
    (`app.py:185-208`): equal-width bins over [min,max], last bin
    right-closed (max lands in bin 49). Two-pass: tiny min/max aggregate
    broadcast back — no driver round-trip, scales to any row count."""
    o = _t(spark, sf_dir, "orders")
    bounds = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(50.0)
    bin_id = F.least(
        F.floor((F.col("o_totalprice") - F.col("lo")) / width), F.lit(49)
    ).cast("bigint")
    return (
        o.crossJoin(F.broadcast(bounds))
        .select(bin_id.alias("bin_id"))
        .groupBy("bin_id")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Argmax with deterministic tie-break  (SURVEY A5)
# ---------------------------------------------------------------------------
@register(
    "argmax_per_group",
    oracle="""
    SELECT event_type, event_id, round(value, 6) AS max_value
    FROM (
      SELECT event_type, event_id, value,
             row_number() OVER (
               PARTITION BY event_type
               ORDER BY value DESC, ts, event_id
             ) AS rn
      FROM events
    )
    WHERE rn = 1
    """,
    tags=("agg", "window"),
)
def argmax_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """np.argmax semantics: the FIRST maximum in scan order
    (`app.py:107-113` row-major tie-break) → order by value desc then
    position asc, keep row 1."""
    e = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy(
        F.desc("value"), F.asc("ts"), F.asc("event_id")
    )
    return (
        e.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_type", "event_id", F.round("value", 6).alias("max_value"))
    )


# ---------------------------------------------------------------------------
# Approx distinct (HLL implementations differ across engines — pinned golden)
# ---------------------------------------------------------------------------
@register(
    "approx_distinct_parts",
    oracle=_pinned.APPROX_DISTINCT_PARTS_PINNED,
    tags=("agg", "approx"),
    pinned_sf="sf0.01",
)
def approx_distinct_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HLL++). DuckDB's approx sketch is a
    different implementation, so no cross-engine recompute — but the HLL
    estimate IS deterministic (register merge is a max, order-free), so
    a frozen sf0.01 golden (tools/pin_oracle.py) hash-checks it. The
    exact variant is covered by `distinct_agg_suppliers` (true distinct is
    2000 per flag — the pinned 1947s show the sketch's ~2.7% error,
    inside the default 5% rsd)."""
    return (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(F.approx_count_distinct("l_partkey").alias("n_part_approx"))
        .orderBy("l_returnflag")
    )


@register(
    "null_semantics_groups",
    oracle="""
    SELECT k, count(*) AS n,
           count(k) AS n_nonnull_k,
           CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_rows,
           coalesce(k, 'URGENTISH') AS k_filled
    FROM (
      SELECT nullif(o_orderpriority, '1-URGENT') AS k FROM orders
    )
    GROUP BY k
    """,
    tags=("agg", "null"),
)
def null_semantics_groups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL semantics pinned end-to-end: nullif creates NULLs, GROUP BY
    keeps a NULL group, count(*) vs count(col) differ on it, coalesce
    fills it — the exact conventions the reference relies on for its
    empty-string→NULL columns (`dataflow_pipeline.py:98-101`)."""
    o = _t(spark, sf_dir, "orders")
    k = F.nullif("o_orderpriority", F.lit("1-URGENT"))
    return (
        o.select(k.alias("k"))
        .groupBy("k")
        .agg(
            F.count("*").alias("n"),
            F.count("k").alias("n_nonnull_k"),
            F.sum(F.when(F.col("k").isNull(), 1).otherwise(0)).alias(
                "n_null_rows"
            ),
        )
        .select(
            "k", "n", "n_nonnull_k", "n_null_rows",
            F.coalesce("k", F.lit("URGENTISH")).alias("k_filled"),
        )
    )


@register(
    "setop_except_all_partkeys",
    oracle="""
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    EXCEPT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    """,
    tags=("setop", "bag"),
)
def setop_except_all_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT ALL (bag semantics): each partkey keeps max(0, n_R − n_A)
    copies — multiset subtraction, not the dedup of plain EXCEPT. Spark
    plans it as a count-propagating aggregate, one shuffle on the key."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    return r.exceptAll(a)


@register(
    "setop_intersect_all_partkeys",
    oracle="""
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'
    INTERSECT ALL
    SELECT l_partkey FROM lineitem WHERE l_returnflag = 'A'
    """,
    tags=("setop", "bag"),
)
def setop_intersect_all_partkeys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT ALL: min(n_R, n_A) copies per key — the other half of
    bag-semantics set algebra."""
    li = _t(spark, sf_dir, "lineitem")
    r = li.filter(F.col("l_returnflag") == "R").select("l_partkey")
    a = li.filter(F.col("l_returnflag") == "A").select("l_partkey")
    return r.intersectAll(a)


@register(
    "unpivot_part_measures",
    oracle="""
    SELECT p_partkey, 'p_size' AS measure, CAST(p_size AS DOUBLE) AS value
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice', round(p_retailprice, 6) FROM part
    """,
    tags=("projection", "unpivot"),
)
def unpivot_part_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT (wide → long): one row per (part, measure) — the inverse
    of pivot_event_type_counts. Spark's unpivot/melt is a zero-shuffle
    projection (Expand node), NOT a union of scans — the table is read
    once, which at 100 TB is the difference between one pass and k."""
    p = _t(spark, sf_dir, "part")
    return (
        p.select(
            "p_partkey",
            F.col("p_size").cast("double").alias("p_size"),
            F.round("p_retailprice", 6).alias("p_retailprice"),
        )
        .unpivot(
            ids=["p_partkey"],
            values=["p_size", "p_retailprice"],
            variableColumnName="measure",
            valueColumnName="value",
        )
    )


@register(
    "fk_integrity_violations",
    oracle="""
    SELECT 'lineitem.l_orderkey->orders' AS fk_edge,
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS n_orphans
    UNION ALL
    SELECT 'lineitem.l_partkey->part',
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
    UNION ALL
    SELECT 'orders.o_custkey->customer',
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
    UNION ALL
    SELECT 'customer.c_nationkey->nation',
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
    UNION ALL
    SELECT 'supplier.s_nationkey->nation',
           (SELECT count(*) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = s.s_nationkey))
    UNION ALL
    SELECT 'nation.n_regionkey->region',
           (SELECT count(*) FROM nation n
            WHERE NOT EXISTS (SELECT 1 FROM region r
                              WHERE r.r_regionkey = n.n_regionkey))
    ORDER BY fk_edge
    """,
    tags=("quality", "join", "agg"),
)
def fk_integrity_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity scan — the data-quality gate a pipeline
    runs before publishing a snapshot: orphan counts per FK edge via
    anti joins (0 everywhere on healthy data). Dim-side anti joins are
    broadcast; the two fact-side edges shuffle once on their key. Each
    edge is an independent subtree, so the whole check runs in one job
    with no cross-edge barrier."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region")
    p = _t(spark, sf_dir, "part")

    def orphans(child, key, parent, pkey, edge):
        return (
            child.join(parent, child[key] == parent[pkey], "left_anti")
            .agg(F.count("*").alias("n_orphans"))
            .select(F.lit(edge).alias("fk_edge"), "n_orphans")
        )

    out = (
        orphans(li, "l_orderkey", o, "o_orderkey", "lineitem.l_orderkey->orders")
        .unionAll(
            orphans(li, "l_partkey", p, "p_partkey", "lineitem.l_partkey->part")
        )
        .unionAll(
            orphans(o, "o_custkey", c, "c_custkey", "orders.o_custkey->customer")
        )
        .unionAll(
            orphans(
                c, "c_nationkey", n, "n_nationkey", "customer.c_nationkey->nation"
            )
        )
        .unionAll(
            orphans(
                s, "s_nationkey", n, "n_nationkey", "supplier.s_nationkey->nation"
            )
        )
        .unionAll(
            orphans(n, "n_regionkey", r, "r_regionkey", "nation.n_regionkey->region")
        )
    )
    return out.orderBy("fk_edge")


@register(
    "null_aware_not_in",
    oracle="""
    SELECT count(*) AS n_kept
    FROM orders
    WHERE o_orderkey NOT IN (
      SELECT CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderkey END
      FROM orders WHERE o_totalprice > 100000
    )
    """,
    tags=("join", "subquery", "null"),
)
def null_aware_not_in(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT IN over a subquery whose output CONTAINS NULLs — three-valued
    logic: if the list has any NULL, `x NOT IN (list)` is never TRUE for
    x values not in the list (it's UNKNOWN), so only rows whose key
    matches nothing AND the list is null-free survive. Spark plans this
    as a null-aware anti join (BroadcastNestedLoopJoin) — exactly why
    production NOT IN should be on provably non-null keys (see Q16).
    Expressed via spark.sql so the planner sees the raw NOT IN."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_nai")
    return spark.sql(
        """
        SELECT count(*) AS n_kept
        FROM orders_nai
        WHERE o_orderkey NOT IN (
          SELECT CASE WHEN o_orderstatus = 'O' THEN NULL ELSE o_orderkey END
          FROM orders_nai WHERE o_totalprice > 100000
        )
        """
    )


@register(
    "lateral_top2_orders_per_customer",
    oracle="""
    SELECT c_custkey, o_orderkey, round(o_totalprice, 6) AS price
    FROM customer c,
         LATERAL (
           SELECT o_orderkey, o_totalprice
           FROM orders o
           WHERE o.o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey
           LIMIT 2
         )
    WHERE c_custkey <= 50
    ORDER BY c_custkey, price DESC, o_orderkey
    """,
    tags=("join", "lateral", "topk"),
)
def lateral_top2_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery: each customer's two priciest orders
    — the per-group top-K expressed as a lateral join instead of a
    window. Catalyst decorrelates it to the same shuffle+rank shape, so
    the two formulations cost the same; this pins the SQL surface."""
    _t(spark, sf_dir, "customer").createOrReplaceTempView("cust_lat")
    _t(spark, sf_dir, "orders").createOrReplaceTempView("orders_lat")
    return spark.sql(
        """
        SELECT c_custkey, o_orderkey, round(o_totalprice, 6) AS price
        FROM cust_lat c,
             LATERAL (
               SELECT o_orderkey, o_totalprice
               FROM orders_lat o
               WHERE o.o_custkey = c.c_custkey
               ORDER BY o_totalprice DESC, o_orderkey
               LIMIT 2
             )
        WHERE c_custkey <= 50
        ORDER BY c_custkey, price DESC, o_orderkey
        """
    )


@register(
    "json_props_explode",
    oracle="""
    -- fixture props are single-key objects {"k": int} (TESTDATA), and
    -- this DuckDB build lacks json_each, so the oracle enumerates the
    -- known key; the Spark side stays fully generic over the map
    SELECT 'k' AS prop_key,
           count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INTEGER))
                AS DOUBLE) / count(*) AS avg_value
    FROM events
    WHERE json_extract_string(props, '$.k') IS NOT NULL
    GROUP BY prop_key
    ORDER BY prop_key
    """,
    tags=("json", "map", "agg"),
)
def json_props_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON object → MAP → exploded key/value rows, aggregated per key —
    the semi-structured pivot-out every event pipeline needs. from_json
    to MapType handles heterogeneous keys without a fixed schema; the
    explode is a generator (no shuffle), the aggregate shuffles on the
    tiny key domain."""
    e = _t(spark, sf_dir, "events")
    kv = e.select(
        F.explode(F.from_json("props", "map<string,int>")).alias(
            "prop_key", "prop_value"
        )
    )
    return (
        kv.groupBy("prop_key")
        .agg(
            F.count("*").alias("n"),
            (F.sum("prop_value").cast("double") / F.count("*"))
            .alias("avg_value"),
        )
        .orderBy("prop_key")
    )


# ---------------------------------------------------------------------------
# Spark 4 semi-structured surface: VARIANT (the shredded-JSON type)
# ---------------------------------------------------------------------------
@register(
    "variant_props_stats",
    oracle="""
    SELECT event_type,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS sum_k,
           CAST(count(CAST(json_extract_string(props, '$.k') AS BIGINT))
                AS BIGINT) AS n_with_k
    FROM events
    GROUP BY event_type
    """,
    tags=("json", "variant", "agg"),
)
def variant_props_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark 4 VARIANT path for semi-structured columns: ``parse_json``
    shreds the JSON string into the binary VARIANT encoding once, and
    ``variant_get`` does typed path extraction on the shredded form —
    at 100 TB this is the difference between parsing JSON text per
    access and navigating a compact binary tree (and, with parquet
    variant shredding, between reading the whole blob and reading one
    typed subcolumn). The oracle extracts the same path with DuckDB's
    JSON functions — two engines, two encodings, identical values."""
    e = _t(spark, sf_dir, "events")
    k = F.expr("variant_get(parse_json(props), '$.k', 'bigint')")
    return (
        e.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.sum("k").alias("sum_k"),
            F.count("k").alias("n_with_k"),
        )
    )


# ---------------------------------------------------------------------------
# Spark 4 SQL pipe syntax (`|>`): linear dataflow SQL — each stage is a
# self-contained operator application, the SQL-text mirror of the
# DataFrame chain this whole repo is built on
# ---------------------------------------------------------------------------
@register(
    "pipe_syntax_revenue",
    oracle="""
    SELECT l_returnflag, count(*) AS n_items,
           CAST(sum(CAST(l_extendedprice * (1 - l_discount)
                         AS DECIMAL(38, 6))) AS DOUBLE) AS revenue
    FROM lineitem
    WHERE l_shipdate >= DATE '1995-01-01'
    GROUP BY l_returnflag
    HAVING count(*) > 10
    """,
    tags=("agg", "filter", "pipe-syntax"),
)
def pipe_syntax_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The same scan→filter→extend→aggregate→filter chain every
    DataFrame query here declares, written in Spark 4's SQL pipe
    syntax: stages compose top-to-bottom instead of inside-out, and
    Catalyst plans them identically to the nested-SQL oracle (exact
    decimal money sum per the hash-stability doctrine). Post-aggregate
    WHERE in pipe syntax is the HAVING of classic SQL."""
    _t(spark, sf_dir, "lineitem").createOrReplaceTempView("lineitem")
    return spark.sql("""
      FROM lineitem
      |> WHERE l_shipdate >= DATE '1995-01-01'
      |> EXTEND l_extendedprice * (1 - l_discount) AS gross
      |> AGGREGATE count(*) AS n_items,
                   CAST(sum(CAST(gross AS DECIMAL(38, 6))) AS DOUBLE)
                     AS revenue
         GROUP BY l_returnflag
      |> WHERE n_items > 10
    """)


# ---------------------------------------------------------------------------
# Spark 4 Python UDTF: one input row → N output rows with set-returning
# semantics (LATERAL-joinable), the §2.12 table-function surface
# ---------------------------------------------------------------------------
@register(
    "udtf_sentence_explode",
    oracle="""
    SELECT doc_id, CAST(idx AS INT) AS idx, sentence,
           CAST(length(sentence) AS BIGINT) AS n_chars
    FROM (
      SELECT doc_id,
             generate_subscripts(string_split(text, '.'), 1) - 1 AS idx,
             trim(unnest(string_split(text, '.'))) AS sentence
      FROM documents
    )
    WHERE sentence <> ''
    """,
    tags=("text", "udtf", "projection"),
)
def udtf_sentence_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4's table-function API): sentence-splits each
    document with LATERAL-join semantics — the set-returning-function
    surface that scalar UDFs and explode() compositions don't cover
    (a UDTF can carry per-call state, emit variable-arity rows, and be
    registered for SQL ``FROM udtf(...)`` use); ``useArrow=True`` keeps
    it off the banned row-pickling path (the plan guard
    test_no_python_row_udf_anywhere enforces Arrow transport for every
    Python boundary). The splitting rule is
    deliberately engine-replayable (split on '.', trim, drop empties,
    keep the raw segment index), so the oracle recomputes it with
    DuckDB's string_split + subscripts — a RECOMPUTING oracle over a
    Python UDTF, proving the UDTF's row semantics, not just its shape."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx: int, sentence: string, n_chars: long",
          useArrow=True)
    class SentenceSplit:
        def eval(self, text: str):
            for i, part in enumerate((text or "").split(".")):
                p = part.strip(" ")  # space-only, = SQL trim()
                if p:
                    yield i, p, len(p)

    d = _t(spark, sf_dir, "documents").select("doc_id", "text")
    spark.udtf.register("sentence_split_udtf", SentenceSplit)
    d.createOrReplaceTempView("_udtf_docs")
    return spark.sql(
        """
        SELECT d.doc_id, s.idx, s.sentence, s.n_chars
        FROM _udtf_docs d,
             LATERAL sentence_split_udtf(d.text) s
        """
    )


# ---------------------------------------------------------------------------
# Declarative data-quality expectations (Deequ/Great-Expectations shape)
# ---------------------------------------------------------------------------
@register(
    "expectations_report",
    oracle="""
    SELECT expectation, n_violations,
           CAST(n_violations = 0 AS BOOLEAN) AS passed
    FROM (
      SELECT 'orders.o_orderkey unique' AS expectation,
             CAST((SELECT count(*) - count(DISTINCT o_orderkey) FROM orders)
                  AS BIGINT) AS n_violations
      UNION ALL
      SELECT 'orders.o_totalprice positive',
             CAST((SELECT count(*) FROM orders
                   WHERE o_totalprice IS NULL OR o_totalprice <= 0) AS BIGINT)
      UNION ALL
      SELECT 'lineitem.l_quantity in [1,50]',
             CAST((SELECT count(*) FROM lineitem
                   WHERE l_quantity IS NULL
                      OR l_quantity < 1 OR l_quantity > 50) AS BIGINT)
      UNION ALL
      SELECT 'lineitem.l_orderkey references orders',
             CAST((SELECT count(*) FROM lineitem l
                   WHERE NOT EXISTS (SELECT 1 FROM orders o
                                     WHERE o.o_orderkey = l.l_orderkey))
                  AS BIGINT)
      UNION ALL
      SELECT 'orders.o_orderstatus in domain',
             CAST((SELECT count(*) FROM orders
                   WHERE o_orderstatus NOT IN ('F', 'O', 'P')) AS BIGINT)
      UNION ALL
      SELECT 'documents.text completeness',
             CAST((SELECT count(*) FROM documents
                   WHERE text IS NULL OR text = '') AS BIGINT)
    )
    """,
    tags=("agg", "ops", "quality"),
)
def expectations_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectation suite (the Deequ / Great Expectations
    publish gate): uniqueness, domain, range, completeness, and
    referential constraints evaluated in ONE pass per table (conditional
    counts — no per-constraint scans) plus one anti-join for the FK.
    The report is the table a 100 TB pipeline gates promotion on; every
    violation count is exact and oracle-checked. Companions:
    `profile_lineitem_columns` (per-column stats scan) and
    `fk_integrity_violations` (the orphan DETAIL rows this report only
    counts)."""
    o = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")
    d = _t(spark, sf_dir, "documents")

    o_stats = o.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("dup_keys"),
        F.count(
            F.when(
                F.col("o_totalprice").isNull() | (F.col("o_totalprice") <= 0),
                1,
            )
        ).alias("bad_price"),
        F.count(
            F.when(~F.col("o_orderstatus").isin("F", "O", "P"), 1)
        ).alias("bad_status"),
    )
    li_stats = li.agg(
        F.count(
            F.when(
                F.col("l_quantity").isNull()
                | (F.col("l_quantity") < 1)
                | (F.col("l_quantity") > 50),
                1,
            )
        ).alias("bad_qty")
    )
    orphans = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").alias("n_orphans"))
    )
    d_stats = d.agg(
        F.count(
            F.when(F.col("text").isNull() | (F.col("text") == ""), 1)
        ).alias("empty_text")
    )

    rows = (
        o_stats.crossJoin(li_stats)
        .crossJoin(F.broadcast(orphans))
        .crossJoin(F.broadcast(d_stats))
    )
    pairs = [
        ("orders.o_orderkey unique", "dup_keys"),
        ("orders.o_totalprice positive", "bad_price"),
        ("lineitem.l_quantity in [1,50]", "bad_qty"),
        ("lineitem.l_orderkey references orders", "n_orphans"),
        ("orders.o_orderstatus in domain", "bad_status"),
        ("documents.text completeness", "empty_text"),
    ]
    stacked = rows.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(name).alias("expectation"),
                        F.col(c).alias("n_violations"),
                    )
                    for name, c in pairs
                ]
            )
        ).alias("e")
    )
    return stacked.select(
        F.col("e.expectation").alias("expectation"),
        F.col("e.n_violations").alias("n_violations"),
        (F.col("e.n_violations") == 0).alias("passed"),
    )


# ---------------------------------------------------------------------------
# In-pass observed metrics (df.observe / CollectMetrics)
# ---------------------------------------------------------------------------
@register(
    "observed_metrics_gate",
    oracle="""
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents,
           CAST(count(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT)
             AS n_finished,
           CAST((SELECT count(*) FROM orders
                 WHERE o_orderpriority = '1-URGENT') AS BIGINT)
             AS n_urgent_consumed
    FROM orders
    """,
    tags=("agg", "ops", "quality", "observe"),
)
def observed_metrics_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``df.observe()`` / ``CollectMetrics`` — Spark's in-pass metrics
    surface, the production alternative to `expectations_report`'s
    dedicated audit scan: quality metrics accumulate on the SAME action
    that runs the business query, so a 100 TB promotion gate costs zero
    extra scans. CollectMetrics is a semantic barrier — the downstream
    priority filter must NOT push below it (plan-pinned in
    `test_plans.py`), so the metrics see every scanned row while the
    consuming count sees only the filtered ones. The observed values
    come back driver-side as one row by construction (an accumulator
    protocol, like the pagination cursor above — bounded regardless of
    data size) and are re-emitted as a 1-row DataFrame whose oracle
    recomputes all four numbers relationally; the cents sum is the
    order-independent integer-money convention from
    `functions/money.py`."""
    from pyspark.sql import Observation

    o = _t(spark, sf_dir, "orders")
    obs = Observation("quality_gate")
    monitored = o.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "revenue_cents"
        ),
        F.count(F.when(F.col("o_orderstatus") == "F", 1)).alias("n_finished"),
    )
    # The "production" action the metrics piggyback on.
    n_urgent = monitored.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()
    m = obs.get
    return spark.createDataFrame(
        [(int(m["n_rows"]), int(m["revenue_cents"]), int(m["n_finished"]),
          int(n_urgent))],
        schema=(
            "n_rows bigint, revenue_cents bigint, n_finished bigint, "
            "n_urgent_consumed bigint"
        ),
    )


@register(
    "keyset_pagination_page3",
    # The oracle states the page the naive way — OFFSET — proving the
    # seek predicate selects the identical rows.
    oracle="""
    SELECT o_orderkey, round(o_totalprice, 6) AS o_totalprice
    FROM orders
    ORDER BY o_totalprice DESC, o_orderkey
    LIMIT 20 OFFSET 40
    """,
    tags=("topk", "pagination", "filter"),
)
def keyset_pagination_page3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyset (seek) pagination: page 3 of orders by (price DESC, key)
    fetched NOT with OFFSET 40 — which reads and discards every earlier
    row, O(page·n) over a 100 TB scan — but by seeking past the last
    row of page 2 with a row-comparison predicate, O(k) per page and
    pushdown-friendly. The boundary row itself comes from a tiny top-40
    probe (the state a paginating client carries between requests).
    The OFFSET oracle proves both formulations cut the same rows."""
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    # The client's cursor: last row of page 2. This 1-row collect IS
    # the pagination protocol — the cursor lives client-side between
    # requests by definition (like the model-state collects in
    # similarity.py, it is scale-legitimate: one row, top-40 probe).
    # Re-inlined as literals the double compares bit-exactly.
    cur = (
        o.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(40)
        .orderBy("o_totalprice", F.desc("o_orderkey"))
        .limit(1)
        .collect()[0]
    )
    b_price, b_key = cur.o_totalprice, cur.o_orderkey
    seek = o.filter(
        (F.col("o_totalprice") < F.lit(b_price))
        | (
            (F.col("o_totalprice") == F.lit(b_price))
            & (F.col("o_orderkey") > F.lit(b_key))
        )
    )
    return (
        seek.orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(20)
        .select(
            "o_orderkey", F.round("o_totalprice", 6).alias("o_totalprice")
        )
    )


@register(
    "table_fingerprint_orders",
    oracle="""
    SELECT count(*) AS n_rows,
           CAST(sum(('0x' || substr(md5(
                 CAST(o_orderkey AS VARCHAR) || '|' ||
                 CAST(o_custkey AS VARCHAR) || '|' ||
                 o_orderstatus || '|' ||
                 CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)
                      AS VARCHAR)), 1, 10))::BIGINT) AS BIGINT)
             AS fingerprint
    FROM orders
    """,
    tags=("agg", "integrity", "ops"),
)
def table_fingerprint_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint: the SUM of per-row 40-bit
    md5 prefixes over the canonical row serialization (money as exact
    cents). Addition commutes, so any two replicas/engines/partitionings
    of the same rows produce the same 8-byte digest — the anti-entropy
    check two sides of a 100 TB replication exchange instead of rows.
    One scan, one scalar; the DuckDB side IS a second engine computing
    it independently."""
    o = _t(spark, sf_dir, "orders")
    row_ser = F.concat_ws(
        "|",
        F.col("o_orderkey").cast("string"),
        F.col("o_custkey").cast("string"),
        F.col("o_orderstatus"),
        F.expr(
            "cast(cast(floor(o_totalprice * 100 + 0.5) as bigint) as string)"
        ),
    )
    chk = F.conv(F.substring(F.md5(row_ser), 1, 10), 16, 10).cast("long")
    return o.agg(
        F.count("*").alias("n_rows"), F.sum(chk).alias("fingerprint")
    )
