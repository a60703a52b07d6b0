"""Classic analytics over the star schema — the standard-category
coverage (SURVEY §2.H): multi-way joins, grouped aggregation, windowed
running totals, rollup, top-k, semi/anti joins.

Money aggregates are summed in DECIMAL(18,4) on both engines (exact,
order-independent) and surfaced as DOUBLE — float-sum nondeterminism
never reaches the driver's value hash.
"""

from __future__ import annotations

from pyspark.sql import Window
from pyspark.sql import functions as F

from graphraft_spark.registry import register
from graphraft_spark.sources.pq_cache import load_pq


def _dec(c):
    return F.col(c).cast("decimal(18,4)")


@register(
    "q_pricing_summary",
    oracle="""
SELECT l_returnflag, l_linestatus,
       CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
           AS sum_base_price,
       CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                * CAST(1 - l_discount AS DECIMAL(18,4))) AS DOUBLE)
           AS sum_disc_price,
       COUNT(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '2000-09-02'
GROUP BY l_returnflag, l_linestatus
""")
def q_pricing_summary(spark, sf_dir):
    """TPC-H Q1 shape: scan-heavy grouped aggregation; the filter and
    the 4-column projection push to the parquet scan."""
    li = load_pq(spark, f"{sf_dir}/lineitem.parquet")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2000-09-02").cast(
            "timestamp_ntz"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(_dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(_dec("l_extendedprice")).cast("double")
            .alias("sum_base_price"),
            F.sum(_dec("l_extendedprice")
                  * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double").alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


@register(
    "q_top_revenue", extra=True,  # demoted: shape covered by other primaries; slot given to st_sliding_agg
    oracle="""
SELECT o_orderkey, revenue, o_orderdate_s
FROM (
    SELECT l.l_orderkey AS o_orderkey,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                    * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE)
               AS revenue,
           strftime(ANY_VALUE(o.o_orderdate), '%Y-%m-%d') AS o_orderdate_s
    FROM lineitem l
    JOIN orders o ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    WHERE c.c_mktsegment = 'BUILDING'
          AND o.o_orderdate < TIMESTAMP '1998-01-01'
    GROUP BY l.l_orderkey
)
ORDER BY revenue DESC, o_orderkey LIMIT 10
""")
def q_top_revenue(spark, sf_dir):
    """TPC-H Q3 shape: selective dimension filter → fact join → grouped
    revenue → top-k (TakeOrderedAndProject; customer side broadcasts)."""
    li = load_pq(spark, f"{sf_dir}/lineitem.parquet")
    o = load_pq(spark, f"{sf_dir}/orders.parquet")
    c = load_pq(spark, f"{sf_dir}/customer.parquet")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c.filter(F.col("c_mktsegment") == "BUILDING")),
              o.o_custkey == F.col("c_custkey"))
        .filter(F.col("o_orderdate") < F.lit("1998-01-01").cast(
            "timestamp_ntz"))
        .groupBy(F.col("l_orderkey").alias("o_orderkey"))
        .agg(
            F.sum(_dec("l_extendedprice")
                  * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double").alias("revenue"),
            F.date_format(F.any_value("o_orderdate"), "yyyy-MM-dd")
            .alias("o_orderdate_s"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


@register(
    "q_market_volume", extra=True,
    oracle="""
SELECT n.n_name AS nation, r.r_name AS region,
       CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))
                * CAST(1 - l.l_discount AS DECIMAL(18,4))) AS DOUBLE)
           AS volume,
       COUNT(DISTINCT c.c_custkey) AS n_customers
FROM lineitem l
JOIN orders o ON o.o_orderkey = l.l_orderkey
JOIN customer c ON c.c_custkey = o.o_custkey
JOIN nation n ON n.n_nationkey = c.c_nationkey
JOIN region r ON r.r_regionkey = n.n_regionkey
GROUP BY n.n_name, r.r_name
""")
def q_market_volume(spark, sf_dir):
    """TPC-H Q5 shape: star join through two dimension hops — nation and
    region broadcast; one shuffle for the fact-side agg."""
    li = load_pq(spark, f"{sf_dir}/lineitem.parquet")
    o = load_pq(spark, f"{sf_dir}/orders.parquet")
    c = load_pq(spark, f"{sf_dir}/customer.parquet")
    n = load_pq(spark, f"{sf_dir}/nation.parquet")
    r = load_pq(spark, f"{sf_dir}/region.parquet")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(c, o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"),
                 F.col("r_name").alias("region"))
        .agg(
            F.sum(_dec("l_extendedprice")
                  * (F.lit(1) - F.col("l_discount")).cast("decimal(18,4)"))
            .cast("double").alias("volume"),
            F.countDistinct("c_custkey").alias("n_customers"),
        )
    )


@register(
    "q_orders_without_lineitems", extra=True,  # demoted r7: anti-join shape; slot to the bulk pipeline (now p_full_pipeline)
    oracle="""
SELECT o.o_orderstatus, COUNT(*) AS n
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
GROUP BY o.o_orderstatus
""")
def q_orders_without_lineitems(spark, sf_dir):
    """Anti-join coverage: orders with no lineitems (left_anti)."""
    o = load_pq(spark, f"{sf_dir}/orders.parquet")
    li = load_pq(spark, f"{sf_dir}/lineitem.parquet")
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_anti")
        .groupBy("o_orderstatus").agg(F.count("*").alias("n"))
    )


@register(
    "q_priority_orders_semi", extra=True,
    oracle="""
SELECT o.o_orderpriority, COUNT(*) AS n
FROM orders o
WHERE EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
GROUP BY o.o_orderpriority
""")
def q_priority_orders_semi(spark, sf_dir):
    """TPC-H Q4 shape: semi-join (EXISTS) + grouped count."""
    o = load_pq(spark, f"{sf_dir}/orders.parquet")
    li = load_pq(spark, f"{sf_dir}/lineitem.parquet")
    return (
        o.join(li.filter(F.col("l_quantity") > 45),
               o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority").agg(F.count("*").alias("n"))
    )


@register(
    "q_running_customer_spend", extra=True,
    oracle="""
SELECT o_custkey, o_orderkey,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
            OVER (PARTITION BY o_custkey
                  ORDER BY o_orderdate, o_orderkey
                  ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS running_spend
FROM orders WHERE o_custkey < 50
""")
def q_running_customer_spend(spark, sf_dir):
    """Window coverage: per-customer running total in order-date order."""
    o = load_pq(spark, f"{sf_dir}/orders.parquet")
    w = (Window.partitionBy("o_custkey")
         .orderBy("o_orderdate", "o_orderkey")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        o.filter(F.col("o_custkey") < 50)
        .select("o_custkey", "o_orderkey",
                F.sum(_dec("o_totalprice")).over(w).cast("double")
                .alias("running_spend"))
    )


@register(
    "q_rollup_status_priority", extra=True,
    oracle="""
SELECT COALESCE(o_orderstatus, '<all>') AS status,
       COALESCE(o_orderpriority, '<all>') AS priority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM orders
GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
""")
def q_rollup_status_priority(spark, sf_dir):
    """Grouping-sets coverage: ROLLUP over status/priority."""
    o = load_pq(spark, f"{sf_dir}/orders.parquet")
    return (
        o.rollup("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"),
             F.sum(_dec("o_totalprice")).cast("double").alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "n", "total")
    )


@register(
    "q_monthly_revenue", extra=True,
    oracle="""
SELECT CAST(year(o_orderdate) AS INT) AS yr,
       CAST(month(o_orderdate) AS INT) AS mo,
       COUNT(*) AS n_orders,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(SUM(CASE WHEN dayofweek(o_orderdate) IN (0, 6)
                THEN 1 ELSE 0 END) AS BIGINT) AS weekend_orders
FROM orders
WHERE o_orderdate >= DATE '1994-01-01'
GROUP BY 1, 2
""")
def q_monthly_revenue(spark, sf_dir):
    """Date-dimension rollup (scalar date-function coverage, §2.H):
    year/month buckets, decimal-exact revenue, weekend-order counts;
    the date filter pushes down to the parquet scan."""
    o = load_pq(spark, f"{sf_dir}/orders.parquet")
    # Spark dayofweek: Sun=1..Sat=7; DuckDB dayofweek: Sun=0..Sat=6
    return (
        o.filter(F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp_ntz"))
        .groupBy(F.year("o_orderdate").alias("yr"),
                 F.month("o_orderdate").alias("mo"))
        .agg(F.count("*").alias("n_orders"),
             F.sum(_dec("o_totalprice")).cast("double").alias("revenue"),
             F.sum(F.when(F.dayofweek("o_orderdate").isin(1, 7), 1)
                   .otherwise(0)).cast("bigint").alias("weekend_orders"))
    )


@register(
    "q_price_percentiles", extra=True,
    oracle="""
SELECT p_brand,
       ROUND(quantile_cont(p_retailprice, 0.5), 4) AS p50,
       ROUND(quantile_cont(p_retailprice, 0.9), 4) AS p90,
       COUNT(*) AS n_parts
FROM part GROUP BY p_brand
""")
def q_price_percentiles(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    linear-interpolation quantile_cont) — the distribution-profiling
    classic; at scale swap to approx_percentile with a documented error
    bound."""
    p = load_pq(spark, f"{sf_dir}/part.parquet")
    return p.groupBy("p_brand").agg(
        F.round(F.expr("percentile(p_retailprice, 0.5)"), 4).alias("p50"),
        F.round(F.expr("percentile(p_retailprice, 0.9)"), 4).alias("p90"),
        F.count("*").alias("n_parts"))


@register(
    "q_moving_avg_30d", extra=True,
    oracle="""
SELECT o_orderkey,
       ROUND(CAST(AVG(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
           ORDER BY o_orderdate
           RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
           AS DOUBLE), 4) AS ma30
FROM orders WHERE o_orderkey < 5000
""")
def q_moving_avg_30d(spark, sf_dir):
    """Event-time RANGE window: 30-day trailing average order value —
    the time-based moving aggregate classic (RANGE frame over an
    interval, not a row count)."""
    o = load_pq(spark, f"{sf_dir}/orders.parquet").filter(
        F.col("o_orderkey") < 5000)
    return o.select(
        "o_orderkey",
        F.expr("""
            ROUND(CAST(AVG(CAST(o_totalprice AS DECIMAL(18,4))) OVER (
                ORDER BY o_orderdate
                RANGE BETWEEN INTERVAL 30 DAY PRECEDING AND CURRENT ROW)
                AS DOUBLE), 4)""").alias("ma30"))


@register(
    "q_cube_status_priority", extra=True,  # demoted r12 (green r10-r11)
    oracle="""
SELECT COALESCE(o_orderstatus, '<all>') AS status,
       COALESCE(o_orderpriority, '<all>') AS priority,
       COUNT(*) AS n,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE) AS total
FROM orders
GROUP BY CUBE (o_orderstatus, o_orderpriority)
""")
def q_cube_status_priority(spark, sf_dir):
    """Grouping-sets coverage, full CUBE: all four grouping combinations
    in one pass (Expand + single aggregation — not four scans)."""
    o = load_pq(spark, f"{sf_dir}/orders.parquet")
    return (
        o.cube("o_orderstatus", "o_orderpriority")
        .agg(F.count("*").alias("n"),
             F.sum(_dec("o_totalprice")).cast("double").alias("total"))
        .select(
            F.coalesce("o_orderstatus", F.lit("<all>")).alias("status"),
            F.coalesce("o_orderpriority", F.lit("<all>")).alias("priority"),
            "n", "total")
    )


@register(
    "q_pivot_status", extra=True,
    oracle="""
SELECT o_orderpriority AS priority,
       CAST(COUNT(CASE WHEN o_orderstatus = 'F' THEN 1 END) AS BIGINT) AS f,
       CAST(COUNT(CASE WHEN o_orderstatus = 'O' THEN 1 END) AS BIGINT) AS o,
       CAST(COUNT(CASE WHEN o_orderstatus = 'P' THEN 1 END) AS BIGINT) AS p
FROM orders GROUP BY o_orderpriority
""")
def q_pivot_status(spark, sf_dir):
    """Pivot coverage: order counts per priority, one column per order
    status.  An explicit value list keeps the pivot a single pass (no
    distinct-values pre-scan) — required at scale."""
    o = load_pq(spark, f"{sf_dir}/orders.parquet")
    return (
        o.groupBy(F.col("o_orderpriority").alias("priority"))
        .pivot("o_orderstatus", ["F", "O", "P"]).count()
        .select("priority",
                F.coalesce("F", F.lit(0)).alias("f"),
                F.coalesce("O", F.lit(0)).alias("o"),
                F.coalesce("P", F.lit(0)).alias("p"))
    )


@register(
    "q_unpivot_quality", extra=True,
    oracle="""
SELECT doc_id, feature, ROUND(value, 6) AS value
FROM (
    SELECT doc_id,
           CAST(length(text) AS DOUBLE) AS n_chars,
           CAST(len(string_split(trim(regexp_replace(lower(text),
                '\\s+', ' ', 'g')), ' ')) AS DOUBLE) AS n_words
    FROM documents
) UNPIVOT (value FOR feature IN (n_chars, n_words))
""")
def q_unpivot_quality(spark, sf_dir):
    """Unpivot (melt) coverage: wide per-document features to long
    (doc_id, feature, value) — the feature-store export shape."""
    from graphraft_spark.ops.dedup import words

    d = load_pq(spark, f"{sf_dir}/documents.parquet")
    wide = d.select(
        "doc_id",
        F.length("text").cast("double").alias("n_chars"),
        F.size(words(F.col("text"))).cast("double").alias("n_words"))
    return (wide.unpivot("doc_id", ["n_chars", "n_words"],
                         "feature", "value")
            .select("doc_id", "feature", F.round("value", 6).alias("value")))

