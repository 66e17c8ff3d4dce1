"""Coverage batch 5: ranking-distribution window functions,
statistical aggregates, and collection aggregates — each with a DuckDB
oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import SQL_FROUND, fround
from ..sources.tpch import load_table
from .registry import register


# ---------------------------------------------------------------------------
# Ranking distributions: ntile / percent_rank / cume_dist.
# ---------------------------------------------------------------------------
@register(
    "order_value_distribution",
    oracle=f"""
    SELECT o_orderkey, o_orderstatus,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           {SQL_FROUND("percent_rank() OVER w", 6)} AS pct_rank,
           {SQL_FROUND("cume_dist() OVER w", 6)} AS cume
    FROM orders
    WHERE o_orderkey < 2000
    WINDOW w AS (PARTITION BY o_orderstatus
                 ORDER BY o_totalprice, o_orderkey)
    """,
    doc="Ranking-distribution windows (ntile/percent_rank/cume_dist) "
    "with a total order (price, key) so ranks are deterministic.",
    tags=("window", "ranking"),
)
def order_value_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 2000)
    w = Window.partitionBy("o_orderstatus").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_orderstatus",
        F.ntile(4).over(w).alias("quartile"),
        fround(F.percent_rank().over(w), 6).alias("pct_rank"),
        fround(F.cume_dist().over(w), 6).alias("cume"),
    )


# ---------------------------------------------------------------------------
# Statistical aggregates: stddev / variance / correlation. These are
# genuinely float-order-sensitive, so results agree to ~1e-12 relative
# (both engines use stable single-pass estimators) and the check rides
# the gate's 1e-9 closeness rather than exact equality — rounded to
# 6 dp here to keep string hashes stable too.
# ---------------------------------------------------------------------------
@register(
    "brand_price_stats",
    oracle=f"""
    SELECT p_brand,
           CAST(COUNT(*) AS BIGINT) AS n,
           {SQL_FROUND("stddev_samp(p_retailprice)", 6)} AS price_sd,
           {SQL_FROUND("var_samp(p_retailprice)", 6)} AS price_var,
           {SQL_FROUND("corr(p_retailprice, p_size)", 6)} AS price_size_corr
    FROM part GROUP BY p_brand
    """,
    doc="Statistical aggregate family (sample stddev/variance, "
    "Pearson correlation) per group — one pass, partial+final.",
    tags=("agg", "stats"),
)
def brand_price_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        F.count(F.lit(1)).alias("n"),
        fround(F.stddev_samp("p_retailprice"), 6).alias("price_sd"),
        fround(F.var_samp("p_retailprice"), 6).alias("price_var"),
        fround(F.corr("p_retailprice", "p_size"), 6).alias("price_size_corr"),
    )


# ---------------------------------------------------------------------------
# explode_outer: the null-preserving flatten (a row with a NULL/empty
# array survives with a NULL element). Nulls are manufactured on a
# deterministic subset since the testdata is fully populated.
# ---------------------------------------------------------------------------
@register(
    "explode_outer_head3",
    oracle=r"""
    WITH t AS (
      SELECT doc_id,
             CASE WHEN doc_id % 7 = 0 THEN NULL
                  ELSE list_filter(string_split_regex(trim(text), '\s+'),
                                   x -> x != '')[1:3]
             END AS head3
      FROM documents WHERE doc_id < 300
    )
    SELECT doc_id, u.tok AS tok
    FROM t LEFT JOIN LATERAL (SELECT unnest(head3) AS tok) u ON TRUE
    """,
    doc="explode_outer — null-preserving UNNEST: rows whose array is "
    "NULL survive with a NULL element (plain explode drops them, the "
    "semantics difference that silently loses documents in a flatten "
    "stage); oracle spells it as LEFT JOIN LATERAL unnest.",
    tags=("nested", "explode_outer"),
)
def explode_outer_head3(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..functions.text import tokens

    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    head3 = F.when(F.col("doc_id") % 7 == 0, F.lit(None)).otherwise(
        F.slice(tokens(F.col("text")), 1, 3)
    )
    return docs.select("doc_id", head3.alias("head3")).select(
        "doc_id", F.explode_outer("head3").alias("tok")
    )


# ---------------------------------------------------------------------------
# Value-navigation windows: first_value / last_value / nth_value with
# an explicit full-partition frame (the default frame stops at the
# CURRENT ROW, a classic last_value trap — pinned here).
# ---------------------------------------------------------------------------
@register(
    "user_first_last_events",
    oracle="""
    SELECT DISTINCT user_id,
           first_value(event_type) OVER w AS first_type,
           last_value(event_type) OVER w AS last_type,
           nth_value(event_type, 2) OVER w AS second_type,
           CAST(COUNT(*) OVER w AS BIGINT) AS n_events
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
    doc="first_value/last_value/nth_value with an explicit UNBOUNDED "
    "frame — the default frame ends at CURRENT ROW, which silently "
    "turns last_value into 'current value'; the engine always pins "
    "the frame. Total order (ts, event_id) makes results exact.",
    tags=("window", "navigation"),
)
def user_first_last_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "user_id",
        F.first("event_type").over(w).alias("first_type"),
        F.last("event_type").over(w).alias("last_type"),
        F.nth_value("event_type", 2).over(w).alias("second_type"),
        F.count(F.lit(1)).over(w).alias("n_events"),
    ).distinct()


# ---------------------------------------------------------------------------
# Rollup cascade: the continuous-aggregate pattern — daily stats are
# computed FROM the hourly aggregate, not from raw events. At 100 TB
# the hourly tier is what you persist (and incrementally maintain via
# the streaming twin); every coarser rollup reads it instead of
# rescanning the fact table. The oracle computes daily DIRECTLY from
# raw events, proving the cascade loses nothing (counts/sums compose;
# distincts would need sketch merges — approx_distinct_users).
# ---------------------------------------------------------------------------
@register(
    "daily_from_hourly_rollup",
    oracle="""
    SELECT CAST(ts AS DATE) AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           SUM(FLOOR(value * 100 + 0.5)) / 100.0 AS total_value,
           CAST(COUNT(DISTINCT date_trunc('hour', ts)) AS BIGINT)
             AS active_hours
    FROM events GROUP BY 1, 2
    """,
    doc="Rollup cascade: daily per-type stats computed FROM the hourly "
    "aggregate tier (counts and cents-sums compose exactly; active-"
    "hours falls out as a count of hourly rows). Oracle aggregates "
    "raw events directly — the cascade is provably lossless.",
    tags=("agg", "time", "rollup_cascade"),
)
def daily_from_hourly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.date_trunc("hour", "ts").alias("hour"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.floor(F.col("value") * 100 + F.lit(0.5))).alias("cents"),
    )
    return (
        hourly.groupBy(F.to_date("hour").alias("day"), "event_type")
        .agg(
            F.sum("n").alias("n"),
            (F.sum("cents") / 100.0).alias("total_value"),
            F.count(F.lit(1)).alias("active_hours"),
        )
    )


# ---------------------------------------------------------------------------
# Grouped-agg pandas UDF: a custom aggregate over Arrow batches —
# the fourth pandas-UDF shape (after scalar, grouped-map, cogrouped).
# Geometric mean has an exact SQL identity (exp(avg(ln x))) → oracled.
# ---------------------------------------------------------------------------
def _mean_udafs():
    import numpy as np

    from pyspark.sql.functions import PandasUDFType, pandas_udf

    def geomean(v):
        return float(np.exp(np.log(v.to_numpy(dtype=np.float64)).mean()))

    def amean(v):
        # exact integer-cents mean — order-free, matches the SQL twin
        cents = np.floor(v.to_numpy(dtype=np.float64) * 100 + 0.5).astype(np.int64)
        return float(int(cents.sum()) / (100.0 * len(cents)))

    # explicit functionType: `from __future__ import annotations` turns
    # signature hints into strings, which the inferring form rejects.
    # Both means are pandas UDAFs — Spark disallows mixing grouped-agg
    # pandas UDFs with JVM aggregates in one agg().
    return (
        pandas_udf(geomean, "double", PandasUDFType.GROUPED_AGG),
        pandas_udf(amean, "double", PandasUDFType.GROUPED_AGG),
    )


@register(
    "brand_price_geomean",
    oracle="""
    SELECT p_brand,
           FLOOR(exp(avg(ln(p_retailprice))) * 100) / 100 AS geo_mean,
           SUM(FLOOR(p_retailprice * 100 + 0.5)) / (100.0 * COUNT(*))
             AS arith_mean
    FROM part GROUP BY p_brand
    """,
    doc="Grouped-agg pandas UDF (Arrow-batched custom aggregate, the "
    "fourth pandas-UDF shape) computing the geometric mean, checked "
    "against its SQL identity exp(avg(ln x)). Stabilization differs "
    "by column: the arithmetic mean of 2-dp money is an exact "
    "integer-cents ratio (its true value CAN sit on a rounding "
    "boundary, so round-half-up there is engine-noise-sensitive); "
    "the transcendental geo-mean is truncated at 2 dp, where it is "
    "never within float noise of a cent boundary.",
    tags=("agg", "pandas_udf", "grouped_agg"),
)
def brand_price_geomean(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    geomean, amean = _mean_udafs()
    return p.groupBy("p_brand").agg(
        (F.floor(geomean("p_retailprice") * 100) / 100).alias("geo_mean"),
        amean("p_retailprice").alias("arith_mean"),
    )


# ---------------------------------------------------------------------------
# Collection aggregates: collect_set → sorted array, and the string
# aggregation form. Sorting makes the nondeterministic collection
# order canonical — the only way collection aggs can be oracle-checked.
# ---------------------------------------------------------------------------
@register(
    "nation_order_years",
    oracle="""
    WITH cust_year AS (
      SELECT c.c_nationkey AS nationkey,
             CAST(year(o.o_orderdate) AS INTEGER) AS y
      FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    )
    SELECT nationkey,
           array_to_string(list_sort(list(DISTINCT y)), ',') AS years_csv,
           CAST(len(list(DISTINCT y)) AS INTEGER) AS n_years,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM cust_year GROUP BY nationkey
    """,
    doc="Collection aggregates — collect_set canonicalized with "
    "array_sort (collection order is otherwise nondeterministic), "
    "emitted in the string_agg form (concat_ws) plus the set size: "
    "the external gate's row canonicalizer cannot sort raw list "
    "cells, and the sorted CSV carries the same information.",
    tags=("agg", "collect"),
)
def nation_order_years(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    years = F.array_sort(F.collect_set(F.year("o_orderdate")))
    return (
        o.join(c, o.o_custkey == c.c_custkey)
        .groupBy(F.col("c_nationkey").alias("nationkey"))
        .agg(
            F.concat_ws(",", years).alias("years_csv"),
            F.size(years).alias("n_years"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )
