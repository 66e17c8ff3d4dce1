"""Coverage batch 2: subqueries, cube, exact percentiles, string
functions, range join, date spine, vectorized pandas UDF, and the
salted-aggregation skew pattern — each with a DuckDB oracle.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.rounding import SQL_FROUND, SQL_MONEY_SUM, fround
from ..sources.tpch import load_table
from .registry import register


# ---------------------------------------------------------------------------
# Scalar + correlated subqueries (decorrelated by Catalyst for free —
# SURVEY §4).
# ---------------------------------------------------------------------------
@register(
    "above_avg_balance_customers",
    oracle=f"""
    SELECT c_custkey, c_mktsegment, {SQL_FROUND("c_acctbal", 2)} AS acctbal
    FROM customer
    WHERE c_acctbal > (SELECT AVG(c_acctbal) FROM customer)
    """,
    doc="Scalar subquery in a filter (uncorrelated aggregate).",
    tags=("subquery",),
)
def above_avg_balance_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    avg_bal = c.agg(F.avg("c_acctbal")).first()[0]
    # computed as a tiny pre-aggregate (one scalar action) — the SQL
    # API form spark.sql("... > (SELECT AVG ...)") plans identically
    return c.filter(F.col("c_acctbal") > avg_bal).select(
        "c_custkey", "c_mktsegment", fround(F.col("c_acctbal"), 2).alias("acctbal")
    )


@register(
    "orders_above_customer_avg",
    oracle=f"""
    WITH cavg AS (
      SELECT o_custkey AS k, AVG(o_totalprice) AS avg_price
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderkey, o.o_custkey, {SQL_FROUND("o.o_totalprice", 2)} AS totalprice
    FROM orders o JOIN cavg ON o.o_custkey = cavg.k
    WHERE o.o_totalprice > 1.5 * cavg.avg_price
    """,
    doc="Correlated-subquery shape (each order vs its customer's "
    "average) — decorrelated into an aggregate + self-join.",
    tags=("subquery", "join"),
)
def orders_above_customer_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    cavg = o.groupBy(F.col("o_custkey").alias("k")).agg(
        F.avg("o_totalprice").alias("avg_price")
    )
    return (
        o.join(cavg, o.o_custkey == cavg.k)
        .filter(F.col("o_totalprice") > 1.5 * F.col("avg_price"))
        .select(
            "o_orderkey",
            "o_custkey",
            fround(F.col("o_totalprice"), 2).alias("totalprice"),
        )
    )


# ---------------------------------------------------------------------------
# CUBE grouping sets (rollup's big sibling).
# ---------------------------------------------------------------------------
@register(
    "order_status_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)
    """,
    doc="CUBE over two dimensions — all 4 grouping sets in one pass.",
    tags=("agg", "cube"),
)
def order_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count(F.lit(1)).alias("n")
    )


# ---------------------------------------------------------------------------
# Exact percentiles (both engines: linear interpolation on the sorted
# group — Spark `percentile`, DuckDB `quantile_cont`).
# ---------------------------------------------------------------------------
@register(
    "price_quartiles_by_brand",
    oracle=f"""
    SELECT p_brand,
           {SQL_FROUND("quantile_cont(p_retailprice, 0.25)", 4)} AS q1,
           {SQL_FROUND("quantile_cont(p_retailprice, 0.50)", 4)} AS median,
           {SQL_FROUND("quantile_cont(p_retailprice, 0.75)", 4)} AS q3
    FROM part GROUP BY p_brand
    """,
    doc="Exact interpolated quartiles per group (Spark percentile ≡ "
    "DuckDB quantile_cont); approx_percentile exists for the 100 TB "
    "path where exactness isn't required.",
    tags=("agg", "percentile"),
)
def price_quartiles_by_brand(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.groupBy("p_brand").agg(
        fround(F.expr("percentile(p_retailprice, 0.25)"), 4).alias("q1"),
        fround(F.expr("percentile(p_retailprice, 0.50)"), 4).alias("median"),
        fround(F.expr("percentile(p_retailprice, 0.75)"), 4).alias("q3"),
    )


# ---------------------------------------------------------------------------
# String function family (SURVEY §2.7 — the reference uses none beyond
# casts; the engine exposes the full surface).
# ---------------------------------------------------------------------------
@register(
    "part_name_analysis",
    oracle="""
    SELECT p_partkey,
           upper(p_name) AS name_upper,
           substring(p_name, 1, 8) AS name_prefix,
           CAST(length(p_name) AS INTEGER) AS name_len,
           regexp_extract(p_type, '^([A-Z]+)', 1) AS type_head,
           concat(p_brand, '/', p_type) AS brand_type,
           replace(lower(p_name), ' ', '_') AS slug
    FROM part WHERE p_name LIKE '%a%'
    """,
    doc="String surface: upper/substring/length/regexp_extract/concat/"
    "replace + LIKE pushdown.",
    tags=("strings",),
)
def part_name_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    return p.filter(F.col("p_name").like("%a%")).select(
        "p_partkey",
        F.upper("p_name").alias("name_upper"),
        F.substring("p_name", 1, 8).alias("name_prefix"),
        F.length("p_name").cast("int").alias("name_len"),
        F.regexp_extract("p_type", "^([A-Z]+)", 1).alias("type_head"),
        F.concat(F.col("p_brand"), F.lit("/"), F.col("p_type")).alias("brand_type"),
        F.replace(F.lower("p_name"), F.lit(" "), F.lit("_")).alias("slug"),
    )


# ---------------------------------------------------------------------------
# Range (interval) join: errors within 5 minutes after a purchase by
# the same user. Spark lacks a native range join → bucketize the time
# axis and equi-join on (user, bucket) with the predicate re-applied;
# candidate space stays linear instead of quadratic.
# ---------------------------------------------------------------------------
_RANGE_SECONDS = 300


@register(
    "errors_after_purchase",
    oracle=f"""
    SELECT p.event_id AS purchase_id, x.event_id AS error_id,
           CAST(FLOOR(date_diff('microsecond', p.ts, x.ts) / 1000000.0) AS BIGINT)
             AS gap_seconds
    FROM events p JOIN events x
      ON p.user_id = x.user_id
     AND x.event_type = 'error' AND p.event_type = 'purchase'
     AND x.ts > p.ts
     AND date_diff('microsecond', p.ts, x.ts) <= {_RANGE_SECONDS} * 1000000
    """,
    doc="Range join via time-bucket equi-join + predicate (each event "
    "checks its own and the previous bucket) — the scalable encoding.",
    tags=("join", "range"),
)
def errors_after_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("p_ts"),
        (F.unix_timestamp("ts") / _RANGE_SECONDS).cast("long").alias("bucket"),
    )
    x = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        F.col("user_id").alias("u"),
        F.col("ts").alias("x_ts"),
        (F.unix_timestamp("ts") / _RANGE_SECONDS).cast("long").alias("bucket"),
    )
    # an error within RANGE seconds after a purchase lives in the same
    # or the next bucket → explode purchases into both probe buckets
    p2 = p.withColumn(
        "bucket", F.explode(F.array(F.col("bucket"), F.col("bucket") + 1))
    )
    # microsecond-exact gap (unix_timestamp would truncate each side
    # to seconds and drift off the true interval by ±1)
    gap_us = F.unix_micros("x_ts") - F.unix_micros("p_ts")
    return (
        p2.join(x, ["u", "bucket"])
        .filter(
            (F.col("x_ts") > F.col("p_ts"))
            & (gap_us <= _RANGE_SECONDS * 1_000_000)
        )
        .select(
            "purchase_id",
            "error_id",
            F.floor(gap_us / 1_000_000.0).alias("gap_seconds"),
        )
        .dropDuplicates(["purchase_id", "error_id"])
    )


# ---------------------------------------------------------------------------
# Date spine (reference op 36: date-range generator).
# ---------------------------------------------------------------------------
@register(
    "event_date_spine",
    oracle="""
    WITH spine AS (
      SELECT CAST(unnest(generate_series(DATE '2024-01-01', DATE '2024-01-31',
                                         INTERVAL 1 DAY)) AS DATE) AS day
    ), daily AS (
      SELECT CAST(ts AS DATE) AS day, COUNT(*) AS n
      FROM events GROUP BY 1
    )
    SELECT spine.day, CAST(COALESCE(daily.n, 0) AS BIGINT) AS n_events
    FROM spine LEFT JOIN daily ON spine.day = daily.day
    """,
    doc="Date-range generator (sequence+explode, reference main.py:26-37) "
    "left-joined to per-day counts — gaps become explicit zeros.",
    tags=("time", "generator"),
)
def event_date_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    spine = spark.range(1).select(
        F.explode(
            F.sequence(
                F.lit("2024-01-01").cast("date"),
                F.lit("2024-01-31").cast("date"),
                F.expr("INTERVAL 1 DAY"),
            )
        ).alias("day")
    )
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("n")
    )
    return spine.join(daily, "day", "left").select(
        "day", F.coalesce("n", F.lit(0)).alias("n_events")
    )


# ---------------------------------------------------------------------------
# Vectorized pandas UDF (Arrow scalar UDF — the sanctioned custom-code
# tier when expressions can't express it; here the math is portable so
# it still gets an oracle).
# ---------------------------------------------------------------------------
def _np_log_score_udf():
    # built lazily: pandas_udf parses its DDL return type against the
    # active session, so decorating at module import would require one
    from pyspark.sql.types import DoubleType

    def _np_log_score(price: pd.Series, qty: pd.Series) -> pd.Series:
        import numpy as np

        return pd.Series(np.log1p(price.to_numpy()) * qty.to_numpy())

    return pandas_udf(_np_log_score, DoubleType())


@register(
    "pandas_udf_score",
    oracle=f"""
    SELECT l_orderkey, l_linenumber, l_partkey,
           {SQL_FROUND("ln(1 + l_extendedprice) * l_quantity", 6)} AS score
    FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="Arrow-vectorized scalar pandas UDF (numpy log1p) — the ~10-100x "
    "faster alternative to row-at-a-time Python UDFs.",
    tags=("udf", "pandas_udf"),
)
def pandas_udf_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    score = _np_log_score_udf()
    return li.filter(F.col("l_returnflag") == "R").select(
        "l_orderkey",
        "l_linenumber",
        "l_partkey",
        fround(score("l_extendedprice", "l_quantity"), 6).alias("score"),
    )


# ---------------------------------------------------------------------------
# Salted aggregation: the skew-mitigation pattern, verified equal to
# the plain aggregate by the oracle.
# ---------------------------------------------------------------------------
_SALT = 8


@register(
    "salted_status_revenue",
    oracle=f"""
    SELECT l_returnflag,
           {SQL_MONEY_SUM("l_extendedprice", "revenue")},
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Two-phase salted aggregation over a deliberately hot key "
    "(3 distinct values of returnflag): partial agg on (key, salt) "
    "spreads the hot key across the cluster, final agg merges — "
    "result provably identical to the direct groupBy.",
    tags=("agg", "skew", "salt"),
)
def salted_status_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    cents = F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5))
    partial = (
        li.withColumn("salt", F.pmod(F.col("l_orderkey"), F.lit(_SALT)))
        .groupBy("l_returnflag", "salt")
        .agg(F.sum(cents).alias("c"), F.count(F.lit(1)).alias("n0"))
    )
    return partial.groupBy("l_returnflag").agg(
        (F.sum("c") / 100.0).alias("revenue"), F.sum("n0").alias("n")
    )
