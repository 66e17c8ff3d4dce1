"""Coverage batch 4: scalar-function families (SURVEY §2.7 — the
reference touches only round/to_date/when; the engine exposes the full
surface): null-handling, array set operations, and the datetime part
family — each with a DuckDB oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import SQL_FROUND, fround
from ..functions.text import tokens
from ..sources.tpch import load_table
from .registry import register

# ---------------------------------------------------------------------------
# Null-handling family: nullif / ifnull / coalesce / null-safe equality.
# The testdata is fully populated, so nulls are MANUFACTURED (nullif on
# a sentinel) and then handled — exercising the operators end-to-end.
# ---------------------------------------------------------------------------


@register(
    "null_handling_ops",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           nullif(l_discount, 0.0) AS disc_or_null,
           ifnull(nullif(l_discount, 0.0), -1.0) AS disc_filled,
           {SQL_FROUND(
               "coalesce(nullif(l_discount, 0.0), nullif(l_tax, 0.0), 0.05)", 4
           )} AS first_rate,
           CAST(nullif(l_discount, 0.0) IS NOT DISTINCT FROM
                nullif(l_tax, 0.0) AS INTEGER) AS same_rate_nullsafe
    FROM lineitem WHERE l_returnflag = 'N' AND l_linestatus = 'F'
    """,
    doc="Null-handling family: nullif / ifnull / multi-arg coalesce / "
    "null-safe equality (<=> ≡ IS NOT DISTINCT FROM) — nulls "
    "manufactured from sentinels, then handled.",
    tags=("rowops", "nulls"),
)
def null_handling_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_returnflag") == "N") & (F.col("l_linestatus") == "F")
    )
    disc = F.nullif(F.col("l_discount"), F.lit(0.0))
    tax = F.nullif(F.col("l_tax"), F.lit(0.0))
    return li.select(
        "l_orderkey",
        "l_linenumber",
        disc.alias("disc_or_null"),
        F.ifnull(disc, F.lit(-1.0)).alias("disc_filled"),
        fround(F.coalesce(disc, tax, F.lit(0.05)), 4).alias("first_rate"),
        disc.eqNullSafe(tax).cast("int").alias("same_rate_nullsafe"),
    )


# ---------------------------------------------------------------------------
# Array set operations over document token sets.
# ---------------------------------------------------------------------------
from ..functions.text import FILLER_TOKENS as _FILLER  # noqa: E402

_SQL_TOKS = "list_filter(string_split_regex(trim(text), '\\s+'), x -> x != '')"
# DuckDB list-literal form of the canonical filler vocabulary —
# derived, not duplicated, so a vocabulary change cannot strand it
_SQL_FILLER_LIST = "[" + ",".join(f"'{w}'" for w in _FILLER) + "]"


@register(
    "token_array_set_ops",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, list_distinct({_SQL_TOKS}) AS d, {_SQL_TOKS} AS raw
      FROM documents WHERE doc_id < 200
    )
    SELECT doc_id,
           CAST(len(list_filter(d, x -> list_contains({_SQL_FILLER_LIST}, x)))
             AS INTEGER) AS n_filler_kinds,
           array_to_string(
             list_sort(list_filter(d, x -> NOT list_contains({_SQL_FILLER_LIST}, x)))[1:3],
             ',') AS content_head_csv,
           CAST(coalesce(list_position(raw, 'the'), 0) AS BIGINT) AS first_the,
           CAST(list_contains(d, 'join') AS INTEGER) AS mentions_join
    FROM tok
    """,
    doc="Array set operations — array_intersect/except/sort/position/"
    "contains over token sets, all codegen expressions (the oracle "
    "spells the same semantics with DuckDB list functions). The sorted "
    "head slice is emitted as a CSV string because the external gate's "
    "row canonicalizer cannot sort raw list cells.",
    tags=("nested", "array_set"),
)
def token_array_set_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    raw = tokens(F.col("text"))
    d = F.array_distinct(raw)
    filler = F.array(*[F.lit(x) for x in _FILLER])
    return docs.select(
        "doc_id",
        F.size(F.array_intersect(d, filler)).alias("n_filler_kinds"),
        F.concat_ws(
            ",", F.slice(F.sort_array(F.array_except(d, filler)), 1, 3)
        ).alias("content_head_csv"),
        F.array_position(raw, "the").alias("first_the"),
        F.array_contains(d, "join").cast("int").alias("mentions_join"),
    )


# ---------------------------------------------------------------------------
# Join-kind completions: FULL OUTER (both sides keep unmatched rows)
# and CROSS (cartesian) — the two kinds the rest of the catalog
# doesn't exercise.
# ---------------------------------------------------------------------------
@register(
    "customer_order_full_outer",
    oracle=f"""
    WITH rich AS (
      SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 5000
    ), per_cust AS (
      SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_orders
      FROM orders GROUP BY o_custkey
    )
    SELECT coalesce(rich.c_custkey, per_cust.o_custkey) AS custkey,
           {SQL_FROUND("rich.c_acctbal", 2)} AS acctbal,
           per_cust.n_orders AS n_orders
    FROM rich FULL OUTER JOIN per_cust
      ON rich.c_custkey = per_cust.o_custkey
    """,
    doc="FULL OUTER join — unmatched rows survive on BOTH sides "
    "(rich customers with no orders AND order-makers outside the "
    "filtered dimension), null-filled.",
    tags=("join", "full_outer"),
)
def customer_order_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    rich = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 5000)
        .select("c_custkey", "c_acctbal")
    )
    per_cust = (
        load_table(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count(F.lit(1)).alias("n_orders"))
    )
    return rich.join(
        per_cust, rich.c_custkey == per_cust.o_custkey, "full_outer"
    ).select(
        F.coalesce("c_custkey", "o_custkey").alias("custkey"),
        fround(F.col("c_acctbal"), 2).alias("acctbal"),
        "n_orders",
    )


@register(
    "region_pairs_cross",
    oracle="""
    SELECT a.r_name AS region_a, b.r_name AS region_b
    FROM region a CROSS JOIN region b
    WHERE a.r_name <> b.r_name
    """,
    doc="Cross join (explicit cartesian) — bounded to dimension-sized "
    "inputs; Spark requires the explicit crossJoin call, which is the "
    "right API friction for an operator that is quadratic by design.",
    tags=("join", "cross"),
)
def region_pairs_cross(spark: SparkSession, sf_dir: str) -> DataFrame:
    r = load_table(spark, sf_dir, "region").select("r_name")
    a = r.select(F.col("r_name").alias("region_a"))
    b = r.select(F.col("r_name").alias("region_b"))
    return a.crossJoin(b).filter(F.col("region_a") != F.col("region_b"))


# ---------------------------------------------------------------------------
# Datetime part family over order dates.
# ---------------------------------------------------------------------------
@register(
    "order_date_parts",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate AS DATE) AS odate,
           CAST(year(o_orderdate) AS INTEGER) AS y,
           CAST(quarter(o_orderdate) AS INTEGER) AS q,
           CAST(month(o_orderdate) AS INTEGER) AS m,
           CAST(isodow(o_orderdate) AS INTEGER) AS iso_dow,
           CAST(weekofyear(o_orderdate) AS INTEGER) AS iso_week,
           last_day(CAST(o_orderdate AS DATE)) AS month_end,
           CAST(CAST(o_orderdate AS DATE) + INTERVAL 7 DAY AS DATE)
             AS plus_week
    FROM orders WHERE o_orderkey < 5000
    """,
    doc="Datetime part family: year/quarter/month/ISO dow/ISO week/"
    "last_day/date arithmetic (reference touches only to_date + "
    "date_format, SURVEY §2.7).",
    tags=("time", "dateparts"),
)
def order_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 5000)
    d = F.to_date("o_orderdate")
    return o.select(
        "o_orderkey",
        d.alias("odate"),
        F.year(d).alias("y"),
        F.quarter(d).alias("q"),
        F.month(d).alias("m"),
        (F.weekday(d) + 1).alias("iso_dow"),
        F.weekofyear(d).alias("iso_week"),
        F.last_day(d).alias("month_end"),
        F.date_add(d, 7).alias("plus_week"),
    )
