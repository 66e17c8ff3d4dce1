"""Coverage batch 3: window frames, argmax-per-group, conditional
aggregation, grouping sets, unpivot, higher-order array functions, a
Python UDTF, the salted-JOIN skew pattern, and approximate distinct —
each oracle-backed where deterministically SQL-expressible.

Window sums here accumulate **integer cents** (exact, order-free)
rather than doubles, so frame results are bit-identical across engines
regardless of intra-frame summation order.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..functions.rounding import SQL_FROUND, SQL_MONEY_SUM, fround, money_sum
from ..sources.tpch import load_table
from .registry import register

_CENTS = lambda c: F.floor(c * 100 + F.lit(0.5))  # noqa: E731
_SQL_CENTS = lambda e: f"FLOOR(({e})*100 + 0.5)"  # noqa: E731


# ---------------------------------------------------------------------------
# Window frame spec: trailing 7-day moving average + day-over-day delta
# (ROWS BETWEEN — SURVEY §2.8 gap: the reference has no window functions
# at all; the engine exposes the full frame surface).
# ---------------------------------------------------------------------------
@register(
    "daily_revenue_moving_avg",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(l_shipdate AS DATE) AS day,
             SUM({_SQL_CENTS("l_extendedprice * (1 - l_discount)")}) AS cents
      FROM lineitem GROUP BY 1
    )
    SELECT day,
           cents/100.0 AS revenue,
           {SQL_FROUND(
               "(SUM(cents) OVER w) / (100.0 * COUNT(*) OVER w)", 4
           )} AS ma7,
           (cents - lag(cents) OVER (ORDER BY day)) / 100.0 AS delta
    FROM daily
    WINDOW w AS (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
    """,
    doc="Trailing 7-row moving average (explicit ROWS frame) and lag-1 "
    "delta over per-day revenue; exact integer-cents accumulation makes "
    "the frame sums order-independent. The unpartitioned ordered window "
    "runs on the per-day AGGREGATE (≤1 row per calendar day, bounded at "
    "any source scale), never the fact table.",
    tags=("window", "frame", "time"),
)
def daily_revenue_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    daily = li.groupBy(F.to_date("l_shipdate").alias("day")).agg(
        F.sum(_CENTS(F.col("l_extendedprice") * (1 - F.col("l_discount")))).alias(
            "cents"
        )
    )
    w = Window.orderBy("day").rowsBetween(-6, 0)
    wl = Window.orderBy("day")
    return daily.select(
        "day",
        (F.col("cents") / 100.0).alias("revenue"),
        fround(F.sum("cents").over(w) / (100.0 * F.count(F.lit(1)).over(w)), 4).alias(
            "ma7"
        ),
        ((F.col("cents") - F.lag("cents").over(wl)) / 100.0).alias("delta"),
    )


# ---------------------------------------------------------------------------
# Argmax per group (top-1 with deterministic tie-break) — Spark
# row_number ≡ DuckDB QUALIFY.
# ---------------------------------------------------------------------------
@register(
    "brand_flagship_part",
    oracle=f"""
    SELECT p_brand, p_partkey, p_name,
           {SQL_FROUND("p_retailprice", 2)} AS price
    FROM part
    QUALIFY row_number() OVER (
      PARTITION BY p_brand ORDER BY p_retailprice DESC, p_partkey
    ) = 1
    """,
    doc="Most expensive part per brand (argmax with pinned tie-break — "
    "max_by alone has undefined tie order, so the engine's top-1 uses "
    "row_number over an explicit total order).",
    tags=("window", "argmax"),
)
def brand_flagship_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    p = load_table(spark, sf_dir, "part")
    w = Window.partitionBy("p_brand").orderBy(
        F.col("p_retailprice").desc(), F.col("p_partkey")
    )
    return (
        p.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .select(
            "p_brand",
            "p_partkey",
            "p_name",
            fround(F.col("p_retailprice"), 2).alias("price"),
        )
    )


# ---------------------------------------------------------------------------
# Conditional aggregation: count_if / CASE-gated sums (DuckDB FILTER
# clause on the oracle side).
# ---------------------------------------------------------------------------
@register(
    "order_priority_profile",
    oracle=f"""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT)
             AS n_urgent,
           SUM(CASE WHEN o_orderpriority = '1-URGENT'
                    THEN {_SQL_CENTS("o_totalprice")} ELSE 0 END) / 100.0
             AS urgent_sales,
           {SQL_FROUND(
               "COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') * 1.0"
               " / COUNT(*)", 6
           )} AS urgent_frac
    FROM orders GROUP BY o_orderstatus
    """,
    doc="Conditional aggregation — count_if and CASE-gated money sums "
    "in one grouped pass (one shuffle, no self-join).",
    tags=("agg", "conditional"),
)
def order_priority_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    urgent = F.col("o_orderpriority") == "1-URGENT"
    return o.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.count_if(urgent).alias("n_urgent"),
        (
            F.sum(F.when(urgent, _CENTS(F.col("o_totalprice"))).otherwise(F.lit(0)))
            / 100.0
        ).alias("urgent_sales"),
        fround(F.count_if(urgent) * F.lit(1.0) / F.count(F.lit(1)), 6).alias(
            "urgent_frac"
        ),
    )


# ---------------------------------------------------------------------------
# GROUPING SETS (the general form of rollup/cube) + grouping() flags.
# ---------------------------------------------------------------------------
@register(
    "revenue_grouping_sets",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(GROUPING(l_returnflag) AS INTEGER) AS g_flag,
           CAST(GROUPING(l_linestatus) AS INTEGER) AS g_status,
           {SQL_MONEY_SUM("l_extendedprice", "revenue")},
           CAST(COUNT(*) AS BIGINT) AS n
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    """,
    doc="Explicit GROUPING SETS — detail, per-flag subtotal, and grand "
    "total in one pass, with grouping() flags disambiguating real NULLs "
    "from subtotal rows.",
    tags=("agg", "grouping_sets"),
)
def revenue_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupingSets(
        [["l_returnflag", "l_linestatus"], ["l_returnflag"], []],
        "l_returnflag",
        "l_linestatus",
    ).agg(
        F.grouping("l_returnflag").cast("int").alias("g_flag"),
        F.grouping("l_linestatus").cast("int").alias("g_status"),
        money_sum(F.col("l_extendedprice"), "revenue"),
        F.count(F.lit(1)).alias("n"),
    )


# ---------------------------------------------------------------------------
# Unpivot / melt (wide → long) — oracled as the equivalent UNION ALL.
# ---------------------------------------------------------------------------
@register(
    "lineitem_measures_unpivot",
    oracle="""
    SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure,
           l_quantity AS value
    FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_discount', l_discount
    FROM lineitem WHERE l_returnflag = 'R'
    UNION ALL
    SELECT l_orderkey, l_linenumber, 'l_tax', l_tax
    FROM lineitem WHERE l_returnflag = 'R'
    """,
    doc="Unpivot (wide measures → long key/value rows) — one scan in "
    "Spark's Expand node vs the oracle's three-scan UNION ALL.",
    tags=("reshape", "unpivot"),
)
def lineitem_measures_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return li.unpivot(
        ["l_orderkey", "l_linenumber"],
        ["l_quantity", "l_discount", "l_tax"],
        "measure",
        "value",
    )


# ---------------------------------------------------------------------------
# Higher-order array functions (transform / filter / aggregate / slice)
# over the embedding column — all JVM-side, no UDF.
# ---------------------------------------------------------------------------
@register(
    "embedding_array_ops",
    oracle="""
    SELECT vec_id,
           CAST(len(embedding) AS INTEGER) AS dim,
           CAST(len(list_filter(embedding, x -> x > 0)) AS INTEGER) AS n_pos,
           CAST(list_sum(list_transform(embedding,
                x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)))
             AS BIGINT) AS milli_sum,
           array_to_string(list_transform(embedding[1:3],
                x -> CAST(FLOOR(CAST(x AS DOUBLE) * 1000 + 0.5) AS BIGINT)), ',')
             AS head3_milli_csv
    FROM embeddings
    """,
    doc="Higher-order array functions — transform/filter/aggregate/slice "
    "run inside codegen (no Python boundary); the fold accumulates "
    "integer millis so it is exact and order-stable. The sliced head "
    "is emitted as an integer-milli CSV string: the external gate's "
    "row canonicalizer cannot sort list cells, and float→string "
    "rendering differs across engines while int strings are exact.",
    tags=("nested", "higher_order"),
)
def embedding_array_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")

    def to_milli(x):
        return F.floor(x.cast("double") * 1000 + F.lit(0.5)).cast("long")

    milli = F.transform("embedding", to_milli)
    return e.select(
        "vec_id",
        F.size("embedding").alias("dim"),
        F.size(F.filter("embedding", lambda x: x > 0)).alias("n_pos"),
        F.aggregate(
            milli, F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("milli_sum"),
        F.concat_ws(",", F.transform(F.slice("embedding", 1, 3), to_milli))
        .alias("head3_milli_csv"),
    )


# ---------------------------------------------------------------------------
# Python UDTF (table function): word bigrams per document — the
# sanctioned row-expanding custom-code tier (Spark 4 lateral UDTF).
# Portable semantics → still gets an oracle.
# ---------------------------------------------------------------------------
def _bigrams_udtf():
    from pyspark.sql.functions import udtf

    class Bigrams:
        def eval(self, doc_id, text):  # noqa: ANN001 — UDTF contract
            toks = [t for t in re.split(r"\s+", (text or "").strip()) if t]
            for a, b in zip(toks, toks[1:]):
                yield doc_id, f"{a} {b}"

    return udtf(Bigrams, returnType="doc_id: bigint, bigram: string")


@register(
    "doc_bigrams_udtf",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\s+'),
                         x -> x != '') AS tk
      FROM documents
    ), idx AS (
      SELECT doc_id, tk,
             unnest(generate_series(1, len(tk) - 1)) AS i
      FROM toks WHERE len(tk) >= 2
    )
    SELECT doc_id, tk[i] || ' ' || tk[i + 1] AS bigram FROM idx
    """,
    doc="Python UDTF in a lateral join — one input row expands to N "
    "output rows inside the executor (no collect); the row-at-a-time "
    "surface for logic that genuinely can't vectorize.",
    tags=("udtf", "text"),
)
def doc_bigrams_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    spark.udtf.register("csetl_bigrams", _bigrams_udtf())
    docs.createOrReplaceTempView("csetl_docs_for_bigrams")
    return spark.sql(
        """
        SELECT b.doc_id, b.bigram
        FROM csetl_docs_for_bigrams d,
             LATERAL csetl_bigrams(d.doc_id, d.text) b
        """
    )


# ---------------------------------------------------------------------------
# Salted JOIN: the hot-key skew-join pattern (replicate the dimension
# across salt values, spread the fact side), provably equal to the
# plain join via the oracle. Complements salted_status_revenue (agg
# salting) in extended.py.
# ---------------------------------------------------------------------------
_JOIN_SALT = 8


@register(
    "salted_nation_sales_join",
    oracle=f"""
    SELECT c.c_nationkey,
           {SQL_MONEY_SUM("o.o_totalprice", "sales")},
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
    GROUP BY c.c_nationkey
    """,
    doc="Salted equi-join: the dimension side is replicated across "
    f"{_JOIN_SALT} salt values and the fact side hashes into them, so "
    "one hot join key spreads over the cluster instead of one task; "
    "oracle proves result identity with the plain join. (Locally "
    "Catalyst would broadcast this dim — the pattern targets the "
    "cluster case where the dim exceeds the broadcast threshold and a "
    "skewed SMJ would straggle; AQE skew-join splitting is the "
    "config-level alternative.)",
    tags=("join", "skew", "salt"),
)
def salted_nation_sales_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    fact = o.select(
        "o_custkey",
        _CENTS(F.col("o_totalprice")).alias("cents"),
        F.pmod(F.col("o_orderkey"), F.lit(_JOIN_SALT)).alias("salt"),
    )
    dim = c.select(
        "c_custkey",
        "c_nationkey",
        F.explode(F.sequence(F.lit(0), F.lit(_JOIN_SALT - 1))).alias("salt"),
    )
    return (
        fact.join(dim, (fact.o_custkey == dim.c_custkey) & (fact.salt == dim.salt))
        .groupBy("c_nationkey")
        .agg(
            (F.sum("cents") / 100.0).alias("sales"),
            F.count(F.lit(1)).alias("n_orders"),
        )
    )


# ---------------------------------------------------------------------------
# The SQL entry point: the same engine drives plain ANSI SQL over
# registered views (spark.sql), planning identically to the DataFrame
# API — one query exercises that surface end-to-end.
# ---------------------------------------------------------------------------
# one string, two engines — so every literal is spelled in the dialect
# intersection (e.g. CAST AS DOUBLE instead of a 100.0 divisor, which
# Spark SQL types as DECIMAL(3,1) but the DataFrame API as double)
_SQL_API_QUERY = """
SELECT l_returnflag, l_linestatus,
       -- outer CAST: DuckDB's SUM(BIGINT) returns HUGEINT, which lands
       -- in pandas as float64 and stringifies as '137431.0' vs Spark's
       -- '137431' — the gate compares stringified cells, so the types
       -- must agree, not just the values
       CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
       CAST(SUM(FLOOR(l_extendedprice * 100 + 0.5)) AS DOUBLE) / 100
         AS sum_base_price,
       CAST(SUM(FLOOR(l_extendedprice * (1 - l_discount) * 100 + 0.5))
            AS DOUBLE) / 100 AS sum_disc_price,
       CAST(COUNT(*) AS BIGINT) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
GROUP BY l_returnflag, l_linestatus
"""


@register(
    "sql_api_pricing",
    oracle=_SQL_API_QUERY,
    doc="TPC-H Q1 shape submitted as RAW SQL through spark.sql over "
    "registered views — the DuckDB oracle runs the IDENTICAL string, "
    "proving the SQL entry point plans the same semantics as the "
    "DataFrame API.",
    tags=("sql_api", "agg"),
)
def sql_api_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ..sources.tpch import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_API_QUERY)


# ---------------------------------------------------------------------------
# Approximate distinct (HyperLogLog++) — inherently non-exact, so
# rows-only at the gate; the pytest suite bounds it against the exact
# count (tests/test_approx.py).
# ---------------------------------------------------------------------------
@register(
    "approx_distinct_users",
    # The raw HLL++ estimate is engine-specific (DuckDB's sketch
    # differs), so the oracle checks what IS portable: the exact
    # counts, plus the PROPERTY that Spark's estimate landed within
    # 5×rsd of the truth (the sketch's merge is a register-wise max —
    # order-independent — so the flag is deterministic, and a
    # broken sketch flips it to false and fails the gate).
    oracle="""
    SELECT event_type,
           CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           TRUE AS approx_within_5rsd
    FROM events GROUP BY event_type
    """,
    doc="approx_count_distinct (HyperLogLog++, rsd=0.01) per event type "
    "next to the exact distinct — the 100 TB cardinality path: fixed "
    "sketch memory, one pass, mergeable across partitions. Oracled as "
    "a property check: the estimate must land within 5×rsd of the "
    "exact count (raw sketch values are engine-specific).",
    tags=("agg", "approx", "sketch"),
)
def approx_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    agg = ev.groupBy("event_type").agg(
        F.approx_count_distinct("user_id", 0.01).alias("approx_users"),
        F.count_distinct("user_id").alias("exact_users"),
        F.count(F.lit(1)).alias("n_events"),
    )
    # ±1 absolute floor: tiny groups (15 users at sf0.001) make the
    # relative band < 1, where a single-count HLL wobble would flip
    # the flag even though the sketch is behaving
    within = (
        F.abs(F.col("approx_users") - F.col("exact_users"))
        <= F.greatest(F.lit(1.0), F.col("exact_users") * (5 * 0.01))
    )
    return agg.select(
        "event_type",
        "exact_users",
        "n_events",
        within.alias("approx_within_5rsd"),
    )
