"""Core relational operators (SURVEY.md §2.1-§2.7) as named queries.

Each query demonstrates one operator family from the reference's
inventory, re-expressed Spark-first over the driver testdata, with an
exactly-equivalent DuckDB oracle.

Float determinism policy: money aggregates accumulate in exact integer
cents — ``floor(x*100 + 0.5)`` per row (pure double ops, bit-identical
across engines), summed as integers (order-independent), divided by
100.0 at the end. Per-row/final rounding uses the same floor formula
instead of engine-native ROUND, whose double→decimal semantics differ
between Spark (shortest-repr + HALF_UP) and DuckDB at representation
boundaries.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.rounding import SQL_FROUND, SQL_MONEY_SUM, fround, money_sum
from ..sources.tpch import load_table
from .registry import register

__all__ = ["SQL_FROUND", "SQL_MONEY_SUM", "fround", "money_sum"]


# ---------------------------------------------------------------------------
# Flagship: daily summary (reference ops 23-25, 28 — the candy-store
# daily_summary report shape on the TPC-H-ish star schema).
# ---------------------------------------------------------------------------
@register(
    "daily_summary",
    oracle=f"""
    WITH rev AS (
      SELECT l_orderkey,
             {SQL_MONEY_SUM("l_extendedprice * (1 - l_discount)", "order_revenue")}
      FROM lineitem GROUP BY l_orderkey
    )
    SELECT CAST(o.o_orderdate AS DATE) AS order_date,
           CAST(COUNT(*) AS BIGINT) AS num_orders,
           {SQL_MONEY_SUM("o.o_totalprice", "total_sales")},
           {SQL_MONEY_SUM("COALESCE(rev.order_revenue, 0.0)", "total_revenue")}
    FROM orders o LEFT JOIN rev ON o.o_orderkey = rev.l_orderkey
    GROUP BY 1
    """,
    doc="Per-day order count / sales / revenue (reference daily_summary, "
    "data_processor.py:363-439) — one grouped pass, no double scan.",
    tags=("agg", "join", "flagship"),
)
def daily_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    rev = lineitem.groupBy("l_orderkey").agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "order_revenue")
    )
    return (
        orders.join(rev, orders.o_orderkey == rev.l_orderkey, "left")
        .groupBy(F.to_date("o_orderdate").alias("order_date"))
        .agg(
            F.count(F.lit(1)).alias("num_orders"),
            money_sum(F.col("o_totalprice"), "total_sales"),
            money_sum(F.coalesce("order_revenue", F.lit(0.0)), "total_revenue"),
        )
    )


# ---------------------------------------------------------------------------
# TPC-H Q1 shape: wide hash aggregation (partial+final, codegen'd).
# ---------------------------------------------------------------------------
@register(
    "pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           {SQL_MONEY_SUM("l_quantity", "sum_qty")},
           {SQL_MONEY_SUM("l_extendedprice", "sum_base_price")},
           {SQL_MONEY_SUM("l_extendedprice * (1 - l_discount)", "sum_disc_price")},
           {SQL_MONEY_SUM("l_extendedprice * (1 - l_discount) * (1 + l_tax)", "sum_charge")},
           {SQL_FROUND("AVG(l_quantity)", 4)} AS avg_qty,
           {SQL_FROUND("AVG(l_discount)", 6)} AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '2001-09-01 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
    doc="TPC-H Q1-shaped pricing summary: multi-agg groupBy with filter "
    "pushed to the parquet scan (reference agg family, ops 23-25).",
    tags=("agg",),
)
def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    charge = disc_price * (1 + F.col("l_tax"))
    return (
        li.filter(F.col("l_shipdate") <= F.lit("2001-09-01 00:00:00").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            money_sum(F.col("l_quantity"), "sum_qty"),
            money_sum(F.col("l_extendedprice"), "sum_base_price"),
            money_sum(disc_price, "sum_disc_price"),
            money_sum(charge, "sum_charge"),
            fround(F.avg("l_quantity"), 4).alias("avg_qty"),
            fround(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


# ---------------------------------------------------------------------------
# Per-order rollup (reference op 23: generate_order_summary).
# ---------------------------------------------------------------------------
@register(
    "order_rollup",
    oracle=f"""
    SELECT l_orderkey AS order_id,
           {SQL_MONEY_SUM("l_extendedprice * (1 - l_discount)", "total_amount")},
           CAST(COUNT(*) AS BIGINT) AS num_items
    FROM lineitem GROUP BY l_orderkey
    """,
    doc="groupBy(order).agg(sum→total, count→items) — reference "
    "data_processor.py:302-305; count includes every line item.",
    tags=("agg",),
)
def order_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy(F.col("l_orderkey").alias("order_id")).agg(
        money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "total_amount"),
        F.count(F.lit(1)).alias("num_items"),
    )


# ---------------------------------------------------------------------------
# Row ops: filter / projection / cast / conditional / arithmetic / date
# (reference ops 8-14 in one plan; all push into the scan).
# ---------------------------------------------------------------------------
@register(
    "row_ops",
    oracle=f"""
    SELECT l_orderkey, l_linenumber,
           CAST(l_quantity AS INTEGER) AS qty_int,
           CASE WHEN l_discount > 0.05 THEN 'HIGH' ELSE 'LOW' END AS disc_band,
           {SQL_FROUND("l_extendedprice * (1 - l_discount)", 2)} AS net_price,
           CAST(l_shipdate AS DATE) AS ship_date
    FROM lineitem
    WHERE l_quantity > 25 AND l_returnflag = 'A'
    """,
    doc="Projection+rename, comparison filter, cast, when/otherwise, "
    "arithmetic, to_date (reference data_processor.py:125-132,179,"
    "252-258,334-339,386,407-409).",
    tags=("rowops", "filter"),
)
def row_ops(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.filter((F.col("l_quantity") > 25) & (F.col("l_returnflag") == "A")).select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("int").alias("qty_int"),
        F.when(F.col("l_discount") > 0.05, "HIGH").otherwise("LOW").alias("disc_band"),
        fround(F.col("l_extendedprice") * (1 - F.col("l_discount")), 2).alias(
            "net_price"
        ),
        F.to_date("l_shipdate").alias("ship_date"),
    )


# ---------------------------------------------------------------------------
# explode / UNNEST (reference op 6-7: items array flatten).
# ---------------------------------------------------------------------------
@register(
    "explode_embeddings",
    oracle="""
    SELECT vec_id, CAST(UNNEST(embedding) AS DOUBLE) AS component
    FROM embeddings WHERE vec_id < 50
    """,
    doc="Array flatten — reference explodes transactions.items "
    "(data_processor.py:123-125); here over the embedding column.",
    tags=("nested",),
)
def explode_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings")
    return (
        emb.filter(F.col("vec_id") < 50)
        .select("vec_id", F.explode("embedding").alias("component"))
        .withColumn("component", F.col("component").cast("double"))
    )


# ---------------------------------------------------------------------------
# JSON field extraction (semi-structured props on the events stream).
# ---------------------------------------------------------------------------
@register(
    "json_extract_events",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_val
    FROM events WHERE event_type = 'purchase'
    """,
    doc="Nested/semi-structured access over a JSON string column — the "
    "engine-side generalization of the reference's nested projection.",
    tags=("nested", "json"),
)
def json_extract_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.filter(F.col("event_type") == "purchase").select(
        "event_id",
        F.get_json_object("props", "$.k").cast("bigint").alias("k_val"),
    )


# ---------------------------------------------------------------------------
# Joins (reference ops 17-22).
# ---------------------------------------------------------------------------
@register(
    "brand_revenue",
    oracle=f"""
    SELECT p.p_brand,
           CAST(COUNT(*) AS BIGINT) AS num_lineitems,
           {SQL_MONEY_SUM("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_brand
    """,
    doc="Fact ⋈ dimension with an explicit broadcast hint (reference "
    "items⋈products pricing join, data_processor.py:182-186).",
    tags=("join", "broadcast"),
)
def brand_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(
            F.count(F.lit(1)).alias("num_lineitems"),
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"),
        )
    )


@register(
    "region_revenue",
    oracle=f"""
    SELECT n.n_name AS nation,
           {SQL_MONEY_SUM("l.l_extendedprice * (1 - l.l_discount)", "revenue")}
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n.n_name
    """,
    doc="TPC-H Q5-shaped star join: two facts + three broadcast dims; "
    "Catalyst/AQE pick the join order and strategies.",
    tags=("join", "multijoin"),
)
def region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = {
        n: load_table(spark, sf_dir, n)
        for n in ("customer", "orders", "lineitem", "supplier", "nation", "region")
    }
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(t["region"]), F.col("n_regionkey") == F.col("r_regionkey"))
        .filter(
            (F.col("r_name") == "ASIA")
            & (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount")), "revenue"))
    )


@register(
    "customers_with_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-semi join (EXISTS) — engine API surface beyond the "
    "reference's inner/left joins (SURVEY.md §2.4 note).",
    tags=("join", "semi"),
)
def customers_with_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_semi").select(
        "c_custkey", "c_name"
    )


@register(
    "customers_without_orders",
    oracle="""
    SELECT c_custkey, c_name FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    """,
    doc="Left-anti join (NOT EXISTS) — natural expression of 'orders "
    "with no valid items' (SURVEY.md op-9 consequence).",
    tags=("join", "anti"),
)
def customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    return c.join(o, c.c_custkey == o.o_custkey, "left_anti").select(
        "c_custkey", "c_name"
    )


@register(
    "nation_customer_counts",
    oracle=f"""
    SELECT n.n_name,
           CAST(COUNT(c.c_custkey) AS BIGINT) AS num_customers,
           {SQL_MONEY_SUM("COALESCE(c.c_acctbal, 0.0)", "total_acctbal")}
    FROM nation n LEFT JOIN customer c ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
    doc="Left-outer join preserving unmatched dimension rows (reference "
    "op 18 stock-merge left join + coalesce).",
    tags=("join", "outer"),
)
def nation_customer_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    n = load_table(spark, sf_dir, "nation")
    c = load_table(spark, sf_dir, "customer")
    return (
        n.join(c, c.c_nationkey == n.n_nationkey, "left")
        .groupBy("n_name")
        .agg(
            F.count("c_custkey").alias("num_customers"),
            money_sum(F.coalesce(F.col("c_acctbal"), F.lit(0.0)), "total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Window functions (SURVEY.md §2.8 gap — absent in reference, first-class
# here).
# ---------------------------------------------------------------------------
@register(
    "top_orders_per_customer",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             ROW_NUMBER() OVER (PARTITION BY o_custkey
                                ORDER BY o_totalprice DESC, o_orderkey) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
    doc="Top-K per group via ranking window — deterministic tiebreak on "
    "the key so results are stable across engines.",
    tags=("window",),
)
def top_orders_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    o = load_table(spark, sf_dir, "orders")
    w = Window.partitionBy("o_custkey").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return o.select(
        "o_custkey",
        "o_orderkey",
        "o_totalprice",
        F.row_number().over(w).alias("rn"),
    ).filter(F.col("rn") <= 3)


@register(
    "user_running_value",
    oracle=f"""
    SELECT user_id, event_id,
           {SQL_FROUND(
        "SUM(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)", 2)} AS running_value,
           LAG(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
             AS prev_event_type
    FROM events WHERE user_id < 100
    """,
    doc="Running aggregate + lag over an ordered event stream — the "
    "analytic-window surface (SURVEY.md §2.8).",
    tags=("window",),
)
def user_running_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_table(spark, sf_dir, "events").filter(F.col("user_id") < 100)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    frame = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return ev.select(
        "user_id",
        "event_id",
        fround(F.sum("value").over(frame), 2).alias("running_value"),
        F.lag("event_type").over(w).alias("prev_event_type"),
    )


# ---------------------------------------------------------------------------
# Set operations (reference op 30 union; intersect/except free in Spark).
# ---------------------------------------------------------------------------
_BUYERS_96 = (
    "SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= "
    "TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'"
)
_BUYERS_97 = (
    "SELECT DISTINCT o_custkey FROM orders WHERE o_orderdate >= "
    "TIMESTAMP '1997-01-01' AND o_orderdate < TIMESTAMP '1998-01-01'"
)


def _buyers(spark: SparkSession, sf_dir: str, lo: str, hi: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.filter(
            (F.col("o_orderdate") >= F.lit(lo).cast("timestamp"))
            & (F.col("o_orderdate") < F.lit(hi).cast("timestamp"))
        )
        .select("o_custkey")
        .distinct()
    )


@register(
    "buyers_union",
    oracle=f"({_BUYERS_96}) UNION ({_BUYERS_97})",
    doc="UNION DISTINCT (reference op 30 accumulates day frames by union).",
    tags=("setop",),
)
def buyers_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _buyers(spark, sf_dir, "1996-01-01", "1997-01-01")
    b = _buyers(spark, sf_dir, "1997-01-01", "1998-01-01")
    return a.unionByName(b).distinct()


@register(
    "buyers_intersect",
    oracle=f"({_BUYERS_96}) INTERSECT ({_BUYERS_97})",
    doc="INTERSECT — free in Spark, absent in reference (SURVEY §2.6).",
    tags=("setop",),
)
def buyers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _buyers(spark, sf_dir, "1996-01-01", "1997-01-01")
    b = _buyers(spark, sf_dir, "1997-01-01", "1998-01-01")
    return a.intersect(b)


@register(
    "buyers_except",
    oracle=f"({_BUYERS_96}) EXCEPT ({_BUYERS_97})",
    doc="EXCEPT — customers who bought in 1996 but not 1997.",
    tags=("setop",),
)
def buyers_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    a = _buyers(spark, sf_dir, "1996-01-01", "1997-01-01")
    b = _buyers(spark, sf_dir, "1997-01-01", "1998-01-01")
    return a.exceptAll(b).distinct()


# ---------------------------------------------------------------------------
# Distinct / dedup (reference op 26), sort+limit top-k (op 28-29).
# ---------------------------------------------------------------------------
@register(
    "distinct_order_profiles",
    oracle="SELECT DISTINCT o_orderstatus, o_orderpriority FROM orders",
    doc="dropDuplicates → hash aggregate (reference data_processor.py:320).",
    tags=("dedup",),
)
def distinct_order_profiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return o.select("o_orderstatus", "o_orderpriority").dropDuplicates()


@register(
    "top20_orders",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice FROM orders
    ORDER BY o_totalprice DESC, o_orderkey LIMIT 20
    """,
    doc="Global top-K → Spark TakeOrderedAndProject (no full sort at scale).",
    tags=("sort", "limit"),
)
def top20_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# Rollup / conditional pivot / time bucketing / distinct-count
# (grouping-set surface free in Spark — SURVEY §2.5 note).
# ---------------------------------------------------------------------------
@register(
    "lineitem_rollup",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n,
           {SQL_MONEY_SUM("l_quantity", "sum_qty")}
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
    doc="ROLLUP grouping sets — subtotals + grand total in one pass.",
    tags=("agg", "rollup"),
)
def lineitem_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count(F.lit(1)).alias("n"), money_sum(F.col("l_quantity"), "sum_qty")
    )


@register(
    "event_type_pivot",
    oracle=f"""
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click') AS BIGINT) AS clicks,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT) AS views,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchases,
           {SQL_MONEY_SUM("CASE WHEN event_type = 'purchase' THEN value ELSE NULL END",
                          "purchase_value")}
    FROM events GROUP BY user_id
    """,
    doc="Pivot via conditional aggregation (one pass, no shuffle per "
    "pivot column).",
    tags=("agg", "pivot"),
)
def event_type_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("user_id").agg(
        F.count(F.when(F.col("event_type") == "click", 1)).alias("clicks"),
        F.count(F.when(F.col("event_type") == "view", 1)).alias("views"),
        F.count(F.when(F.col("event_type") == "purchase", 1)).alias("purchases"),
        money_sum(
            F.when(F.col("event_type") == "purchase", F.col("value")),
            "purchase_value",
        ),
    )


@register(
    "hourly_event_stats",
    oracle=f"""
    SELECT date_trunc('hour', ts) AS bucket_start,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           {SQL_MONEY_SUM("value", "total_value")}
    FROM events GROUP BY 1, 2
    """,
    doc="Tumbling time-window aggregation — the batch twin of the "
    "streaming windowed agg (SURVEY §2.8); F.window → struct.start.",
    tags=("agg", "time"),
)
def hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            money_sum(F.col("value"), "total_value"),
        )
        .select(
            F.col("w.start").alias("bucket_start"), "event_type", "n", "total_value"
        )
    )


@register(
    "parts_per_flag",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS distinct_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS distinct_suppliers
    FROM lineitem GROUP BY l_returnflag
    """,
    doc="Multi distinct-count aggregation (expand+two-phase agg in Spark).",
    tags=("agg", "distinct"),
)
def parts_per_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("distinct_parts"),
        F.countDistinct("l_suppkey").alias("distinct_suppliers"),
    )
