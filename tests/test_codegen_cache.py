"""The generated-code cache holds the engine's working set.

Spark keeps the classes Janino compiles for whole-stage codegen and
expressions in one JVM-wide LRU (``spark.sql.codegen.cache.maxEntries``,
default 100). A repeated batch whose plans need more classes than that
recompiles them on every run, and the JIT re-optimises the fresh
classes. ``build_session`` sizes the cache to the working set; this
test repeats a working set of well over 100 classes (the candy pipeline
plus a few catalog queries) and checks that the repeat compiles nothing.
AQE is off for the test: on inputs this small it may build either side
of a join's broadcast depending on which stage finishes first, and a
new plan compiles new classes whatever the cache size.
"""

from __future__ import annotations

import datetime as dt
import json
import random

import pytest

from candy_store_etl_spark import caching
from candy_store_etl_spark.plans import query_map
from candy_store_etl_spark.plans.candy_pipeline import run_pipeline
from candy_store_etl_spark.sources.candy import read_products

CATALOG_QUERIES = (
    "pricing_summary",
    "brand_revenue",
    "top_orders_per_customer",
    "sessionize_events_gap",
    "exact_dedup_docs",
)


@pytest.fixture(scope="module")
def candy_input(tmp_path_factory):
    """Five seeded day files and a products table in the pipeline's
    input formats; a few null quantities and a product short of stock."""
    rng = random.Random(7)
    root = tmp_path_factory.mktemp("candy_codegen")
    products_csv = root / "products.csv"
    with open(products_csv, "w") as f:
        f.write(
            "product_id,product_name,product_category,product_subcategory,"
            "product_shape,sales_price,cost_to_make,stock\n"
        )
        for p in range(1, 7):
            stock = 20 if p == 1 else 500
            f.write(f"{p},candy {p},Gummies,Fruit Gummies,Bear,{p}.25,{p}.05,{stock}\n")
    paths = []
    for d in range(5):
        day = dt.date(2024, 2, 1) + dt.timedelta(days=d)
        rows = []
        for i in range(12):
            items = [
                {
                    "product_id": p,
                    "product_name": f"candy {p}",
                    "qty": None if rng.random() < 0.1 else rng.randint(1, 5),
                }
                for p in rng.sample(range(1, 7), rng.randint(1, 3))
            ]
            rows.append(
                {
                    "transaction_id": 10_000 * (d + 1) + i,
                    "customer_id": rng.randint(1, 9),
                    "timestamp": f"{day.isoformat()}T{i:02d}:30:00.000000",
                    "items": items,
                }
            )
        path = root / f"transactions_{day.strftime('%Y%m%d')}.json"
        path.write_text(json.dumps(rows))
        paths.append(str(path))
    return paths, str(products_csv)


def _round(spark, candy_input, sf_dir):
    """Every relation of one candy pipeline run plus the catalog
    queries, collected as sorted rows."""
    paths, products_csv = candy_input
    out = {}
    try:
        outputs = run_pipeline(spark, paths, read_products(spark, products_csv))
        for name, df in outputs.items():
            out[name] = sorted(map(tuple, df.collect()), key=repr)
    finally:
        caching.release_caches()
        spark.catalog.clearCache()
    queries = query_map()
    for name in CATALOG_QUERIES:
        try:
            out[name] = sorted(map(tuple, queries[name](spark, sf_dir).collect()), key=repr)
        finally:
            caching.release_caches()
    return out


def test_repeated_working_set_compiles_nothing(spark, candy_input, sf_smoke):
    compiles = (
        spark._jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    )
    aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        first = _round(spark, candy_input, sf_smoke)
        before = compiles.getCount()
        second = _round(spark, candy_input, sf_smoke)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", aqe)
    assert compiles.getCount() - before == 0
    assert second == first
