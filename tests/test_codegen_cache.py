"""The generated-code cache holds the engine's working set.

Spark keeps the classes Janino compiles for whole-stage codegen and
expressions in one JVM-wide LRU (``spark.sql.codegen.cache.maxEntries``,
default 100). A repeated batch whose plans need more classes than that
recompiles them on every run, and the JIT re-optimises the fresh
classes. ``build_session`` sizes the cache to the working set; this
test repeats a working set of well over 100 classes (the candy pipeline
over the shared ``candy_input`` fixture plus a few catalog queries) and
checks that the repeat compiles nothing.
AQE is off for the test: on inputs this small it may build either side
of a join's broadcast depending on which stage finishes first, and a
new plan compiles new classes whatever the cache size.
"""

from __future__ import annotations

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
