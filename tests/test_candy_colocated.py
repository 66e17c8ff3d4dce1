"""The table-log/SPJ candy pipeline must equal the single-session
pipeline (on the reference's own dataset where present, else on the
seeded ``candy_input`` fixture), and its stage boundaries must behave
like tables: versioned, time-travelable, bucketed."""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from candy_store_etl_spark.operators import colocated as co
from candy_store_etl_spark.sources import table_log as tl

REF_DATA = "/root/reference/data/dataset_5"


@pytest.fixture(scope="module")
def candy_data(candy_input):
    """``(day_paths, products_csv)``: the reference's dataset where
    present, else the seeded ``candy_input`` fixture."""
    if not os.path.isdir(REF_DATA):
        return candy_input
    return [
        os.path.join(REF_DATA, f"transactions_202402{d:02d}.json")
        for d in range(1, 11)
    ], os.path.join(REF_DATA, "products.csv")


def _rows(df, *order_cols):
    return [tuple(r) for r in df.orderBy(*order_cols).collect()]


def test_tablelog_pipeline_matches_single_session(
    spark, tmp_path, candy_data
):
    from candy_store_etl_spark.plans.candy_colocated import (
        run_pipeline_tablelog,
    )
    from candy_store_etl_spark.plans.candy_pipeline import run_pipeline
    from candy_store_etl_spark.sources.candy import read_products

    candy_paths, products_csv = candy_data
    products = read_products(spark, products_csv)
    got = run_pipeline_tablelog(
        spark, candy_paths, products, str(tmp_path / "tl")
    )
    want = run_pipeline(spark, candy_paths, products)
    orders = {
        "order_line_items": ("order_id", "product_id"),
        "products_updated": ("product_id",),
        "orders": ("order_id",),
        "daily_summary": ("date",),
        "sales_profit_forecast": ("date",),
    }
    for name, oc in orders.items():
        g, w = got[name], want[name]
        assert g.columns == w.columns, name
        gr, wr = _rows(g, *oc), _rows(w, *oc)
        assert len(gr) == len(wr), name
        for grow, wrow in zip(gr, wr):
            for gv, wv in zip(grow, wrow):
                if isinstance(gv, float):
                    # raw double aggregates may differ by summation
                    # order between Acero and the JVM; money columns
                    # are rounded upstream so this is last-ulp only
                    assert abs(gv - wv) < 1e-6, (name, grow, wrow)
                else:
                    assert gv == wv, (name, grow, wrow)


def test_stage_boundaries_are_versioned_bucketed_tables(
    spark, tmp_path, candy_data
):
    from candy_store_etl_spark.plans.candy_colocated import (
        run_pipeline_tablelog,
    )
    from candy_store_etl_spark.sources.candy import read_products

    candy_paths, products_csv = candy_data
    products = read_products(spark, products_csv)
    work = str(tmp_path / "tl")
    run_pipeline_tablelog(spark, candy_paths[:3], products, work)
    li = os.path.join(work, "line_items_tl")
    hdr = os.path.join(work, "headers_tl")
    # both stage tables committed one bucketed version on order_id
    assert co.bucket_spec(li) == {"key": "order_id", "n": 16}
    assert co.bucket_spec(hdr) == {"key": "order_id", "n": 16}
    assert tl.current_version(li) == 0
    assert tl.current_version(os.path.join(work, "orders_tl")) == 0
    # the staged line items serve a bucketed point read directly
    any_order = tl.read_snapshot(spark, li).select("order_id").first()[0]
    hit = co.point_lookup(spark, li, [any_order])
    assert hit.filter(F.col("order_id") == any_order).count() >= 1
    # idempotent re-run: a SECOND run with the same workdir must
    # replace every stage (no doubled orders) while version 0 of the
    # orders stage stays readable for time travel
    orders_dir = os.path.join(work, "orders_tl")
    v0_rows = tl.read_snapshot(spark, orders_dir, version=0).count()
    assert v0_rows > 0
    run_pipeline_tablelog(spark, candy_paths[:3], products, work)
    assert tl.current_version(orders_dir) == 1
    again = tl.read_snapshot(spark, orders_dir).count()
    assert again == v0_rows  # replaced, not doubled
    assert (
        tl.read_snapshot(spark, orders_dir, version=0).count() == v0_rows
    )
    from candy_store_etl_spark.plans.candy_pipeline import (
        build_daily_summary,
    )

    assert build_daily_summary(
        tl.read_snapshot(spark, orders_dir)
    ).count() == 3


def test_incremental_pipeline_matches_single_session(
    spark, tmp_path, candy_data
):
    """Two-hop IVM over the stage tables equals the all-at-once batch
    pipeline on the candy dataset — every output, including
    allocation (sequential greedy over the carried stock remainder ==
    the batch's global ordered pass) and the per-day summary
    (signed-folded from the rollup's change feed)."""
    from candy_store_etl_spark.plans.candy_colocated import (
        run_pipeline_incremental,
    )
    from candy_store_etl_spark.plans.candy_pipeline import run_pipeline
    from candy_store_etl_spark.sources.candy import read_products

    candy_paths, products_csv = candy_data
    products = read_products(spark, products_csv)
    got = run_pipeline_incremental(
        spark, candy_paths, products, str(tmp_path / "ivm")
    )
    want = run_pipeline(spark, candy_paths, products)
    orders = {
        "order_line_items": ("order_id", "product_id"),
        "products_updated": ("product_id",),
        "orders": ("order_id",),
        "daily_summary": ("date",),
        "sales_profit_forecast": ("date",),
    }
    for name, oc in orders.items():
        g, w = got[name], want[name]
        assert g.columns == w.columns, name
        gr, wr = _rows(g, *oc), _rows(w, *oc)
        assert len(gr) == len(wr), name
        for grow, wrow in zip(gr, wr):
            for gv, wv in zip(grow, wrow):
                if isinstance(gv, float):
                    assert abs(gv - wv) < 1e-6, (name, grow, wrow)
                else:
                    assert gv == wv, (name, grow, wrow)


def test_incremental_pipeline_extends_without_reprocessing(
    spark, tmp_path, candy_data
):
    """Day N+1 arrives: the maintenance chain appends ONE line-items
    version and merges one batch per hop — the earlier days' stage
    files are untouched inodes, and the result equals the batch
    pipeline over all N+1 days."""
    from candy_store_etl_spark.plans.candy_colocated import (
        run_pipeline_incremental,
    )
    from candy_store_etl_spark.plans.candy_pipeline import run_pipeline
    from candy_store_etl_spark.sources.candy import read_products

    candy_paths, products_csv = candy_data
    products = read_products(spark, products_csv)
    work = str(tmp_path / "ivm")
    run_pipeline_incremental(spark, candy_paths[:3], products, work)
    li = os.path.join(work, "line_items_tl")
    assert tl.current_version(li) == 2  # one append per day
    before = {
        p: os.stat(p).st_ino for p in tl.snapshot_files(li)
    }
    got = run_pipeline_incremental(
        spark, candy_paths[:4], products, work
    )
    # the three earlier days' files are the SAME inodes — history was
    # never rewritten, only extended
    after = {p: os.stat(p).st_ino for p in tl.snapshot_files(li)}
    assert all(after[p] == i for p, i in before.items())
    assert tl.current_version(li) == 3
    want = run_pipeline(spark, candy_paths[:4], products)
    g = [tuple(r) for r in got["daily_summary"].collect()]
    w = [tuple(r) for r in want["daily_summary"].collect()]
    assert len(g) == len(w) == 4
    for grow, wrow in zip(g, w):
        for gv, wv in zip(grow, wrow):
            if isinstance(gv, float):
                assert abs(gv - wv) < 1e-6
            else:
                assert gv == wv
