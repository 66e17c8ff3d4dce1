"""The DAG declaration must match run_stage's real topology: every
stage read must be preceded by its producing write, and the terminal
artifacts must be exactly the five reference outputs."""

from __future__ import annotations

import pytest

from candy_store_etl_spark.orchestration import (
    CANDY_DAG_TASKS,
    build_airflow_dag,
    topological_order,
)


def test_topological_order_is_valid_and_deterministic():
    order = topological_order()
    assert sorted(order) == sorted(CANDY_DAG_TASKS)
    pos = {t: i for i, t in enumerate(order)}
    for name, (deps, _) in CANDY_DAG_TASKS.items():
        for dep in deps:
            assert pos[dep] < pos[name], (dep, name)
    assert order == topological_order()  # stable tie-break


def test_terminal_artifacts_are_the_five_reference_outputs():
    terminals = {
        art.split("/", 1)[1]
        for _, (_, art) in CANDY_DAG_TASKS.items()
        if art.startswith("reports/")
    }
    assert terminals == {
        "order_line_items",
        "products_updated",
        "orders",
        "daily_summary",
        "sales_profit_forecast",
    }


def test_stage_artifacts_match_staged_pipeline():
    # run_stage persists line_items then orders, and derives
    # daily/forecast from the orders stage — the declaration must agree
    arts = {name: art for name, (_, art) in CANDY_DAG_TASKS.items()}
    assert arts["build_line_items"] == "line_items"
    assert arts["build_orders"] == "orders"
    deps = {name: set(d) for name, (d, _) in CANDY_DAG_TASKS.items()}
    assert "build_line_items" in deps["build_orders"]
    assert "build_orders" in deps["build_daily_summary"]
    assert "build_daily_summary" in deps["forecast"]


def test_airflow_binding_is_import_gated():
    pytest.importorskip("airflow", reason="airflow not installed here")
    dag = build_airflow_dag()
    assert len(dag.tasks) == len(CANDY_DAG_TASKS)


def test_run_dag_executes_full_graph_and_matches_pipeline(
    spark, tmp_path, candy_input
):
    """Drive every task through run_stage in topological order (exactly
    what the Airflow PythonOperators do) and require the five report
    CSVs to equal the single-session pipeline's outputs — proving the
    graph really is resumable from parquet stage boundaries alone.
    Runs on the reference's dataset where present, else on the seeded
    ``candy_input`` fixture."""
    import os

    import pandas as pd

    from candy_store_etl_spark.orchestration import StageContext, run_dag
    from candy_store_etl_spark.plans.candy_pipeline import run_pipeline
    from candy_store_etl_spark.sources.candy import read_products
    from candy_store_etl_spark.sources.sinks import save_single_csv

    ref_data = "/root/reference/data/dataset_5"
    if os.path.isdir(ref_data):
        dates = [f"202402{d:02d}" for d in range(1, 11)]
        paths = tuple(
            os.path.join(ref_data, f"transactions_{d}.json") for d in dates
        )
        products_path = os.path.join(ref_data, "products.csv")
    else:
        paths, products_path = tuple(candy_input[0]), candy_input[1]

    ctx = StageContext(
        session_factory=lambda: spark,
        transaction_paths=paths,
        products_path=products_path,
        workdir=str(tmp_path / "dagwork"),
    )
    run_dag(ctx)
    # the fact stage boundaries are real parquet directories on disk
    for artifact in ("line_items", "orders"):
        stage = ctx.stage(artifact)
        assert os.path.isdir(stage), artifact
        assert any(f.endswith(".parquet") for f in os.listdir(stage)), artifact

    # the one-session pipeline, exported through the same CSV sink
    want_dir = str(tmp_path / "want")
    products = read_products(spark, ctx.products_path)
    for name, df in run_pipeline(spark, list(paths), products).items():
        if name == "order_line_items":
            df = df.orderBy("order_id", "product_id")
        elif name == "orders":
            df = df.orderBy("order_id")
        elif name == "daily_summary":
            df = df.orderBy("date")
        save_single_csv(df, want_dir, f"{name}.csv")

    for name in [
        "order_line_items",
        "products_updated",
        "orders",
        "daily_summary",
        "sales_profit_forecast",
    ]:
        got = pd.read_csv(os.path.join(ctx.workdir, "reports", f"{name}.csv"))
        want = pd.read_csv(os.path.join(want_dir, f"{name}.csv"))
        pd.testing.assert_frame_equal(got, want, check_dtype=False, obj=name)
