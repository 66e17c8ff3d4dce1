"""Airflow DAG artifact for the candy pipeline (SURVEY §3.3).

The reference ships an Airflow DAG (`candy_store_pipeline_dag.py:284-327`)
whose tasks exchange intermediates through session temp views — views
that do not survive the per-task SparkSessions the DAG creates, so the
orchestrated form is structurally broken. This module publishes the
WORKING topology: tasks exchange state only through persisted parquet
stage directories, so any task can run in its own session, process, or
cluster and resume from the previous task's files. ``run_dag`` is the
pipeline's parquet-staged form; the table-log staged form is
``plans/candy_colocated.run_pipeline_tablelog``.

The task graph is declared engine-side as plain data
(``CANDY_DAG_TASKS``) and the Airflow binding is import-gated: where
Airflow is installed, ``build_airflow_dag()`` returns a real
``airflow.DAG`` wired task-for-task from the same declaration; where
it is not (this container), the declaration is still importable,
topologically checkable, and is what the tests pin against
``run_stage``'s actual write/read order.
"""

from __future__ import annotations

import os
from collections.abc import Callable
from dataclasses import dataclass
from graphlib import TopologicalSorter

from pyspark.sql import SparkSession

# task -> (upstream dependencies, produced stage artifact)
# Artifacts are directory names under the pipeline workdir; "reports/*"
# are terminal single-file outputs.
CANDY_DAG_TASKS: dict[str, tuple[tuple[str, ...], str]] = {
    "load_transactions": ((), "txns"),
    "build_line_items": (("load_transactions",), "line_items"),
    "build_orders": (("build_line_items", "load_transactions"), "orders"),
    "build_daily_summary": (("build_orders",), "daily_summary"),
    "export_line_items": (("build_line_items",), "reports/order_line_items"),
    "export_products_updated": (("build_line_items",), "reports/products_updated"),
    "export_orders": (("build_orders",), "reports/orders"),
    "export_daily_summary": (("build_daily_summary",), "reports/daily_summary"),
    "forecast": (("build_daily_summary",), "reports/sales_profit_forecast"),
}


def topological_order() -> list[str]:
    """Deterministic topological order of the task graph (stable
    tie-break on task name, so the schedule is reproducible)."""
    ts = TopologicalSorter(
        {name: set(deps) for name, (deps, _) in CANDY_DAG_TASKS.items()}
    )
    ts.prepare()
    order: list[str] = []
    while ts.is_active():
        ready = sorted(ts.get_ready())
        order.extend(ready)
        ts.done(*ready)
    return order


@dataclass(frozen=True)
class StageContext:
    """Everything a task needs to run in its own process: where the
    inputs live, where stage artifacts go, and how to get a session.
    Stages communicate ONLY through persisted artifacts under
    ``workdir`` — no temp views, no driver state (the reference DAG's
    fatal flaw, `candy_store_pipeline_dag.py:147-207`)."""

    session_factory: Callable[[], SparkSession]
    transaction_paths: tuple[str, ...]
    products_path: str
    workdir: str

    def stage(self, artifact: str) -> str:
        return os.path.join(self.workdir, artifact)


def run_stage(name: str, ctx: StageContext) -> None:
    """Execute ONE task of ``CANDY_DAG_TASKS`` end-to-end: read the
    upstream stage artifacts from disk, compute, write this task's
    artifact. Safe to call from any process once upstreams have run."""
    from ..plans.candy_pipeline import (
        build_daily_summary,
        build_forecast,
        build_line_items,
        build_orders_with_profit,
        build_products_updated,
        load_daily_transactions,
    )
    from ..sources.candy import read_products
    from ..sources.sinks import save_single_csv, write_partitioned

    spark = ctx.session_factory()
    reports = ctx.stage("reports")

    def _read(artifact: str):
        return spark.read.parquet(ctx.stage(artifact))

    if name == "load_transactions":
        # materializing the scan freezes day_idx/row_in_file, so every
        # downstream task sees one immutable sequence-keyed relation
        write_partitioned(
            load_daily_transactions(spark, list(ctx.transaction_paths)),
            ctx.stage("txns"),
        )
    elif name == "build_line_items":
        txns = _read("txns")
        products = read_products(spark, ctx.products_path)
        write_partitioned(
            build_line_items(txns, products), ctx.stage("line_items")
        )
    elif name == "build_orders":
        txns = _read("txns")
        line_items = _read("line_items")
        write_partitioned(
            build_orders_with_profit(line_items, txns), ctx.stage("orders")
        )
    elif name == "build_daily_summary":
        orders_full = _read("orders")
        write_partitioned(
            build_daily_summary(orders_full), ctx.stage("daily_summary")
        )
    elif name == "export_line_items":
        line_items = _read("line_items")
        save_single_csv(
            line_items.select(
                "order_id", "product_id", "quantity", "unit_price", "line_total"
            ).orderBy("order_id", "product_id"),
            reports,
            "order_line_items.csv",
        )
    elif name == "export_products_updated":
        line_items = _read("line_items")
        products = read_products(spark, ctx.products_path)
        save_single_csv(
            build_products_updated(line_items, products),
            reports,
            "products_updated.csv",
        )
    elif name == "export_orders":
        orders_full = _read("orders")
        save_single_csv(
            orders_full.drop("order_profit").orderBy("order_id"),
            reports,
            "orders.csv",
        )
    elif name == "export_daily_summary":
        daily = _read("daily_summary")
        save_single_csv(daily.orderBy("date"), reports, "daily_summary.csv")
    elif name == "forecast":
        daily = _read("daily_summary")
        save_single_csv(
            build_forecast(daily), reports, "sales_profit_forecast.csv"
        )
    else:
        raise KeyError(f"unknown stage {name!r}")


def run_dag(ctx: StageContext) -> None:
    """Drive the whole graph in topological order — the no-Airflow
    executor (what the PythonOperators do one task at a time)."""
    for name in topological_order():
        run_stage(name, ctx)


def build_airflow_dag(dag_id: str = "candy_store_pipeline", ctx: StageContext | None = None):
    """Construct a real Airflow DAG from ``CANDY_DAG_TASKS``.

    Import-gated: raises ``ImportError`` where Airflow is absent. Each
    task is a PythonOperator invoking ``run_stage`` for that task with
    its own SparkSession — legal here because stage boundaries are
    parquet, not temp views.
    """
    from airflow import DAG  # noqa: PLC0415 — env-gated by design
    from airflow.operators.python import PythonOperator

    dag = DAG(dag_id=dag_id, schedule=None, catchup=False)
    ops = {
        name: PythonOperator(
            task_id=name,
            python_callable=_stage_runner(name, ctx),
            dag=dag,
        )
        for name in CANDY_DAG_TASKS
    }
    for name, (deps, _artifact) in CANDY_DAG_TASKS.items():
        for dep in deps:
            ops[dep] >> ops[name]
    return dag


def _default_context() -> StageContext:
    """Deployment binding resolved from the environment at task runtime
    (Airflow workers import this module without constructor args)."""
    data = os.environ["CANDY_DATA_DIR"]
    paths = tuple(
        sorted(
            os.path.join(data, f)
            for f in os.listdir(data)
            if f.startswith("transactions_") and f.endswith(".json")
        )
    )
    return StageContext(
        session_factory=lambda: SparkSession.builder.getOrCreate(),
        transaction_paths=paths,
        products_path=os.path.join(data, "products.csv"),
        workdir=os.environ["CANDY_WORKDIR"],
    )


def _stage_runner(name: str, ctx: StageContext | None = None):
    def run(**context):
        run_stage(name, ctx if ctx is not None else _default_context())

    return run
