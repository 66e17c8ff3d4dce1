"""Plain sequential Python reference of the candy pipeline's outputs.

It follows the reference application's semantics (PAPER.md, SURVEY.md
§2.3) one item at a time, with no Spark:

- line items are scanned in file order (day file, then position in the
  file, then position in the ``items`` array);
- items with a null ``qty`` are dropped before pricing, so a
  transaction whose items are all null vanishes from every output;
- greedy allocation: an item gets its full quantity when the product's
  remaining stock covers it, otherwise quantity 0 (cancelled, still
  emitted and still counted in ``num_items``); stock carries across
  days;
- money is exact ``Decimal`` rounded half-up to 2 dp; dates are
  ``yyyy-MM-dd``.

``check_outputs`` compares a directory of the five CSVs the pipeline
wrote against these outputs. The forecast is checked for shape only:
one row dated the day after the last order day, with finite values.
"""

from __future__ import annotations

import csv
import datetime as dt
import json
import math
import os
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal

OUTPUT_NAMES = (
    "order_line_items",
    "orders",
    "products_updated",
    "daily_summary",
    "sales_profit_forecast",
)

_CENT = Decimal("0.01")


def round2(x: Decimal) -> Decimal:
    return x.quantize(_CENT, rounding=ROUND_HALF_UP)


def read_inputs(
    day_paths: list[str], products_csv: str
) -> tuple[list[list[dict]], dict[int, dict]]:
    """Parse day files (in the given order) and the products table."""
    days = []
    for p in day_paths:
        with open(p) as f:
            days.append(json.load(f))
    products = {}
    with open(products_csv, newline="") as f:
        for r in csv.DictReader(f):
            products[int(r["product_id"])] = {
                "product_name": r["product_name"],
                "sales_price": Decimal(r["sales_price"]),
                "cost_to_make": Decimal(r["cost_to_make"]),
                "stock": int(r["stock"]),
            }
    return days, products


@dataclass
class Allocation:
    #: (order_id, product_id, requested qty, allocated qty) in file order
    lines: list[tuple[int, int, int, int]]
    final_stock: dict[int, int]


def allocate(days: list[list[dict]], products: dict[int, dict]) -> Allocation:
    """File-order greedy allocation over non-null, known-product items."""
    stock = {pid: p["stock"] for pid, p in products.items()}
    lines = []
    for rows in days:
        for t in rows:
            for it in t["items"] or ():
                q, pid = it["qty"], it["product_id"]
                if q is None or pid not in products:
                    continue
                got = q if q <= stock[pid] else 0
                stock[pid] -= got
                lines.append((t["transaction_id"], pid, q, got))
    return Allocation(lines, stock)


def reference_outputs(
    days: list[list[dict]], products: dict[int, dict]
) -> dict[str, list[tuple]]:
    """The four exact outputs as sorted row tuples, plus the forecast
    date under ``"forecast_date"``."""
    alloc = allocate(days, products)
    headers = {
        t["transaction_id"]: (t["timestamp"], t["customer_id"])
        for rows in days
        for t in rows
    }
    line_items = []
    per_order: dict[int, list] = {}
    for order_id, pid, _, got in alloc.lines:
        price = products[pid]["sales_price"]
        total = round2(got * price)
        line_items.append((order_id, pid, got, price, total))
        acc = per_order.setdefault(order_id, [Decimal(0), 0, Decimal(0)])
        acc[0] += total
        acc[1] += 1
        acc[2] += total - got * products[pid]["cost_to_make"]
    orders = []
    daily: dict[str, list] = {}
    for order_id in sorted(per_order):
        amount, n, profit = per_order[order_id]
        ts, customer = headers[order_id]
        orders.append((order_id, ts, customer, round2(amount), n))
        d = daily.setdefault(ts[:10], [0, Decimal(0), Decimal(0)])
        d[0] += 1
        d[1] += round2(amount)
        d[2] += profit
    last = max(daily)
    return {
        "order_line_items": sorted(line_items),
        "orders": orders,
        "products_updated": [
            (pid, products[pid]["product_name"], alloc.final_stock[pid])
            for pid in sorted(products)
        ],
        "daily_summary": [
            (day, n, round2(sales), round2(profit))
            for day, (n, sales, profit) in sorted(daily.items())
        ],
        "forecast_date": (
            dt.date.fromisoformat(last) + dt.timedelta(days=1)
        ).isoformat(),
    }


# per output: the CSV header and one parser per column. Money is
# compared as the double nearest the exact 2-dp value: the pipeline
# rounds every money column to 2 dp, so its CSV text parses to exactly
# that double.
_COLUMNS = {
    "order_line_items": (
        ["order_id", "product_id", "quantity", "unit_price", "line_total"],
        [int, int, int, float, float],
    ),
    "orders": (
        ["order_id", "order_datetime", "customer_id", "total_amount", "num_items"],
        [int, str, int, float, int],
    ),
    "products_updated": (
        ["product_id", "product_name", "current_stock"],
        [int, str, int],
    ),
    "daily_summary": (
        ["date", "num_orders", "total_sales", "total_profit"],
        [str, int, float, float],
    ),
}


def checkable(want: dict) -> dict:
    """``reference_outputs`` with money as floats, for ``check_outputs``."""
    return {
        k: v if isinstance(v, str) else [
            tuple(float(x) if isinstance(x, Decimal) else x for x in r) for r in v
        ]
        for k, v in want.items()
    }


def _read_csv(path: str) -> tuple[list[str], list[list[str]]]:
    with open(path, newline="") as f:
        rows = list(csv.reader(f))
    return rows[0], rows[1:]


def check_outputs(out_dir: str, want: dict[str, list[tuple]]) -> list[str]:
    """Compare the pipeline's five CSVs in ``out_dir`` with
    ``checkable(reference_outputs(...))``; return one message per
    mismatch (empty = pass)."""
    problems = []
    for name, (cols, parsers) in _COLUMNS.items():
        expected = want[name]
        header, rows = _read_csv(os.path.join(out_dir, f"{name}.csv"))
        if header != cols:
            problems.append(f"{name}: header {header}")
            continue
        got = [tuple(p(v) for p, v in zip(parsers, r)) for r in rows]
        # line items tie on (order_id, product_id) only across distinct
        # orders, so the file must already be in (order_id, product_id)
        # order; compare content as sorted rows
        if name == "order_line_items" and [g[:2] for g in got] != sorted(
            g[:2] for g in got
        ):
            problems.append(f"{name}: not ordered by (order_id, product_id)")
        if sorted(got) != expected:
            diff = len(set(got) ^ set(expected))
            problems.append(
                f"{name}: {len(got)} rows vs {len(expected)} expected, "
                f"{diff} differing"
            )
    header, rows = _read_csv(os.path.join(out_dir, "sales_profit_forecast.csv"))
    if header != ["date", "forecasted_sales", "forecasted_profit"]:
        problems.append(f"sales_profit_forecast: header {header}")
    elif len(rows) != 1 or rows[0][0] != want["forecast_date"]:
        problems.append(f"sales_profit_forecast: rows {rows}")
    elif not all(math.isfinite(float(v)) for v in rows[0][1:]):
        problems.append(f"sales_profit_forecast: non-finite {rows[0]}")
    return problems
