import csv
from decimal import Decimal

import candy_reference as ref

PRODUCTS = {
    1: {"product_name": "Gum", "sales_price": Decimal("1.15"),
        "cost_to_make": Decimal("0.40"), "stock": 5},
    2: {"product_name": "Mint", "sales_price": Decimal("2.00"),
        "cost_to_make": Decimal("1.00"), "stock": 100},
}


def txn(tid, ts, items, customer=1):
    return {
        "transaction_id": tid,
        "customer_id": customer,
        "timestamp": ts,
        "items": [
            {"product_id": p, "product_name": "x", "qty": q} for p, q in items
        ],
    }


def test_sell_out_cancels_in_file_order():
    # file order, not id or time order, decides who gets the last stock
    days = [[
        txn(30, "2024-02-01T09:00:00.000000", [(1, 3)]),
        txn(10, "2024-02-01T08:00:00.000000", [(1, 3)]),
        txn(20, "2024-02-01T07:00:00.000000", [(1, 2)]),
    ]]
    alloc = ref.allocate(days, PRODUCTS)
    assert alloc.lines == [(30, 1, 3, 3), (10, 1, 3, 0), (20, 1, 2, 2)]
    assert alloc.final_stock[1] == 0
    out = ref.reference_outputs(days, PRODUCTS)
    assert out["order_line_items"] == [
        (10, 1, 0, Decimal("1.15"), Decimal("0.00")),
        (20, 1, 2, Decimal("1.15"), Decimal("2.30")),
        (30, 1, 3, Decimal("1.15"), Decimal("3.45")),
    ]
    # a cancelled line still counts in num_items
    assert out["orders"][0] == (
        10, "2024-02-01T08:00:00.000000", 1, Decimal("0.00"), 1
    )
    assert out["products_updated"][0] == (1, "Gum", 0)


def test_null_qty_dropped_before_pricing():
    days = [[txn(1, "2024-02-01T10:00:00.000000", [(1, None), (2, 2)])]]
    out = ref.reference_outputs(days, PRODUCTS)
    assert out["order_line_items"] == [
        (1, 2, 2, Decimal("2.00"), Decimal("4.00"))
    ]
    assert out["orders"] == [
        (1, "2024-02-01T10:00:00.000000", 1, Decimal("4.00"), 1)
    ]


def test_all_null_order_vanishes():
    days = [[
        txn(1, "2024-02-01T10:00:00.000000", [(1, None), (2, None)]),
        txn(2, "2024-02-02T10:00:00.000000", [(2, 1)]),
    ]]
    out = ref.reference_outputs(days, PRODUCTS)
    assert [o[0] for o in out["orders"]] == [2]
    assert [d[0] for d in out["daily_summary"]] == ["2024-02-02"]
    assert out["forecast_date"] == "2024-02-03"


def test_equal_quantity_tie_goes_to_the_earlier_item():
    # two equal requests for the last 2 units: the first in file order wins
    products = {1: dict(PRODUCTS[1], stock=2)}
    days = [
        [txn(7, "2024-02-01T23:00:00.000000", [(1, 2)])],
        [txn(3, "2024-02-02T01:00:00.000000", [(1, 2)])],
    ]
    assert ref.allocate(days, products).lines == [(7, 1, 2, 2), (3, 1, 2, 0)]


def test_daily_summary_rounds_half_up():
    products = {1: dict(PRODUCTS[1], sales_price=Decimal("0.125"),
                        cost_to_make=Decimal("0.10"), stock=10)}
    days = [[txn(1, "2024-02-01T10:00:00.000000", [(1, 1)])]]
    out = ref.reference_outputs(days, products)
    # 0.125 rounds half-up to 0.13 (banker's rounding would give 0.12)
    assert out["order_line_items"][0][4] == Decimal("0.13")
    assert out["daily_summary"] == [
        ("2024-02-01", 1, Decimal("0.13"), Decimal("0.03"))
    ]


def _write(out_dir, name, header, rows):
    with open(out_dir / f"{name}.csv", "w", newline="") as f:
        w = csv.writer(f)
        w.writerow(header)
        w.writerows(rows)


def _csvs(out_dir, line_total="4.0"):
    _write(out_dir, "order_line_items",
           ["order_id", "product_id", "quantity", "unit_price", "line_total"],
           [[1, 2, 2, "2.0", line_total]])
    _write(out_dir, "orders",
           ["order_id", "order_datetime", "customer_id", "total_amount", "num_items"],
           [[1, "2024-02-01T10:00:00.000000", 1, "4.0", 1]])
    _write(out_dir, "products_updated",
           ["product_id", "product_name", "current_stock"],
           [[1, "Gum", 5], [2, "Mint", 98]])
    _write(out_dir, "daily_summary",
           ["date", "num_orders", "total_sales", "total_profit"],
           [["2024-02-01", 1, "4.0", "2.0"]])
    _write(out_dir, "sales_profit_forecast",
           ["date", "forecasted_sales", "forecasted_profit"],
           [["2024-02-02", "4.0", "2.0"]])


def test_check_outputs_accepts_matching_csvs_and_names_mismatches(tmp_path):
    days = [[txn(1, "2024-02-01T10:00:00.000000", [(1, None), (2, 2)])]]
    want = ref.checkable(ref.reference_outputs(days, PRODUCTS))
    _csvs(tmp_path)
    assert ref.check_outputs(str(tmp_path), want) == []
    _csvs(tmp_path, line_total="4.01")
    problems = ref.check_outputs(str(tmp_path), want)
    assert len(problems) == 1 and problems[0].startswith("order_line_items")
