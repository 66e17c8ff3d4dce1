"""Seeded generator for the candy-store pipeline's inputs.

Writes ``transactions_YYYYMMDD.json`` day files (a JSON array of
transaction documents each) plus ``products.csv`` with the schemas of
FIXTURES.md, and reproduces the statistics that expose the pipeline's
defect classes:

- 1-5 items per transaction, distinct products within a transaction;
- about 7.5 % of items carry a null ``qty`` (dropped before pricing);
- about 1.8 % of transactions have only null items (they vanish from
  ``orders``);
- 36 products drawn uniformly (FIXTURES.md gives no per-product
  skew: 30,113 items over 36 products), whose stock is sized against
  their demand as in dataset_5: three products sell out near the end
  and about 0.44 % of the priced lines are cancelled, while the rest
  keep 1.04-1.82x their demand in stock;
- equal-quantity ties: for some (product, qty) pair, one item is
  allocated and another cancelled, so only the file-order rule decides
  which order gets the stock.

Transaction ids are a random sample of 8-digit ids and timestamps are
random within their day, so neither id order nor time order equals file
order: an allocation that sorts by either disagrees with the reference.
``check_statistics`` asserts every proportion above; the benchmark runs
it on every input set it generates.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random

from candy_reference import allocate

N_PRODUCTS = 36
N_CUSTOMERS = 30
FIRST_DAY = dt.date(2024, 2, 1)

NULL_QTY_SHARE = (0.06, 0.09)
ALL_NULL_SHARE = (0.012, 0.025)

# dataset_5 (FIXTURES.md): 123 of 27,841 priced lines cancelled, and
# stock of 2,400-4,200 against a mean demand of ~2,310 units per product
# (10,000 transactions x 3 items x 92.5 % priced x qty 3 / 36 products)
CANCELLED_SHARE = 123 / 27_841
#: stock / demand of the products that do not sell out
STOCK_RATIO_KEPT = (2_400 / 2_310, 4_200 / 2_310)
#: accepted range of the cancelled-line share and sold-out product count
CANCELLED_SHARE_RANGE = (CANCELLED_SHARE / 2, CANCELLED_SHARE * 2)
SOLD_OUT_RANGE = (1, 6)

_CATEGORIES = [
    ("Chewing Gum", "Bubble Gum", "Stick"),
    ("Chocolate", "Milk Chocolate", "Bar"),
    ("Chocolate", "Dark Chocolate", "Square"),
    ("Gummies", "Sour Gummies", "Worm"),
    ("Gummies", "Fruit Gummies", "Bear"),
    ("Hard Candy", "Lollipop", "Round"),
    ("Licorice", "Red Licorice", "Twist"),
    ("Mints", "Peppermint", "Disc"),
    ("Toffee", "Butter Toffee", "Cube"),
]


def _products(rng: random.Random) -> list[dict]:
    out = []
    for pid in range(1, N_PRODUCTS + 1):
        cat, sub, shape = _CATEGORIES[pid % len(_CATEGORIES)]
        price_cents = rng.randint(50, 500)
        cost_cents = rng.randint(price_cents // 4, price_cents - 10)
        out.append(
            {
                "product_id": pid,
                "product_name": f"{sub} {shape} {pid}",
                "product_category": cat,
                "product_subcategory": sub,
                "product_shape": shape,
                "sales_price": f"{price_cents // 100}.{price_cents % 100:02d}",
                "cost_to_make": f"{cost_cents // 100}.{cost_cents % 100:02d}",
            }
        )
    return out


def _transactions(
    rng: random.Random, products: list[dict], days: int, per_day: int
) -> list[list[dict]]:
    ids = rng.sample(range(10_000_000, 100_000_000), days * per_day)
    pids = [p["product_id"] for p in products]
    names = {p["product_id"]: p["product_name"] for p in products}
    out = []
    for d in range(days):
        day = (FIRST_DAY + dt.timedelta(days=d)).isoformat()
        rows = []
        for i in range(per_day):
            k = rng.randint(1, 5)
            chosen = rng.sample(pids, k)
            all_null = rng.random() < 0.018
            qtys = [
                None if all_null or rng.random() < 0.06 else rng.randint(1, 5)
                for _ in chosen
            ]
            if not all_null and all(q is None for q in qtys):
                qtys[rng.randrange(k)] = rng.randint(1, 5)
            sec, us = divmod(rng.randrange(86_400 * 10**6), 10**6)
            rows.append(
                {
                    "transaction_id": ids[d * per_day + i],
                    "customer_id": rng.randint(1, N_CUSTOMERS),
                    "timestamp": f"{day}T{sec // 3600:02d}:{sec // 60 % 60:02d}"
                    f":{sec % 60:02d}.{us:06d}",
                    "items": [
                        {"product_id": p, "product_name": names[p], "qty": q}
                        for p, q in zip(chosen, qtys)
                    ],
                }
            )
        out.append(rows)
    return out


def _size_stock(
    rng: random.Random, products: list[dict], days: list[list[dict]]
) -> None:
    """Stock as a ratio of each product's total demand. Three products
    get less than their demand, short by 1/2, 1/3 and 1/6 of
    ``CANCELLED_SHARE`` x 36 (once a product is out, nearly all its
    later lines are cancelled, so the shortfalls add up to that share of
    all lines); the others get ratios spread evenly over
    ``STOCK_RATIO_KEPT``."""
    demand = {p["product_id"]: 0 for p in products}
    for rows in days:
        for t in rows:
            for it in t["items"]:
                if it["qty"] is not None:
                    demand[it["product_id"]] += it["qty"]
    order = rng.sample(products, len(products))
    short = CANCELLED_SHARE * len(products)
    ratios = [1 - short * w / 6 for w in (3, 2, 1)]
    lo, hi = STOCK_RATIO_KEPT
    n_kept = len(products) - len(ratios)
    ratios += [lo + (hi - lo) * i / (n_kept - 1) for i in range(n_kept)]
    for p, r in zip(order, ratios):
        p["stock"] = int(demand[p["product_id"]] * r)


def day_file_name(day_idx: int) -> str:
    day = FIRST_DAY + dt.timedelta(days=day_idx)
    return f"transactions_{day.strftime('%Y%m%d')}.json"


def generate(out_dir: str, seed: int, days: int = 100, per_day: int = 1000) -> list[str]:
    """Write ``days`` day files of ``per_day`` transactions and
    ``products.csv`` under ``out_dir``; return the day file paths in
    file order. Same seed, same bytes."""
    rng = random.Random(seed)
    products = _products(rng)
    txns = _transactions(rng, products, days, per_day)
    _size_stock(rng, products, txns)
    os.makedirs(out_dir, exist_ok=True)
    cols = [
        "product_id", "product_name", "product_category",
        "product_subcategory", "product_shape", "sales_price",
        "cost_to_make", "stock",
    ]
    with open(os.path.join(out_dir, "products.csv"), "w") as f:
        f.write(",".join(cols) + "\n")
        for p in products:
            f.write(",".join(str(p[c]) for c in cols) + "\n")
    paths = []
    for d, rows in enumerate(txns):
        path = os.path.join(out_dir, day_file_name(d))
        with open(path, "w") as f:
            f.write(json.dumps(rows, separators=(",", ":")))
        paths.append(path)
    return paths


def fixture_statistics(days: list[list[dict]], products: dict[int, dict]) -> dict:
    """The FIXTURES.md proportions of parsed inputs (see module doc)."""
    n_txn = sum(len(rows) for rows in days)
    items = [it for rows in days for t in rows for it in t["items"]]
    n_null = sum(it["qty"] is None for it in items)
    all_null = sum(
        all(it["qty"] is None for it in t["items"])
        for rows in days
        for t in rows
    )
    alloc = allocate(days, products)
    cancelled = sum(got == 0 for (_, _, _, got) in alloc.lines)
    outcomes: dict[tuple[int, int], set[bool]] = {}
    for _, pid, qty, got in alloc.lines:
        outcomes.setdefault((pid, qty), set()).add(got > 0)
    return {
        "transactions": n_txn,
        "items": len(items),
        "items_per_txn": (
            min(len(t["items"]) for rows in days for t in rows),
            max(len(t["items"]) for rows in days for t in rows),
        ),
        "null_qty_share": n_null / len(items),
        "all_null_share": all_null / n_txn,
        "products": len(products),
        "sold_out_products": len(
            {pid for (_, pid, _, got) in alloc.lines if got == 0}
        ),
        "cancelled_items": cancelled,
        "cancelled_share": cancelled / len(alloc.lines),
        "equal_qty_ties": sum(len(v) == 2 for v in outcomes.values()),
    }


def check_statistics(days: list[list[dict]], products: dict[int, dict]) -> dict:
    """Raise ``ValueError`` unless the inputs keep every defect-exposing
    property; return the statistics."""
    s = fixture_statistics(days, products)
    problems = []
    if s["items_per_txn"] != (1, 5):
        problems.append(f"items per transaction span {s['items_per_txn']}")
    if not NULL_QTY_SHARE[0] <= s["null_qty_share"] <= NULL_QTY_SHARE[1]:
        problems.append(f"null qty share {s['null_qty_share']:.4f}")
    if not ALL_NULL_SHARE[0] <= s["all_null_share"] <= ALL_NULL_SHARE[1]:
        problems.append(f"all-null share {s['all_null_share']:.4f}")
    if s["products"] != N_PRODUCTS:
        problems.append(f"{s['products']} products")
    if not SOLD_OUT_RANGE[0] <= s["sold_out_products"] <= SOLD_OUT_RANGE[1]:
        problems.append(f"{s['sold_out_products']} products sold out")
    if not CANCELLED_SHARE_RANGE[0] <= s["cancelled_share"] <= CANCELLED_SHARE_RANGE[1]:
        problems.append(f"cancelled line share {s['cancelled_share']:.4f}")
    if s["equal_qty_ties"] == 0:
        problems.append("no equal-quantity ties")
    if problems:
        raise ValueError("generated candy inputs off-spec: " + "; ".join(problems))
    return s
