from __future__ import annotations

import datetime as dt
import json
import os
import random
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from candy_store_etl_spark.session import build_session  # noqa: E402

SF_SMOKE = os.environ.get("SPARK_GRAFT_SF_SMOKE", "/root/testdata/sf0.001")
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_SF_CORRECTNESS", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark(tmp_path_factory):
    wh = tmp_path_factory.mktemp("spark-warehouse")
    s = build_session(
        "candy-store-etl-tests",
        cpus=8,
        extra_conf={"spark.sql.warehouse.dir": str(wh)},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_smoke() -> str:
    return SF_SMOKE


@pytest.fixture(scope="session")
def sf_correctness() -> str:
    return SF_CORRECTNESS


@pytest.fixture(scope="session")
def candy_input(tmp_path_factory):
    """Seeded day files and a products table in the candy pipeline's
    input formats (FIXTURES.md), small enough for unit tests: five days
    of 40 transactions with 1-5 items over six products. Transaction
    ids and timestamps are random, so neither id nor time order is file
    order. By construction it keeps the cases the pipeline's outputs
    depend on:

    - null quantities, and a transaction whose items are all null;
    - product 1 sells out exactly, and its later lines are cancelled;
    - an equal-quantity tie: the same (product, qty) allocated once and
      cancelled once, so only the file order decides.

    Returns ``(day_paths, products_csv)``."""
    rng = random.Random(7)
    n_days, per_day, n_products = 5, 40, 6
    ids = iter(rng.sample(range(10_000_000, 100_000_000), n_days * per_day))
    days = []
    for d in range(n_days):
        day = dt.date(2024, 2, 1) + dt.timedelta(days=d)
        rows = []
        for i in range(per_day):
            all_null = (d, i) == (0, 3)
            rows.append(
                {
                    "transaction_id": next(ids),
                    "customer_id": rng.randint(1, 9),
                    "timestamp": (
                        dt.datetime.combine(day, dt.time())
                        + dt.timedelta(microseconds=rng.randrange(86_400 * 10**6))
                    ).isoformat(timespec="microseconds"),
                    "items": [
                        {
                            "product_id": p,
                            "product_name": f"candy {p}",
                            "qty": (
                                None
                                if all_null or rng.random() < 0.08
                                else rng.randint(1, 5)
                            ),
                        }
                        for p in rng.sample(
                            range(1, n_products + 1), rng.randint(1, 5)
                        )
                    ],
                }
            )
        days.append(rows)

    # product 1's stock is exactly the demand of its first half of
    # lines: those fill it to 0 and every later line is cancelled (the
    # others' stock exceeds any demand five days can make)
    ones = [
        it["qty"]
        for rows in days
        for row in rows
        for it in row["items"]
        if it["product_id"] == 1 and it["qty"] is not None
    ]
    half = len(ones) // 2
    stock = {p: 10_000 for p in range(1, n_products + 1)}
    stock[1] = sum(ones[:half])
    assert set(ones[:half]) & set(ones[half:]), "no equal-qty tie"

    root = tmp_path_factory.mktemp("candy_input")
    products_csv = root / "products.csv"
    with open(products_csv, "w") as f:
        f.write(
            "product_id,product_name,product_category,product_subcategory,"
            "product_shape,sales_price,cost_to_make,stock\n"
        )
        for p in range(1, n_products + 1):
            f.write(
                f"{p},candy {p},Gummies,Fruit Gummies,Bear,"
                f"{p}.25,{p}.05,{stock[p]}\n"
            )
    paths = []
    for d, rows in enumerate(days):
        day = dt.date(2024, 2, 1) + dt.timedelta(days=d)
        path = root / f"transactions_{day.strftime('%Y%m%d')}.json"
        path.write_text(json.dumps(rows))
        paths.append(str(path))
    return paths, str(products_csv)
