import filecmp
import os

import pytest

import candy_data
from candy_reference import read_inputs


def _gen(tmp_path, name, seed, days=10, per_day=1000):
    out = tmp_path / name
    paths = candy_data.generate(str(out), seed, days, per_day)
    return out, paths


def _same_tree(a, b) -> bool:
    names = sorted(os.listdir(a))
    if names != sorted(os.listdir(b)):
        return False
    match, mismatch, errors = filecmp.cmpfiles(a, b, names, shallow=False)
    return not mismatch and not errors


def test_same_seed_gives_identical_bytes(tmp_path):
    a, _ = _gen(tmp_path, "a", 7)
    b, _ = _gen(tmp_path, "b", 7)
    assert _same_tree(a, b)


def test_different_seed_gives_different_inputs(tmp_path):
    a, _ = _gen(tmp_path, "a", 7)
    b, _ = _gen(tmp_path, "b", 8)
    assert sorted(os.listdir(a)) == sorted(os.listdir(b))
    assert not _same_tree(a, b)


def test_fixture_proportions(tmp_path):
    # dataset_5's shape: 10 days of 1,000 transactions
    out, paths = _gen(tmp_path, "a", 3)
    assert [os.path.basename(p) for p in paths][:2] == [
        "transactions_20240201.json",
        "transactions_20240202.json",
    ]
    s = candy_data.fixture_statistics(
        *read_inputs(paths, str(out / "products.csv"))
    )
    assert s["transactions"] == 10_000
    assert s["items_per_txn"] == (1, 5)
    assert 0.06 <= s["null_qty_share"] <= 0.09
    assert 0.012 <= s["all_null_share"] <= 0.025
    assert s["products"] == 36
    # a few sell-outs and ~0.44 % of priced lines cancelled (123 of
    # dataset_5's 27,841)
    assert 1 <= s["sold_out_products"] <= 6
    assert 0.0022 <= s["cancelled_share"] <= 0.0088
    assert s["equal_qty_ties"] > 0


def test_off_spec_inputs_are_refused(tmp_path):
    out, paths = _gen(tmp_path, "a", 3)
    days, products = read_inputs(paths, str(out / "products.csv"))
    for p in products.values():
        p["stock"] = 10**9  # nothing sells out
    with pytest.raises(ValueError, match="sold out"):
        candy_data.check_statistics(days, products)
