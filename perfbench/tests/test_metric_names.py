import json
import math
import os
import re

import pytest

import run

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
BENCHMARK = os.path.join(run.ROOT, "BENCHMARK.json")


def test_every_metric_name_and_unit_is_well_formed():
    end_to_end, per_layer = run.declared_metrics()
    for table in (end_to_end, per_layer):
        for name, unit in table.items():
            assert NAME.match(name), name
            assert UNIT.match(unit), (name, unit)
    assert not set(end_to_end) & set(per_layer)


def test_benchmark_json_workloads_and_bounds():
    with open(BENCHMARK) as f:
        bench = json.load(f)
    for w in bench["workloads"]:
        assert w["name"] in run.WORKLOAD_NAMES and NAME.match(w["name"])
    setup = next(m for m in bench["end_to_end"] if m["name"] == "setup_s")
    assert setup["better"] == "lower"
    assert setup["bound"] == max(m["bound"] for m in bench["end_to_end"])


def test_workload_names_match_the_implementations():
    import workloads

    assert set(run.WORKLOAD_NAMES) == set(workloads.WORKLOADS)


def test_geomean():
    assert run.geomean([1.0, 4.0, 16.0]) == pytest.approx(4.0)
    assert math.isclose(run.geomean([2.0] * 9), 2.0)
