"""Tests for the benchmark's own code (no Spark session needed).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import re
import sys

import numpy as np
import pandas as pd
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import run  # noqa: E402
import workloads as W  # noqa: E402
from sparkmetrics import Plan, parse_metric  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


@pytest.mark.parametrize(
    "text, value",
    [
        ("15,000", 15000.0),
        ("4", 4.0),
        ("1.5", 1.5),
        ("0.0 B", 0.0),
        ("987.7 KiB", 987.7 * 1024),
        ("9.8 MiB", 9.8 * 2**20),
        ("2.0 GiB", 2.0 * 2**30),
        ("1.0 s", 1.0),
        ("61 ms", 0.061),
        ("1.2 m", 72.0),
        ("total (min, med, max (stageId: taskId))\n1045.1 KiB "
         "(259.6 KiB, 261.7 KiB, 262.4 KiB (stage 7.0: task 9))", 1045.1 * 1024),
        ("total (min, med, max (stageId: taskId))\n4.5 s "
         "(732 ms, 1.2 s, 1.4 s (stage 42.0: task 67))", 4.5),
        (None, 0.0),
    ],
)
def test_parse_metric(text, value):
    assert parse_metric(text) == pytest.approx(value)


@pytest.mark.parametrize("text", ["", "n/a", "3 parsecs"])
def test_parse_metric_rejects_unknown(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def _plan(nodes, edges):
    return Plan({i: (name, m) for i, (name, m) in nodes.items()}, edges)


def test_plan_rows_and_candidates_when_join_evaluates_the_refine():
    # sink <- Project <- BroadcastHashJoin(cond) <- {Filter(probe), BroadcastExchange}
    p = _plan(
        {
            0: ("OverwriteByExpression", {}),
            1: ("Project", {}),
            2: ("BroadcastHashJoin", {"number of output rows": 90.0}),
            3: ("Project", {}),
            4: ("Filter", {"number of output rows": 900.0}),
            5: ("BroadcastExchange", {"number of output rows": 100.0}),
        },
        [(1, 0), (2, 1), (3, 2), (4, 3), (5, 2)],
    )
    assert p.rows_out() == 90.0
    assert p.candidates() == 900.0


def test_plan_candidates_when_a_refine_node_consumes_the_join():
    p = _plan(
        {
            0: ("HashAggregate", {"number of output rows": 5.0}),
            1: ("MapInPandas", {"number of output rows": 5.0}),
            2: ("Project", {}),
            3: ("SortMergeJoin", {"number of output rows": 700.0}),
            4: ("Scan parquet", {"number of output rows": 50.0}),
        },
        [(1, 0), (2, 1), (3, 2), (4, 3)],
    )
    assert p.rows_out() == 5.0
    assert p.candidates() == 700.0
    assert p.total("number of output rows") == 760.0


def test_plan_without_join_has_no_candidates():
    p = _plan({0: ("Scan parquet", {"number of output rows": 3.0})}, [])
    assert p.candidates() is None
    assert p.rows_out() == 3.0


def _read(tmp_path, seed, sizes):
    out = tmp_path / f"s{seed}"
    info = gen.write_inputs(str(out), sizes, seed)
    return info, {t: pq.read_table(out / f"{t}.parquet").to_pandas() for t in sizes}


SIZES = {"orders": 3000, "documents": 200, "embeddings": 120}


@pytest.mark.parametrize("seed", [0, 1, 7, 123456])
def test_generator_is_deterministic_per_seed(tmp_path, seed):
    info_a, a = _read(tmp_path / "a", seed, SIZES)
    info_b, b = _read(tmp_path / "b", seed, SIZES)
    assert info_a == info_b
    for t in SIZES:
        assert info_a[t]["rows"] == SIZES[t]
        pd.testing.assert_frame_equal(a[t], b[t])


def test_seed_moves_inputs_but_keeps_the_key_mixes(tmp_path):
    _, a = _read(tmp_path, 1, SIZES)
    _, b = _read(tmp_path, 2, SIZES)
    ka, kb = a["orders"]["o_orderkey"].to_numpy(), b["orders"]["o_orderkey"].to_numpy()
    assert not np.array_equal(ka, kb)
    assert a["documents"]["text"].tolist() != b["documents"]["text"].tolist()
    for mod in (3, 4, 10, 16, 20, 50, 100, 1000):
        assert np.array_equal(np.bincount(ka % mod, minlength=mod), np.bincount(kb % mod, minlength=mod))
    # dangling link targets (k + 1e9) never collide with real keys
    assert gen.key_offset(10**9) + SIZES["orders"] < 10**9


def test_frames_mismatch_is_order_insensitive():
    left = pd.DataFrame({"b": [2.0, 1.0], "a": ["y", "x"]})
    right = pd.DataFrame({"a": ["x", "y"], "b": [1.0, 2.0]})
    assert run.frames_mismatch(left, right) is None
    assert "mismatch" in run.frames_mismatch(left, right.assign(a=["x", "z"]))
    assert "row count" in run.frames_mismatch(left, right.head(1))


def test_metric_names_units_and_caps():
    e2e, per_layer = W.END_TO_END, W.per_layer_metrics()
    assert 1 <= len(e2e) <= 16 and 1 <= len(per_layer) <= 128
    for name, unit in {**e2e, **per_layer}.items():
        assert NAME.match(name), name
        assert UNIT.match(unit), unit
    assert not set(e2e) & set(per_layer)
    assert e2e["setup_s"] == "s"


def test_benchmark_json_matches_the_catalogue():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(W.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == W.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == W.per_layer_metrics()
    for w in spec["workloads"]:
        assert w["why"] == W.WORKLOADS[w["name"]].why and len(w["why"]) <= 200


def test_every_op_is_a_registered_query_with_an_oracle():
    sys.path.insert(0, os.path.dirname(HERE))
    from fagi_gis_spark import registry

    oracles = registry.oracle_sql()
    for wl in W.WORKLOADS.values():
        for op, query in wl.ops:
            assert NAME.match(op) and query in oracles, (op, query)


def test_await_exit_finds_and_ends_child_processes():
    import subprocess

    child = subprocess.Popen([sys.executable, "-c", "import time; time.sleep(60)"])
    try:
        tree = run.descendants(os.getpid())
        assert child.pid in {pid for pid, _ in tree}
        run.await_exit(tree, grace_s=0.0)
        assert child.wait(timeout=10) != 0
    finally:
        child.kill()
        child.wait()
