"""Benchmark-local tests: generator determinism, tail-percentile sample
counting, and metric-name validity.  They start no Spark session.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import hashlib
import inspect
import json
import os
import sys
from datetime import date

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import bronze  # noqa: E402
from measure import NAME_RE, TAIL_MIN_BEYOND, UNIT_RE, quantile, tail  # noqa: E402
from run import E2E_UNITS, layer_unit  # noqa: E402
import workloads  # noqa: E402
from workloads import LAYER_KEYS, WORKLOADS  # noqa: E402


def _tree_digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, files in sorted(os.walk(root)):
        dirnames.sort()
        for f in sorted(files):
            p = os.path.join(dirpath, f)
            h.update(os.path.relpath(p, root).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def _gen(tmp, seed):
    out = str(tmp / f"s{seed}-{len(os.listdir(tmp))}")
    counts = bronze.generate(out, seed, [date(2026, 2, 23), date(2026, 2, 24)], 3, 200)
    return out, counts


def test_generator_same_seed_is_byte_identical(tmp_path):
    a, ca = _gen(tmp_path, 7)
    b, cb = _gen(tmp_path, 7)
    assert ca == cb
    assert _tree_digest(a) == _tree_digest(b)


def test_generator_seed_changes_the_corpus(tmp_path):
    a, _ = _gen(tmp_path, 7)
    b, _ = _gen(tmp_path, 8)
    assert _tree_digest(a) != _tree_digest(b)


def test_generator_layout_and_dirt(tmp_path):
    out, counts = _gen(tmp_path, 3)
    day = os.path.join(out, "WAW", "year=2026", "month=02", "day=23")
    files = sorted(os.listdir(day))
    assert len(files) == 3 and files[0] == "WAW_20260223_060000.json"
    with open(os.path.join(day, files[0])) as f:
        recs = json.load(f)["result"]
    assert {"Lines", "VehicleNumber", "Lat", "Lon", "Time", "Brigade"} <= set(recs[0])
    assert counts["files"] == 6 and counts["records"] >= 6 * 200
    big = bronze.generate(str(tmp_path / "big"), 1, [date(2026, 2, 23)], 8, 1400)
    assert all(big["dirt"][k] > 0 for k in bronze.DIRT), big["dirt"]


def test_tail_counts_samples_beyond():
    xs = [float(i) for i in range(100)]
    t = tail(xs)
    assert t["beyond"] >= TAIL_MIN_BEYOND and t["n"] == 100
    assert t["pct"] == 90.0  # p90 = 89.1 leaves 10 above it; p95 leaves 5
    xs = [float(i) for i in range(200)]
    assert tail(xs)["pct"] == 95.0  # p95 = 189.05 leaves 10 above
    assert sum(1 for x in xs if x > quantile(xs, 99.0)) < TAIL_MIN_BEYOND
    assert tail([float(i) for i in range(20)])["pct"] == 50.0


def test_tail_without_enough_samples_is_the_max():
    t = tail([3.0, 1.0, 2.0])
    assert t == {"pct": 100.0, "value": 3.0, "beyond": 0, "n": 3}
    assert tail([1.0] * 50)["pct"] == 100.0  # ties: nothing lies beyond


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    e2e = {m["name"]: m for m in spec["end_to_end"]}
    layers = {m["name"]: m for m in spec["per_layer"]}
    assert set(e2e) == set(E2E_UNITS)
    assert set(layers) == set(LAYER_KEYS)
    assert {w["name"] for w in spec["workloads"]} == set(WORKLOADS)
    for name, m in list(e2e.items()) + list(layers.items()):
        assert NAME_RE.match(name), name
        assert UNIT_RE.match(m["unit"]), m
    for name, m in e2e.items():
        assert m["unit"] == E2E_UNITS[name]
        assert 0 < m["bound"] <= 0.25
    for name, m in layers.items():
        assert m["unit"] == layer_unit(name)
    assert len(set(e2e) | set(layers)) == len(e2e) + len(layers)
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())


def test_predictions_name_real_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    with open(os.path.join(HERE, "predictions.json")) as f:
        pred = json.load(f)
    e2e = {m["name"] for m in spec["end_to_end"]}
    layers = {m["name"] for m in spec["per_layer"]}
    covered = set()
    for p in pred["predictions"]:
        assert set(p["layers"]) <= layers, p
        assert set(p["moves"]) <= e2e, p
        assert set(p["workloads"]) <= set(WORKLOADS), p
        covered |= set(p["layers"])
    # trace.* measures the tracer and client.* are the wall-clock twins of
    # the end-to-end metrics: neither is a layer
    assert covered == {k for k in layers if not k.startswith(("trace.", "client."))}
    # the Bronze shape recorded for readers is the one the generator uses
    shape = pred["bronze"]
    assert shape["dirt_rates"] == bronze.DIRT
    assert shape["vehicles"] == workloads.MEDALLION_VEHICLES
    assert shape["snapshots_per_date"] == workloads.MEDALLION_SNAPSHOTS
    assert shape["dates"] == workloads.MEDALLION_DAYS
    step = inspect.signature(bronze.snapshot_plan).parameters["step_min"].default
    assert shape["snapshot_step_min"] == step
