"""Tests of the benchmark's own parts (no Spark needed)::

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
from common import tail  # noqa: E402
from layers import WORKLOADS, END_TO_END, PER_LAYER  # noqa: E402
from tracing import MemSampler, Tracer  # noqa: E402


def _tree_bytes(root: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(root):
        for name in files:
            path = os.path.join(dirpath, name)
            with open(path, "rb") as f:
                out[os.path.relpath(path, root)] = f.read()
    return out


def _inputs(out: str, seed: int) -> dict[str, bytes]:
    gen.write_log(os.path.join(out, "log"), gen.events_table(seed, 5_000, 1_000, 1.1))
    gen.write_sf_dir(os.path.join(out, "sf"), gen.events_table(seed, 2_000, 200), seed + 1, 500)
    return _tree_bytes(out)


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 7)
    assert sorted(a) == [
        "log/part-00000.parquet", "log/part-00001.parquet",
        "log/part-00002.parquet", "log/part-00003.parquet",
        "sf/events.parquet", "sf/orders.parquet",
    ]
    assert a == b


def test_another_seed_gives_other_inputs(tmp_path):
    a = _inputs(str(tmp_path / "a"), 7)
    b = _inputs(str(tmp_path / "b"), 8)
    assert all(a[name] != b[name] for name in a)


def test_log_shape_matches_the_events_fixture():
    t = gen.events_table(3, 20_000, 500)
    assert t.schema == gen.EVENTS_SCHEMA
    ids = t.column("event_id").to_numpy()
    ts = t.column("ts").cast("int64").to_numpy()
    assert (np.diff(ids) == 1).all() and (np.diff(ts) > 0).all()
    types = set(t.column("event_type").to_pylist())
    assert types == {"signup", "click", "error", "view", "purchase"}
    assert 0 <= min(t.column("value").to_pylist()) <= max(t.column("value").to_pylist()) <= 560.21


def test_zipf_keys_are_skewed_and_uniform_keys_are_not():
    def top_share(zipf_s: float) -> float:
        uid = gen.events_table(5, 50_000, 10_000, zipf_s).column("user_id").to_numpy()
        return np.bincount(uid).max() / len(uid)

    assert top_share(1.1) > 0.05
    assert top_share(0.0) < 0.001


def test_log_properties_count_live_rows_and_keys_per_batch():
    t = gen.events_table(9, 4_000, 300)
    uid = t.column("user_id").to_pylist()
    etype = t.column("event_type").to_pylist()
    last = {}
    for k, e in zip(uid, etype):
        last[k] = e
    props = gen.log_properties(t, batch_cap=1_000)
    assert props["distinct_keys"] == len(last)
    assert props["live_rows"] == sum(e != "error" for e in last.values())
    assert props["keys_per_batch_p50"] <= 300


def test_tail_is_the_highest_percentile_with_ten_samples_above():
    xs = list(range(1, 101))
    value, pct, n = tail(xs)
    assert (value, n) == (90, 100) and pct == pytest.approx(90.0)
    assert sum(x > value for x in xs) == 10
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 3)


def test_self_time_subtracts_the_union_of_children():
    tr = Tracer("t", enabled=True)
    tr.spans = [
        {"id": 0, "name": "root", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "a", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "a", "parent": 0, "start": 3.0, "end": 5.0},
        {"id": 3, "name": "b", "parent": 1, "start": 2.0, "end": 3.0},
    ]
    assert tr.self_times() == pytest.approx({"root": 6.0, "a": 4.0, "b": 1.0})


def test_memory_sampler_counts_this_process():
    with MemSampler() as mem:
        pass
    assert mem.peak > 0 and mem.workers_peak == 0


def test_benchmark_json_lists_the_catalogue():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as f:
        doc = json.load(f)
    assert [w["name"] for w in doc["workloads"]] == list(WORKLOADS)
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["end_to_end"]} == END_TO_END
    assert {m["name"]: (m["unit"], m["better"]) for m in doc["per_layer"]} == {
        name: spec[:2] for name, spec in PER_LAYER.items()
    }
    setup = next(m for m in doc["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in doc["end_to_end"])
