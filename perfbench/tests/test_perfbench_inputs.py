"""Seeded inputs and metric names: fast checks that need no Spark."""

from __future__ import annotations

import itertools
import json
import os
import re

import numpy as np
import pyarrow.parquet as pq

import gen
import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
NAME = re.compile(r"[A-Za-z0-9_.-]+")


def _files(d: str) -> dict[str, bytes]:
    out = {}
    for base, _, names in os.walk(d):
        for n in names:
            p = os.path.join(base, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def _inputs(seed: int, d: str) -> dict[str, bytes]:
    gen.write_inputs(seed, os.path.join(d, "tables"))
    events = pq.read_table(os.path.join(d, "tables", "events.parquet"))
    workloads.cut_stream(events, np.random.default_rng(seed), os.path.join(d, "stream"))
    return _files(d)


def _sequence(seed: int, passes: int) -> list[str]:
    q = workloads.QueryMix(seed, 1.0, "/nonexistent", None)
    return [name for p in itertools.islice(q._units(), passes) for name in p]


def test_same_seed_gives_identical_inputs_and_sequence(tmp_path):
    a = _inputs(7, str(tmp_path / "a"))
    b = _inputs(7, str(tmp_path / "b"))
    assert a.keys() == b.keys() and len(a) == len(gen.SIZES) + workloads.STREAM_FILES
    assert all(a[k] == b[k] for k in a)
    assert _sequence(7, 3) == _sequence(7, 3)


def test_other_seed_permutes_keys_not_sizes(tmp_path):
    a_dir, b_dir = str(tmp_path / "a"), str(tmp_path / "b")
    a, b = _inputs(7, a_dir), _inputs(8, b_dir)
    assert a.keys() == b.keys()
    for name in gen.SIZES:
        rel = os.path.join("tables", f"{name}.parquet")
        ta, tb = (pq.read_table(os.path.join(d, rel)) for d in (a_dir, b_dir))
        assert ta.num_rows == tb.num_rows == gen.SIZES[name]
        assert ta.schema == tb.schema
        key = gen.ENTITY_KEYS.get(name)
        if key is None:
            assert ta.equals(tb), name
            continue
        assert a[rel] != b[rel], name
        # the same value set, and the same rows once the keys are set aside
        ka, kb = (t.column(key).to_numpy() for t in (ta, tb))
        assert set(ka) == set(kb) and not np.array_equal(ka, kb), name
        assert ta.drop_columns([key]).equals(tb.drop_columns([key])), name
    assert pq.read_table(os.path.join(a_dir, "stream")).num_rows == gen.SIZES["events"]
    assert _sequence(7, 2) != _sequence(8, 2)
    assert sorted(_sequence(7, 1)) == sorted(workloads.QUERY_MIX)


def test_metric_names_and_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layers = {m["name"]: m["unit"] for m in spec["per_layer"]}
    assert e2e == run.END_TO_END
    assert layers == run.PER_LAYER
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    for name in [*e2e, *layers, *(w["name"] for w in spec["workloads"])]:
        assert NAME.fullmatch(name) and len(name) <= 64, name
    assert e2e["setup_s"] == "s"
