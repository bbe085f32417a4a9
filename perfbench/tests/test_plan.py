"""Seed determinism of the data and the operation sequences, the tail rule,
and the metric names BENCHMARK.json declares."""

import itertools
import json
import os

import numpy as np

import run
import workloads

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _kinds(cls, seed, n=80):
    wl = cls(None, "/nonexistent", seed)
    return list(itertools.islice(wl.kinds(), n))


def test_operation_sequences_follow_the_seed():
    for cls in (workloads.StoreServe, workloads.StoreIngest,
                workloads.BatchAnalytics):
        assert _kinds(cls, 3) == _kinds(cls, 3)
        assert _kinds(cls, 3) != _kinds(cls, 4)


def test_store_serve_mix_is_fixed_per_block():
    block = _kinds(workloads.StoreServe, 9, 20)
    assert block.count("search1") == 8
    assert all(block.count(k) == 3 for k in ("search16", "search_by_doc",
                                             "select_ids", "query_by_doc"))


def test_store_ingest_compacts_every_25th_write():
    kinds = _kinds(workloads.StoreIngest, 1, 120)
    writes = [k for k in kinds if k != "search_after_write"]
    assert [i for i, k in enumerate(writes, 1) if k == "compact"] == [12, 37, 62]


def test_operation_inputs_follow_the_seed():
    a = workloads.StoreServe(None, "/x", 5)
    b = workloads.StoreServe(None, "/x", 5)
    for wl in (a, b):
        wl.shadow.insert(*wl._initial())
    assert np.array_equal(a._queries(16), b._queries(16))
    ba, bb = (workloads.BatchAnalytics(None, "/x", s) for s in (5, 5))
    assert ba.knn_ids == bb.knn_ids and ba.fuzzy_q == bb.fuzzy_q
    assert ba.admit.shards == bb.admit.shards
    assert ba.knn_ids != workloads.BatchAnalytics(None, "/x", 6).knn_ids


def test_admit_state_and_shards_split_the_documents():
    for seed in (1, 2):
        admit = workloads.AdmitLoop(None, "/x", seed)
        assert sorted(admit.corpus + admit.shards) == list(range(workloads.SLICES))
        assert len(admit.corpus) == len(admit.shards)
    assert (workloads.AdmitLoop(None, "/x", 1).shards
            != workloads.AdmitLoop(None, "/x", 2).shards)


def test_p90_needs_ten_samples_beyond_it():
    assert run.p90(list(range(99))) is None
    assert run.p90(list(range(100))) == 89
    assert run.p90(list(range(200))) == 179
    assert run.p90([5.0] * 10) is None
    assert run.p90([]) is None


def test_benchmark_json_names_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {w["name"] for w in spec["workloads"]} == set(workloads.WORKLOADS)
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_UNITS
