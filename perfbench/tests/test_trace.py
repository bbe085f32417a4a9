"""The event-log parser on a small recorded log (trimmed to the fields the
parser reads): three operations, one of them a two-job shuffle."""

import os

import eventlog

FIXTURE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "eventlog")


def _parsed():
    return eventlog.parse(eventlog.read_events(FIXTURE))


def test_event_files_are_found_in_write_order():
    files = eventlog.event_files(FIXTURE)
    assert [os.path.basename(f).split("_")[1] for f in files] == ["1", "2"]


def test_jobs_and_tasks_fold_per_job_group():
    g = _parsed()["groups"]
    assert g["t:shuffle:1"]["jobs"] == 2
    assert g["t:shuffle:1"]["stages"] == 2
    assert g["t:shuffle:1"]["tasks"] == 5           # 4 map + 1 reduce task
    assert g["t:shuffle:1"]["shuffle_write_b"] > 0
    assert g["t:count:2"]["jobs"] == 2
    assert g["t:count:2"]["tasks"] == 5
    assert g["check"]["jobs"] == 1
    assert g["t:write:3"]["output_b"] > 0
    assert all(x["run_ms"] > 0 and x["cpu_ns"] > 0 for x in g.values()
               if x["tasks"])


def test_op_layers_split_driver_time_from_job_time():
    parsed = _parsed()
    jobs = [j for j in parsed["jobs"].values() if j["group"] == "t:count:2"]
    lo = min(j["start"] for j in jobs)
    hi = max(j["end"] for j in jobs)
    span = {"group": "t:count:2", "t0": lo / 1e3 - 0.25, "t1": hi / 1e3 + 0.25}
    out = eventlog.op_layers(parsed, [span])
    busy = sum(j["end"] - j["start"] for j in jobs)   # the two do not overlap
    assert out["ops"] == 1 and out["jobs"] == 2 and out["tasks"] == 5
    assert abs(out["wall_ms"] - (hi - lo + 500.0)) < 1e-3
    assert abs(out["driver_ms"] - (hi - lo + 500.0 - busy)) < 1e-3


def test_call_sites_map_to_modules():
    assert eventlog.callsite_module(
        "collect at /w/vector_db_at_home_spark/store.py:455") == "store"
    assert eventlog.callsite_module("collect at /w/perfbench/workloads.py:9") == "bench"
    assert eventlog.callsite_module(
        "count at /w/vector_db_at_home_spark/operators/relational.py:3") == "other"
    assert eventlog.callsite_module(None) == "unknown"
    assert eventlog.callsite_module("count at NativeMethodAccessorImpl.java:0") \
        == "unknown"
    sites = eventlog.callsite_layers(_parsed(), {"t:shuffle:1", "t:count:2",
                                              "t:write:3"})
    assert sites["store"] > 0 and sites["bench"] > 0 and sites["fsutil"] > 0
    assert set(sites) == set(eventlog.CALLSITE_MODULES)


def test_busy_time_is_the_union_of_intervals():
    assert eventlog.busy_ms([(0, 10), (5, 20), (30, 40)], 0, 100) == 30
    assert eventlog.busy_ms([(0, 10), (5, 20)], 8, 12) == 4
    assert eventlog.busy_ms([], 0, 10) == 0
