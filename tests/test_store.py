"""VectorStore parity tests — ported from the reference suite
(/root/reference/test/tests.py, see FIXTURES.md).

Covers CRUD round-trips, dtype coercion/rejection, id allocation with holes,
delete warnings, persistence across reopen, kNN + fuzzy goldens through the
eager API, and the search/search_by_doc error asymmetry.
"""

from __future__ import annotations

import numpy as np
import pytest

from vector_db_at_home_spark.store import VectorStore

DIM = 10


def gen_docs(ns):
    # reference tests.py:25-27
    return [{f"k{n}": f"v{n}"} for n in ns]


@pytest.fixture()
def store(spark, tmp_path):
    return VectorStore(spark, tmp_path / "store", dim=DIM)


def test_insert_one_and_count(store):
    store.insert(np.ones((1, DIM), dtype=np.float32))
    assert store.count() == 1


def test_insert_many_and_head(store):
    store.insert(np.ones((5, DIM), dtype=np.float32), gen_docs(range(5)))
    assert store.count() == 5
    h = store.head(3)
    assert [r["id"] for r in h] == [0, 1, 2]
    assert h[1]["doc"] == {"k1": "v1"}
    np.testing.assert_array_equal(h[0]["vec"], np.ones(DIM, dtype=np.float32))


def test_insert_1d_reshape(store):
    # vector_store.py:112 — 1-D inputs auto-reshape to (-1, dim)
    store.insert(np.ones(DIM, dtype=np.float32))
    assert store.count() == 1


def test_insert_wrong_width_raises(store):
    with pytest.raises(ValueError):
        store.insert(np.ones((2, DIM + 1), dtype=np.float32))


def test_insert_doc_count_mismatch_raises(store):
    with pytest.raises(ValueError):
        store.insert(np.ones((2, DIM), dtype=np.float32), gen_docs([0]))


@pytest.mark.parametrize(
    "dtype", [np.float64, np.int32, np.int64, np.uint8, np.bool_, np.float16]
)
def test_coercible_dtypes_warn(store, dtype):
    # vector_store.py:34-55 — numeric dtypes coerce with UserWarning
    with pytest.warns(UserWarning, match="casting"):
        store.insert(np.ones((1, DIM), dtype=dtype))
    assert store.count() == 1


@pytest.mark.parametrize("bad", ["U5", "S5", np.complex64, object])
def test_rejected_dtypes_raise(store, bad):
    # vector_store.py:105-106 — str/bytes/complex/object raise ValueError
    arr = np.ones((1, DIM), dtype=bad) if bad != object else np.array(
        [[{"x": 1}] * DIM], dtype=object
    )
    with pytest.raises(ValueError):
        store.insert(arr)


def test_insert_dicts(store):
    store.insert_dicts(
        [{"vec": np.ones(DIM, dtype=np.float32), "doc": {"a": 1}},
         {"vec": np.zeros(DIM, dtype=np.float32), "doc": None}]
    )
    recs = store.select_ids([0, 1])
    assert recs[0].doc == {"a": 1}
    assert recs[1].doc == {}


def test_insert_dicts_non_serializable_raises(store):
    with pytest.raises(TypeError):
        store.insert_dicts(
            [{"vec": np.ones(DIM, dtype=np.float32), "doc": {"x": object()}}]
        )


def test_id_allocation_holes_never_reused(store):
    # reference tests.py:383-407 — delete middle, reinsert → max+1
    store.insert(np.ones((4, DIM), dtype=np.float32))
    store.delete([1, 2])
    store.insert(np.zeros((1, DIM), dtype=np.float32))
    ids = [r["id"] for r in store.head(10)]
    assert ids == [0, 3, 4]


def test_delete_missing_id_warns(store):
    store.insert(np.ones((2, DIM), dtype=np.float32))
    with pytest.warns(UserWarning, match="not present"):
        store.delete([0, 99])
    assert store.count() == 1


def test_delete_all(store):
    store.insert(np.ones((3, DIM), dtype=np.float32))
    store.delete([0, 1, 2])
    assert store.count() == 0
    assert store.dump_vecs().shape == (0, DIM)


def test_persistence_round_trip(spark, tmp_path):
    # reference tests.py:277-294 — reopen on same path preserves contents
    root = tmp_path / "persist"
    s1 = VectorStore(spark, root, dim=DIM)
    s1.insert(np.eye(DIM, dtype=np.float32), gen_docs(range(DIM)))
    s2 = VectorStore(spark, root, dim=DIM)
    assert s2.count() == DIM
    assert s2.select_ids([3])[0].doc == {"k3": "v3"}


def test_dump_vecs_id_order(store):
    # reference tests.py:516-543 — dump order == id order across delete+insert
    store.insert(np.array([[0] * DIM, [1] * DIM, [2] * DIM], dtype=np.float32))
    store.delete([1])
    store.insert(np.array([[3] * DIM], dtype=np.float32))
    out = store.dump_vecs()
    np.testing.assert_array_equal(out[:, 0], np.array([0, 2, 3], dtype=np.float32))


def test_search_goldens_through_api(store):
    # reference tests.py:195-224
    store.insert(np.eye(DIM, dtype=np.float32), gen_docs(range(DIM)))
    q = np.zeros(DIM, dtype=np.float32)
    q[3] = 0.5
    q[9] = 1.0
    res = store.search(q, k=2)
    assert len(res) == 1
    assert [r.id for r in res[0]] == [9, 3]
    assert res[0][0].distance == pytest.approx(0.5, rel=1e-5)
    assert res[0][1].distance == pytest.approx(1.118034, rel=1e-5)
    assert res[0][0].doc == {"k9": "v9"}


def test_search_k_gt_n_raises(store):
    store.insert(np.eye(DIM, dtype=np.float32))
    with pytest.raises(ValueError):
        store.search(np.zeros(DIM, dtype=np.float32), k=DIM + 1)


def test_search_empty_store_returns_empty(store):
    assert store.search(np.zeros(DIM, dtype=np.float32), k=1) == []


def test_query_by_doc_string_values(store):
    # reference tests.py:466-476
    store.insert(np.ones((5, DIM), dtype=np.float32), gen_docs(range(5)))
    recs = store.query_by_doc(["k1"], ["v1"])
    assert [r.id for r in recs] == [1]


def test_query_by_doc_int_values(store):
    # reference tests.py:478-486 — int values match JSON numbers
    store.insert(
        np.ones((4, DIM), dtype=np.float32), [{"id": i + 1} for i in range(4)]
    )
    recs = store.query_by_doc(["id"], [2, 4])
    assert [r.id for r in recs] == [1, 3]


def test_search_by_doc_goldens(store):
    # reference tests.py:545-565: store docs {"k0":"v0"}..{"k4":"v4"},
    # query {"1": "1"} → best hit id 1 at 9.0909..., others 27.2727...
    store.insert(np.ones((5, DIM), dtype=np.float32), gen_docs(range(5)))
    res = store.search_by_doc([{"1": "1"}], k=3)
    assert len(res) == 1
    assert res[0][0].id == 1
    assert res[0][0].distance == pytest.approx(100 * 2 / 22, abs=1e-9)
    assert res[0][1].distance == pytest.approx(100 * 6 / 22, abs=1e-9)


def test_search_by_doc_bare_string(store):
    # reference tests.py:589-598: 'v4' → id 4 at 71.4285..., next 85.7142...
    store.insert(np.ones((5, DIM), dtype=np.float32), gen_docs(range(5)))
    res = store.search_by_doc(["v4"], k=2)
    assert res[0][0].id == 4
    assert res[0][0].distance == pytest.approx(100 * 10 / 14, abs=1e-9)
    assert res[0][1].distance == pytest.approx(100 * 12 / 14, abs=1e-9)


def test_search_by_doc_k_zero_raises(store):
    # reference tests.py:600-607
    store.insert(np.ones((2, DIM), dtype=np.float32))
    with pytest.raises(ValueError):
        store.search_by_doc(["x"], k=0)


def test_search_by_doc_k_gt_n_truncates(store):
    # reference tests.py:609-617 — asymmetry with search: no error
    store.insert(np.ones((3, DIM), dtype=np.float32), gen_docs(range(3)))
    res = store.search_by_doc(["x"], k=10)
    assert len(res[0]) == 3


def test_compact_reduces_files_preserves_data(spark, tmp_path):
    import glob

    from vector_db_at_home_spark.store import VectorStore

    vs = VectorStore(spark, tmp_path / "cp", dim=4)
    for i in range(6):  # 6 separate inserts -> many small files
        vs.insert(np.full((2, 4), i, dtype=np.float32))
    before_files = len(glob.glob(str(tmp_path / "cp" / "v*" / "part-*")))
    before_rows = sorted((r["id"], tuple(r["vec"])) for r in vs.head(100))
    v = vs.compact(target_partitions=1)
    new_dir = tmp_path / "cp" / f"v{v:06d}"
    after_files = len(glob.glob(str(new_dir / "part-*")))
    assert after_files < before_files
    assert after_files == 1
    after_rows = sorted((r["id"], tuple(r["vec"])) for r in vs.head(100))
    assert before_rows == after_rows
    # old version still readable (time travel preserved)
    assert vs.df_at_version(v - 1).count() == 12


def test_upsert_updates_and_inserts(store):
    store.insert(np.ones((3, DIM), dtype=np.float32), gen_docs(range(3)))
    # update id 1, insert id 7 (explicit-id semantics, hole allowed)
    store.upsert(
        [1, 7],
        np.full((2, DIM), 9.0, dtype=np.float32),
        [{"updated": True}, {"new": True}],
    )
    recs = {r.id: r for r in store.select_ids([0, 1, 2, 7])}
    assert recs[0].doc == {"k0": "v0"}          # untouched
    assert recs[1].doc == {"updated": True}      # replaced
    assert recs[1].vec[0] == 9.0
    assert recs[7].doc == {"new": True}          # inserted at explicit id
    assert store.count() == 4
    # next max+1 insert continues after the explicit id
    store.insert(np.zeros((1, DIM), dtype=np.float32))
    assert [r["id"] for r in store.head(10)] == [0, 1, 2, 7, 8]


def test_upsert_length_mismatch_raises(store):
    store.insert(np.ones((1, DIM), dtype=np.float32))
    with pytest.raises(ValueError):
        store.upsert([1, 2], np.ones((1, DIM), dtype=np.float32))


def test_vacuum_retention(spark, tmp_path):
    """vacuum drops old snapshots, keeps the newest keep_last (current
    always retained), time travel to retained versions still works, and
    the live table is untouched."""
    import numpy as np
    import pytest

    from vector_db_at_home_spark.store import VectorStore

    store = VectorStore(spark, tmp_path / "vac", dim=2)
    store.insert(np.array([[1.0, 0.0]], dtype=np.float32))
    v0 = store._current_version()
    store.delete([0])        # new version
    store.insert(np.array([[0.0, 1.0]], dtype=np.float32))
    store.compact(1)         # another new version
    all_versions = store.versions()
    assert len(all_versions) >= 3

    with pytest.raises(ValueError):
        store.vacuum(keep_last=0)

    removed = store.vacuum(keep_last=2)
    assert removed == sorted(all_versions)[:-2]
    assert v0 in removed
    kept = store.versions()
    assert len(kept) == 2
    assert store._current_version() in kept
    # live reads and retained time travel unaffected
    assert store.count() == 1
    assert store.df_at_version(kept[0]).count() >= 0
    with pytest.raises(ValueError):
        store.df_at_version(removed[0])


def test_diff_change_feed(spark, tmp_path):
    """diff(v1, v2) recovers the exact insert/delete delta between
    snapshots — the change feed incremental consumers (index syncs,
    replication) read instead of rescanning."""
    import numpy as np

    from vector_db_at_home_spark.store import VectorStore

    store = VectorStore(spark, tmp_path / "feed", dim=2)
    store.insert(np.array([[1.0, 0.0], [0.0, 1.0], [1.0, 1.0]],
                          dtype=np.float32))
    v1 = store._current_version()
    store.delete([1])
    store.insert(np.array([[2.0, 2.0]], dtype=np.float32))
    changes = [(r.change, r.id) for r in store.diff(v1).collect()]
    assert changes == [("delete", 1), ("insert", 3)]
    # identity diff is empty; explicit to_version works
    assert store.diff(v1, v1).count() == 0
    v_now = store._current_version()
    assert [(r.change, r.id) for r in store.diff(v1, v_now).collect()] \
        == changes


def test_warm_search_is_one_job_and_count_none(spark, tmp_path, jobs_run):
    """A warm store answers ``search`` (1 or 16 queries) with one Spark job
    and ``count`` with none: no count job, no broadcast, no shuffle, no
    payload join."""
    rng = np.random.default_rng(7)
    vs = VectorStore(spark, tmp_path / "jobs", dim=DIM)
    vs.insert(rng.standard_normal((200, DIM)).astype(np.float32),
              gen_docs(range(200)))
    q16 = rng.standard_normal((16, DIM)).astype(np.float32)
    vs.search(q16[:1], k=5)  # fills the cache
    res, jobs = jobs_run(lambda: vs.search(q16[:1], k=5))
    assert jobs == 1 and len(res) == 1 and len(res[0]) == 5
    res, jobs = jobs_run(lambda: vs.search(q16, k=5))
    assert jobs == 1 and len(res) == 16
    n, jobs = jobs_run(vs.count)
    assert (n, jobs) == (200, 0)


def test_warm_search_by_doc_is_one_job(spark, tmp_path, jobs_run):
    """A warm store answers ``search_by_doc`` (1 or 3 queries) with one
    Spark job: no band, no window, no payload join."""
    vs = VectorStore(spark, tmp_path / "fjobs", dim=DIM)
    vs.insert(np.ones((50, DIM), dtype=np.float32), gen_docs(range(50)))
    vs.search_by_doc(["v4"], k=3)  # fills the cache
    res, jobs = jobs_run(lambda: vs.search_by_doc(["v4"], k=3))
    assert jobs == 1 and len(res) == 1 and res[0][0].id == 4
    res, jobs = jobs_run(
        lambda: vs.search_by_doc([{"1": "1"}, "v4", "k7"], k=5))
    assert jobs == 1 and [len(r) for r in res] == [5, 5, 5]


def _expr_knn(spark, vs, queries, k):
    """Per query, the (id, distance) list of ``knn_search(impl="expr")``
    over ``vs.df()``."""
    from vector_db_at_home_spark.operators.knn import knn_search

    qdf = spark.createDataFrame(
        [(i, [float(x) for x in q]) for i, q in enumerate(queries)],
        "query_id long, qvec array<float>",
    )
    out = [[] for _ in queries]
    for r in knn_search(vs.df(), qdf, k, impl="expr").collect():
        out[r.query_id].append((r.id, r.distance))
    return out


def test_search_exact_vs_expr_knn(spark, tmp_path):
    """``search`` equals ``knn_search(impl="expr")`` exactly — same ids in
    the same order, ``==`` distances — over a multi-file store with
    exact-duplicate vectors; exact ties rank by ascending id."""
    rng = np.random.default_rng(11)
    vs = VectorStore(spark, tmp_path / "exact", dim=DIM)
    base = rng.standard_normal((60, DIM)).astype(np.float32)
    for lo in range(0, 60, 15):  # 4 inserts -> several files and batches
        batch = base[lo:lo + 15]
        vs.insert(np.concatenate([batch, batch[:3]]))  # 3 exact duplicates
    # three more copies of base[0] (ids 0 and 15), written out of id order
    vs.upsert([90, 70, 80], np.repeat(base[:1], 3, axis=0))
    stored = vs.dump_vecs()
    n = len(stored)
    queries = np.concatenate([stored[::9][:8],
                              rng.standard_normal((8, DIM)).astype(np.float32)])

    for k in (7, n):
        got = [[(r.id, r.distance) for r in recs]
               for recs in vs.search(queries, k)]
        assert got == _expr_knn(spark, vs, queries, k)
        for recs in got:
            for (i0, d0), (i1, d1) in zip(recs, recs[1:]):
                assert d0 < d1 or (d0 == d1 and i0 < i1)
    # one file, so one Arrow batch holds the whole 5-way tie (ids 0, 15,
    # 70, 80, 90, upserted out of id order); cut at k=3 it keeps the three
    # lowest ids
    vs.compact(target_partitions=1)
    assert [(r.id, r.distance) for r in vs.search(base[:1], 3)[0]] \
        == [(0, 0.0), (15, 0.0), (70, 0.0)]

    vs.delete([int(r.id) for r in vs.df().select("id").collect()])
    assert vs.search(queries, 1) == []


def test_search_exact_when_summation_order_matters(spark, tmp_path):
    """At width 32 with components near 1e4 and 1e-1 the float64 sum of
    the float32 squares depends on its order, so only a left-to-right fold
    keeps ``search`` distances ``==`` to ``knn_search(impl="expr")``."""
    width = 32
    rng = np.random.default_rng(5)

    def mixed(m):
        scale = np.where(rng.random((m, width)) < 0.5, 1e4, 1e-1)
        return (rng.standard_normal((m, width)) * scale).astype(np.float32)

    stored = mixed(40)
    queries = np.concatenate([stored[:8], mixed(8)])
    # the data must tell the orders apart: pairwise ``sum`` != sequential
    diff = stored[None, :, :] - queries[:, None, :]
    sq = (diff * diff).astype(np.float64)
    assert (np.sqrt(np.sum(sq, axis=2))
            != np.sqrt(np.cumsum(sq, axis=2)[..., -1])).sum() > 50

    vs = VectorStore(spark, tmp_path / "wide", dim=width)
    vs.insert(stored[:25])
    vs.insert(stored[25:])
    k = len(stored)
    got = [[(r.id, r.distance) for r in recs] for recs in vs.search(queries, k)]
    assert got == _expr_knn(spark, vs, queries, k)


def test_reads_see_other_writers(spark, tmp_path):
    """Two stores on one root: ``a`` sees ``b``'s insert, ``b``'s delete and
    a direct append into the snapshot dir (what ``stream_into_store`` does)
    on its next read — the cache key is (version, part files), not the
    version alone."""
    from vector_db_at_home_spark.schema import VECTOR_SCHEMA

    root = tmp_path / "shared"
    a = VectorStore(spark, root, dim=DIM)
    b = VectorStore(spark, root, dim=DIM)
    a.insert(np.eye(DIM, dtype=np.float32))
    assert a.count() == DIM
    far = np.full((1, DIM), 50.0, dtype=np.float32)

    b.insert(far, [{"from": "b"}])
    assert a.count() == DIM + 1
    hit = a.search(far, 1)[0][0]
    assert (hit.id, hit.distance, hit.doc) == (DIM, 0.0, {"from": "b"})

    b.delete([DIM])
    assert a.count() == DIM
    assert a.search(far, 1)[0][0].id != DIM

    spark.createDataFrame(
        [(99, [60.0] * DIM, '{"from": "append"}')], VECTOR_SCHEMA
    ).write.mode("append").parquet(a._snapshot_dir(a._current_version()))
    assert a.count() == DIM + 1
    hit = a.search(np.full((1, DIM), 60.0, dtype=np.float32), 1)[0][0]
    assert (hit.id, hit.doc) == (99, {"from": "append"})
    assert [r.id for r in a.select_ids([99])] == [99]
