"""NN-descent k-NN graph tests: clustered recall, determinism, shape."""

from __future__ import annotations

import numpy as np
from pyspark.sql import functions as F


def _clustered(n_clusters=10, per=20, dim=16):
    """Deterministic tight clusters: center c at 10*e_{c mod dim}, member
    offsets from a fixed hash-ish formula (no RNG state)."""
    rows = []
    for c in range(n_clusters):
        center = np.zeros(dim)
        center[c % dim] = 10.0 * (c + 1)
        for j in range(per):
            off = np.array([((i * 2654435761 + j * 40503 + c * 69069)
                             % 1000) / 10000.0 for i in range(dim)])
            rows.append((c * per + j, [float(x) for x in center + off]))
    return rows


def test_nndescent_clustered_recall_and_determinism(spark):
    from vector_db_at_home_spark.operators.knngraph import (
        knn_graph_nndescent,
    )

    df = spark.createDataFrame(_clustered(),
                               "id long, vec array<double>")
    g1 = knn_graph_nndescent(df, "id", "vec", k=5).collect()
    # every node has exactly k neighbors, none itself
    by_src = {}
    for r in g1:
        by_src.setdefault(r.src, []).append(r)
        assert r.src != r.dst and r.d2 >= 0.0
    assert len(by_src) == 200
    assert all(len(v) == 5 for v in by_src.values())
    # clusters are separated by >= 10 in one axis while intra-cluster
    # offsets are < 0.1 per axis: converged neighbors must be in-cluster
    same = sum(1 for r in g1 if r.src // 20 == r.dst // 20)
    assert same / len(g1) >= 0.95
    # determinism: a second full build returns the identical edge set
    g2 = knn_graph_nndescent(df, "id", "vec", k=5).collect()
    assert {(r.src, r.dst) for r in g1} == {(r.src, r.dst) for r in g2}


def test_nndescent_isolated_bucket_recovery(spark):
    """A node alone in both init buckets is practically impossible at
    n=60/bsz=16, but even sparse inits must leave every node with a full
    neighbor list after the reverse-edge rounds."""
    from vector_db_at_home_spark.operators.knngraph import (
        knn_graph_nndescent,
    )

    df = spark.createDataFrame(
        [(i, [float(i), float(i % 7)]) for i in range(60)],
        "id long, vec array<double>",
    )
    g = knn_graph_nndescent(df, "id", "vec", k=3,
                            init_bucket_size=4).collect()
    srcs = {r.src for r in g}
    assert srcs == set(range(60))


def test_nndescent_rho_sampling_trades_recall_for_candidates(spark):
    """rho < 1 must still return full k-lists and keep clustered
    neighbors mostly in-cluster (graceful degradation), and rho=1.0
    behaves like no sampling."""
    from vector_db_at_home_spark.operators.knngraph import (
        knn_graph_nndescent,
    )

    df = spark.createDataFrame(_clustered(),
                               "id long, vec array<double>")
    full = knn_graph_nndescent(df, "id", "vec", k=5).collect()
    samp = knn_graph_nndescent(df, "id", "vec", k=5, rho=0.5).collect()
    one = knn_graph_nndescent(df, "id", "vec", k=5, rho=1.0).collect()
    assert {(r.src, r.dst) for r in one} == {(r.src, r.dst) for r in full}

    by_src = {}
    for r in samp:
        by_src.setdefault(r.src, []).append(r)
    assert len(by_src) == 200 and all(len(v) == 5 for v in by_src.values())
    same = sum(1 for r in samp if r.src // 20 == r.dst // 20)
    assert same / len(samp) >= 0.8   # degraded but still structured


def test_graph_ann_search_beam_finds_exact_neighbors(spark):
    """Beam search over the built graph recovers the exact top-k for
    clustered data (queries drawn from the indexed set; self excluded),
    and is deterministic."""
    from vector_db_at_home_spark.operators.knngraph import (
        graph_ann_search,
        knn_graph_nndescent,
    )

    df = spark.createDataFrame(_clustered(),
                               "id long, vec array<double>")
    graph = knn_graph_nndescent(df, "id", "vec", k=8)
    qs = df.filter(F.col("id").isin([0, 37, 111, 185])).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec"))
    res = graph_ann_search(df, graph, qs, k=4).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 37, 111, 185}
    for qid, rows in by_q.items():
        assert len(rows) == 4
        # the query's own node is nearest at distance 0
        best = min(rows, key=lambda r: (r.distance, r.id))
        assert best.id == qid and abs(best.distance) < 1e-12
        # clusters are 10 apart; everything found is in-cluster
        assert all(r.id // 20 == qid // 20 for r in rows)
    # exact agreement on the neighbor sets: brute-force in numpy
    rows = df.collect()
    vecs = {r.id: np.array(r.vec) for r in rows}
    for qid, got in by_q.items():
        d = sorted(
            (float(np.sqrt(((v - vecs[qid]) ** 2).sum())), i)
            for i, v in vecs.items()
        )[:4]
        assert {i for _, i in d} == {r.id for r in got}
    # determinism
    res2 = graph_ann_search(df, graph, qs, k=4).collect()
    assert {(r.query_id, r.id) for r in res2} == {
        (r.query_id, r.id) for r in res}


def test_graph_ann_search_out_of_sample_queries(spark):
    """Queries NOT in the indexed set (the production shape) still land
    in the right cluster and return exactly k rows each."""
    from vector_db_at_home_spark.operators.knngraph import (
        graph_ann_search,
        knn_graph_nndescent,
    )

    df = spark.createDataFrame(_clustered(),
                               "id long, vec array<double>")
    graph = knn_graph_nndescent(df, "id", "vec", k=8)
    # synth queries at cluster centers 2 and 7 (not identical to any row)
    import numpy as np_

    qrows = []
    for c in (2, 7):
        center = np_.zeros(16)
        center[c % 16] = 10.0 * (c + 1)
        qrows.append((c, [float(x) for x in center]))
    qs = spark.createDataFrame(qrows, "query_id long, qvec array<double>")
    res = graph_ann_search(df, graph, qs, k=5).collect()
    by_q = {}
    for r in res:
        by_q.setdefault(r.query_id, []).append(r)
    for c in (2, 7):
        assert len(by_q[c]) == 5
        assert all(r.id // 20 == c for r in by_q[c])


def test_knngraph_save_load_append_delete_compact(spark, tmp_path):
    """The graph index family's full persistence contract (parity with
    ivf/pq/sq): save/load round trip, O(batch) append integrates new
    nodes both ways, tombstoned deletes vanish at load, compact folds
    deltas + removes tombstones physically."""
    from vector_db_at_home_spark.operators.knngraph import (
        graph_ann_search,
        knn_graph_nndescent,
        knngraph_append,
        knngraph_compact_saved,
        knngraph_load,
        knngraph_save,
        knngraph_sync_deletes,
    )

    rows = _clustered(n_clusters=5, per=16)
    base = [r for r in rows if r[0] % 4 != 3]
    batch = [r for r in rows if r[0] % 4 == 3]
    df = spark.createDataFrame(base, "id long, vec array<double>")
    bdf = spark.createDataFrame(batch, "id long, vec array<double>")

    g = knn_graph_nndescent(df, "id", "vec", k=6)
    path = str(tmp_path / "gidx")
    knngraph_save(g, df, path, k=6)

    idx = knngraph_load(spark, path)
    assert idx.k == 6 and idx.vectors.count() == len(base)
    assert sorted(map(tuple, idx.edges.collect())) == \
        sorted(map(tuple, g.collect()))

    # append: new nodes get full lists, search finds them
    knngraph_append(spark, path, bdf, "id", "vec")
    idx2 = knngraph_load(spark, path)
    assert idx2.vectors.count() == len(rows)
    per_src = {r.src: 1 for r in idx2.edges.collect()}
    assert all(i in per_src for i, _ in batch)
    # an appended node is findable: query at its own vector
    qid, qv = batch[0]
    qs = spark.createDataFrame([(qid, qv)],
                               "query_id long, qvec array<double>")
    hits = graph_ann_search(idx2.vectors, idx2.edges, qs, k=3).collect()
    assert any(r.id == qid and r.distance < 1e-9 for r in hits)

    # delete propagation: a fake store lacking two ids
    class FakeStore:
        def __init__(self, df_):
            self._df = df_

        def df(self):
            return self._df

    dead = {base[0][0], batch[0][0]}
    live = spark.createDataFrame(
        [(i,) for i, _ in rows if i not in dead], "id long")
    n = knngraph_sync_deletes(spark, FakeStore(live), path)
    assert n == 2
    idx3 = knngraph_load(spark, path)
    ids3 = {r.id for r in idx3.vectors.collect()}
    assert dead.isdisjoint(ids3)
    e3 = idx3.edges.collect()
    assert all(r.src not in dead and r.dst not in dead for r in e3)

    # compact: physical removal + tombstones cleared + identical view
    before = sorted((r.src, r.dst) for r in e3)
    knngraph_compact_saved(spark, path)
    import os

    assert not os.path.exists(f"{path}/tombstones")
    raw = spark.read.parquet(f"{path}/vectors")
    assert {r.id for r in raw.select("id").collect()}.isdisjoint(dead)
    idx4 = knngraph_load(spark, path)
    assert sorted((r.src, r.dst) for r in idx4.edges.collect()) == before
    # idempotent second sync
    assert knngraph_sync_deletes(spark, FakeStore(live), path) == 0


def test_knngraph_append_replay_idempotent(spark, tmp_path):
    """An at-least-once replay of an already-admitted batch is a no-op:
    no duplicate edges/vectors, no self-edges crowding the fold."""
    from vector_db_at_home_spark.operators.knngraph import (
        knn_graph_nndescent,
        knngraph_append,
        knngraph_load,
        knngraph_save,
    )

    rows = _clustered(n_clusters=3, per=12)
    base = [r for r in rows if r[0] % 3 != 2]
    batch = [r for r in rows if r[0] % 3 == 2]
    df = spark.createDataFrame(base, "id long, vec array<double>")
    bdf = spark.createDataFrame(batch, "id long, vec array<double>")
    path = str(tmp_path / "gidx_replay")
    knngraph_save(knn_graph_nndescent(df, "id", "vec", k=4), df, path, k=4)

    knngraph_append(spark, path, bdf, "id", "vec")
    snap1 = sorted(map(tuple, knngraph_load(spark, path).edges.collect()))
    nvec1 = spark.read.parquet(f"{path}/vectors").count()
    # replay the SAME batch
    knngraph_append(spark, path, bdf, "id", "vec")
    idx = knngraph_load(spark, path)
    assert sorted(map(tuple, idx.edges.collect())) == snap1
    assert spark.read.parquet(f"{path}/vectors").count() == nvec1
    assert idx.edges.filter("src = dst").count() == 0

def test_fingers_persisted_and_bit_identical(spark, tmp_path):
    """r8: save lands {path}/fingers == navigation_edges(ids); searching
    THROUGH the loaded ring is bit-identical to the on-the-fly navigable
    path (the fingers are a pure function of the id set)."""
    from vector_db_at_home_spark.operators.knngraph import (
        graph_ann_search,
        knn_graph_nndescent,
        knngraph_load,
        knngraph_save,
        navigation_edges,
    )

    rows = _clustered(n_clusters=4, per=12)
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    g = knn_graph_nndescent(df, "id", "vec", k=5)
    path = str(tmp_path / "gidx_f")
    knngraph_save(g, df, path, k=5)
    idx = knngraph_load(spark, path)
    assert idx.fingers is not None
    expect = {(r.src, r.dst)
              for r in navigation_edges(df.select("id")).collect()}
    assert {(r.src, r.dst) for r in idx.fingers.collect()} == expect

    qs = df.filter(F.col("id").isin([0, 25])).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec"))
    r_f = graph_ann_search(idx.vectors, idx.edges, qs, k=4,
                           fingers=idx.fingers).collect()
    r_o = graph_ann_search(idx.vectors, idx.edges, qs, k=4).collect()
    assert sorted((r.query_id, r.id, r.distance) for r in r_f) == \
        sorted((r.query_id, r.id, r.distance) for r in r_o)


def test_fingers_skip_global_rank(spark, tmp_path, monkeypatch):
    """Passing fingers must NEVER derive the ring on the fly — the whole
    point is removing the per-batch global-rank range exchange.  Proven
    by poisoning navigation_edges for the duration of the search."""
    import vector_db_at_home_spark.operators.knngraph as kg

    rows = _clustered(n_clusters=3, per=10)
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    path = str(tmp_path / "gidx_nr")
    kg.knngraph_save(kg.knn_graph_nndescent(df, "id", "vec", k=4),
                     df, path, k=4)
    idx = kg.knngraph_load(spark, path)
    qs = df.limit(2).select(F.col("id").alias("query_id"),
                            F.col("vec").alias("qvec"))

    def boom(*a, **k):
        raise AssertionError("navigation_edges called despite fingers")

    monkeypatch.setattr(kg, "navigation_edges", boom)
    res = kg.graph_ann_search(idx.vectors, idx.edges, qs, k=3,
                              fingers=idx.fingers).collect()
    assert len(res) == 6


def test_append_regenerates_fingers_for_grown_set(spark, tmp_path):
    """knngraph_append rewrites the ring over old ∪ batch ids — the
    loaded fingers match a fresh navigation_edges over the full set, so
    post-append searches are bit-identical to the on-the-fly path."""
    from vector_db_at_home_spark.operators.knngraph import (
        knn_graph_nndescent,
        knngraph_append,
        knngraph_load,
        knngraph_save,
        navigation_edges,
    )

    rows = _clustered(n_clusters=4, per=10)
    base = [r for r in rows if r[0] % 4 != 1]
    batch = [r for r in rows if r[0] % 4 == 1]
    df = spark.createDataFrame(base, "id long, vec array<double>")
    bdf = spark.createDataFrame(batch, "id long, vec array<double>")
    path = str(tmp_path / "gidx_af")
    knngraph_save(knn_graph_nndescent(df, "id", "vec", k=4), df, path, k=4)
    knngraph_append(spark, path, bdf, "id", "vec")
    idx = knngraph_load(spark, path)
    all_ids = spark.createDataFrame([(i,) for i, _ in rows], "id long")
    expect = {(r.src, r.dst)
              for r in navigation_edges(all_ids).collect()}
    assert {(r.src, r.dst) for r in idx.fingers.collect()} == expect


def test_load_fold_dedups_replayed_delta_rows(spark, tmp_path):
    """ADVICE r7: duplicate (src, dst, d2) delta rows — the crash-torn
    append replay shape — must collapse to ONE top-k slot at load."""
    from vector_db_at_home_spark.operators.knngraph import (
        knn_graph_nndescent,
        knngraph_load,
        knngraph_save,
    )

    rows = _clustered(n_clusters=3, per=10)
    df = spark.createDataFrame(rows, "id long, vec array<double>")
    path = str(tmp_path / "gidx_dup")
    knngraph_save(knn_graph_nndescent(df, "id", "vec", k=4), df, path, k=4)
    before = sorted(map(tuple, knngraph_load(spark, path).edges.collect()))
    # replay: re-append the first 40 edge rows byte-identically
    dup = spark.read.parquet(f"{path}/edges").orderBy("src", "dst").limit(40)
    dup.write.mode("append").parquet(f"{path}/edges")
    idx = knngraph_load(spark, path)
    after = sorted(map(tuple, idx.edges.collect()))
    assert after == before
    pairs = [(r.src, r.dst) for r in idx.edges.collect()]
    assert len(pairs) == len(set(pairs))


def test_beam_early_stop_matches_full_run(spark):
    """r8: the convergence early-stop returns the same neighbor sets and
    distances as the fixed-hop schedule on clustered data (where the
    beam provably reaches the exact top-k either way)."""
    from vector_db_at_home_spark.operators.knngraph import (
        graph_ann_search,
        knn_graph_nndescent,
    )

    df = spark.createDataFrame(_clustered(),
                               "id long, vec array<double>")
    graph = knn_graph_nndescent(df, "id", "vec", k=8)
    qs = df.filter(F.col("id").isin([0, 37, 111, 185])).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec"))
    stopped = graph_ann_search(df, graph, qs, k=4,
                               early_stop=True).collect()
    full = graph_ann_search(df, graph, qs, k=4,
                            early_stop=False).collect()
    assert sorted((r.query_id, r.id, r.distance) for r in stopped) == \
        sorted((r.query_id, r.id, r.distance) for r in full)


def test_append_crash_before_commit_healed_by_replay(spark, tmp_path,
                                                     monkeypatch):
    """r8 self-review: vectors land LAST (the replay guard's commit
    point), so a crash at ANY earlier step — here injected at the
    fingers rewrite, after the edge deltas landed — leaves the batch
    unadmitted and a plain replay heals everything: vectors admitted,
    ring regenerated for the grown id set, the fold serves exactly k
    true nearest per src despite the orphaned first-attempt rows."""
    import vector_db_at_home_spark.operators.knngraph as kg

    rows = _clustered(n_clusters=3, per=12)
    base = [r for r in rows if r[0] % 3 != 2]
    batch = [r for r in rows if r[0] % 3 == 2]
    df = spark.createDataFrame(base, "id long, vec array<double>")
    bdf = spark.createDataFrame(batch, "id long, vec array<double>")
    path = str(tmp_path / "gidx_crash")
    kg.knngraph_save(kg.knn_graph_nndescent(df, "id", "vec", k=4),
                     df, path, k=4)

    real_rewrite = kg._rewrite_fingers
    calls = {"n": 0}

    def crashing(spark_, p, ids):
        calls["n"] += 1
        if calls["n"] == 1:
            raise RuntimeError("injected crash before the commit point")
        return real_rewrite(spark_, p, ids)

    monkeypatch.setattr(kg, "_rewrite_fingers", crashing)
    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        kg.knngraph_append(spark, path, bdf, "id", "vec")
    # batch NOT admitted: guard table (vectors) untouched
    assert spark.read.parquet(f"{path}/vectors").count() == len(base)

    # replay heals
    kg.knngraph_append(spark, path, bdf, "id", "vec")
    idx = kg.knngraph_load(spark, path)
    assert idx.vectors.count() == len(rows)
    all_ids = spark.createDataFrame([(i,) for i, _ in rows], "id long")
    assert {(r.src, r.dst) for r in idx.fingers.collect()} == \
        {(r.src, r.dst)
         for r in kg.navigation_edges(all_ids).collect()}
    # fold discipline: exactly <= k rows per src, no (src, dst) dupes,
    # every appended node present
    edges = idx.edges.collect()
    per_src = {}
    for r in edges:
        per_src.setdefault(r.src, []).append((r.dst, r.d2))
    assert all(len(v) <= 4 for v in per_src.values())
    pairs = [(r.src, r.dst) for r in edges]
    assert len(pairs) == len(set(pairs))
    assert all(i in per_src for i, _ in batch)


def test_serving_path_bit_identical_to_hop_loop(spark):
    """r9 (VERDICT r8 task 6): graph_ann_search_serving — the
    broadcast + mapInPandas single-job walk — must return EXACTLY the
    rows of the fixed-schedule hop-loop path: same ids, bit-equal
    distances (the cumsum scorer reproduces the Spark aggregate fold's
    IEEE add order), on the derived navigation ring."""
    from vector_db_at_home_spark.operators.knngraph import (
        graph_ann_search,
        graph_ann_search_serving,
        knn_graph_nndescent,
    )

    df = spark.createDataFrame(_clustered(),
                               "id long, vec array<double>")
    graph = knn_graph_nndescent(df, "id", "vec", k=8)
    qs = df.filter(F.col("id").isin([0, 37, 111, 185])).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec"))
    batch = sorted(
        (r.query_id, r.id, r.distance)
        for r in graph_ann_search(df, graph, qs, k=4,
                                  early_stop=False).collect()
    )
    serving = sorted(
        (r.query_id, r.id, r.distance)
        for r in graph_ann_search_serving(df, graph, qs, k=4).collect()
    )
    assert serving == batch  # ids AND float-exact distances


def test_serving_path_with_loaded_fingers(spark, tmp_path):
    """Serving through a SAVED index: persisted fingers feed the
    broadcast adjacency; results bit-match the hop-loop on the same
    loaded index, and the serving plan has ZERO exchanges (one
    mapInPandas stage — no per-hop shuffle at all)."""
    from vector_db_at_home_spark.operators.knngraph import (
        graph_ann_search,
        graph_ann_search_serving,
        knn_graph_nndescent,
        knngraph_load,
        knngraph_save,
    )

    df = spark.createDataFrame(_clustered(),
                               "id long, vec array<double>")
    graph = knn_graph_nndescent(df, "id", "vec", k=8)
    path = str(tmp_path / "gidx")
    knngraph_save(graph, df, path, k=8)
    idx = knngraph_load(spark, path)
    qs = df.filter(F.col("id").isin([3, 77, 142])).select(
        F.col("id").alias("query_id"), F.col("vec").alias("qvec"))
    batch = sorted(
        (r.query_id, r.id, r.distance)
        for r in graph_ann_search(
            idx.vectors, idx.edges, qs, k=4,
            fingers=idx.fingers, early_stop=False).collect()
    )
    serve_df = graph_ann_search_serving(
        idx.vectors, idx.edges, qs, k=4, fingers=idx.fingers)
    plan = serve_df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    serving = sorted(
        (r.query_id, r.id, r.distance) for r in serve_df.collect()
    )
    assert serving == batch


def test_serving_path_budget_refusal(spark):
    """An index over the broadcast budget must refuse loudly (the cue
    to use the distributed hop-loop), not silently collect gigabytes."""
    import pytest

    from vector_db_at_home_spark.operators.knngraph import (
        graph_ann_search_serving,
        knn_graph_nndescent,
    )

    df = spark.createDataFrame(_clustered(),
                               "id long, vec array<double>")
    graph = knn_graph_nndescent(df, "id", "vec", k=4)
    qs = df.limit(1).select(F.col("id").alias("query_id"),
                            F.col("vec").alias("qvec"))
    with pytest.raises(ValueError, match="broadcast budget"):
        graph_ann_search_serving(df, graph, qs, k=2,
                                 broadcast_budget_mb=0)


def test_serving_budget_refuses_before_collect(spark, monkeypatch):
    """r10 (VERDICT r9 task 4): the refusal must fire from counts alone
    — BEFORE the index materializes on the driver.  A spy on
    DataFrame.collect records every collected row; refusal may touch at
    most the single-row dim probe, never the vectors or edges."""
    import pytest
    from pyspark.sql import DataFrame

    from vector_db_at_home_spark.operators.knngraph import (
        graph_ann_search_serving,
        knn_graph_nndescent,
    )

    df = spark.createDataFrame(_clustered(),
                               "id long, vec array<double>")
    graph = knn_graph_nndescent(df, "id", "vec", k=4)
    qs = df.limit(1).select(F.col("id").alias("query_id"),
                            F.col("vec").alias("qvec"))

    collected = []
    real_collect = DataFrame.collect

    def spy(self, *a, **kw):
        rows = real_collect(self, *a, **kw)
        collected.append(len(rows))
        return rows

    monkeypatch.setattr(DataFrame, "collect", spy)
    with pytest.raises(ValueError, match="broadcast budget"):
        graph_ann_search_serving(df, graph, qs, k=2,
                                 broadcast_budget_mb=0)
    assert sum(collected) <= 1, collected


def test_graph_serving_backstop_counts_final_pairs(spark):
    """r11 (ADVICE r10): the post-collect backstop estimates 16 bytes
    per FINAL adjacency pair — derived Chord-ring pairs included — so
    it matches what is actually broadcast.  Exercised through the
    backstop's stated purpose (vecs counted between the two checks): a
    shim under-reports count() so the pre-check passes, and only an
    honest backstop can refuse.  The old edges-only estimate would have
    accepted this budget and broadcast ~2× over it."""
    import numpy as np
    import pytest

    from vector_db_at_home_spark.operators.knngraph import (
        graph_serving_prepare,
    )

    rng = np.random.default_rng(17)
    mat = rng.standard_normal((64, 8))
    vecs = spark.createDataFrame(
        [(i, [float(x) for x in mat[i]]) for i in range(64)],
        "id long, vec array<double>",
    )
    graph = spark.createDataFrame(
        [(i, (i + 1) % 64) for i in range(10)], "src long, dst long")

    class LyingCount:
        """reports a stale (tiny) count — the concurrent-append race"""

        def __init__(self, df):
            self._df = df

        def count(self):
            return 1

        def __getattr__(self, attr):
            return getattr(self._df, attr)

    # exact sizes: vectors+ids = 64·(8+64) B; edges-only ≈ +160 B; the
    # final pair set adds the derived ring (~64·6 pairs → ~6 KB more)
    edges_only_mb = (64 * (8 + 64) + 16 * 10) / 2**20
    budget = edges_only_mb * 1.5  # old backstop passes, honest one can't
    with pytest.raises(ValueError, match="exceeds broadcast budget"):
        graph_serving_prepare(LyingCount(vecs), LyingCount(graph),
                              broadcast_budget_mb=budget)

    # with an honest budget the prepare succeeds and the broadcast's
    # adjacency carries the ring pairs the estimate charged for
    prepared = graph_serving_prepare(vecs, graph,
                                     broadcast_budget_mb=budget * 10)
    _, _, adj, _, _ = prepared.bc.value
    n_pairs = sum(len(v) for v in adj.values())
    assert n_pairs > 300  # 10 edges + ~64·6 ring pairs
    assert (64 * (8 + 64) + 16 * n_pairs) / 2**20 <= budget * 10
