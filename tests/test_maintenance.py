"""Saved-index compaction tests: fewer files, identical content,
crash-window recovery."""

from __future__ import annotations

import os

import numpy as np
import pytest
from pyspark.sql import functions as F


def _parquet_files(root):
    return [
        os.path.join(r, f)
        for r, _, files in os.walk(root)
        for f in files
        if f.endswith(".parquet")
    ]


def test_ivfsq_compact_after_syncs(spark, tmp_path):
    """Repeated sync appends accumulate small files; compaction shrinks
    the file count, preserves every row, and the compacted index
    searches identically."""
    from vector_db_at_home_spark.operators.maintenance import (
        ivfsq_compact_saved,
    )
    from vector_db_at_home_spark.operators.sq import (
        ivfsq_build,
        ivfsq_load,
        ivfsq_save,
        ivfsq_search,
        ivfsq_sync_with_store,
    )
    from vector_db_at_home_spark.store import VectorStore

    rng = np.random.default_rng(3)
    store = VectorStore(spark, tmp_path / "st", dim=8)
    store.insert(rng.normal(size=(30, 8)).astype("float32"))
    path = str(tmp_path / "sqidx")
    ivfsq_save(
        ivfsq_build(store.df().select("id", "vec"),
                    id_col="id", vec_col="vec", n_cells=4),
        path,
    )
    for _ in range(4):
        store.insert(rng.normal(size=(10, 8)).astype("float32"))
        assert ivfsq_sync_with_store(spark, store, path,
                                     id_col="id", vec_col="vec") == 10
    before_files = len(_parquet_files(f"{path}/codes"))
    re = ivfsq_load(spark, path)
    qs = store.df().filter(F.col("id") == 42).select(
        F.lit(42).alias("query_id"), F.col("vec").alias("qvec")
    )
    pre = ivfsq_search(re, qs, k=3, n_probes=4).collect()
    # materialize the pre-compaction content NOW: the lazy frame would
    # otherwise re-list the directory after the rewrite replaced it
    a = {(r.id, r.cell, r.scale, tuple(r.codes))
         for r in re.codes.collect()}

    ivfsq_compact_saved(spark, path, target_partitions=4)
    after_files = len(_parquet_files(f"{path}/codes"))
    assert after_files < before_files
    re2 = ivfsq_load(spark, path)
    assert re2.codes.count() == 70
    post = ivfsq_search(re2, qs, k=3, n_probes=4).collect()
    assert [(r.query_id, r.id) for r in pre] \
        == [(r.query_id, r.id) for r in post]
    b = {(r.id, r.cell, r.scale, tuple(r.codes))
         for r in re2.codes.collect()}
    assert a == b


def test_compact_crash_window_recovery(spark, tmp_path):
    """A crash between the two renames leaves the table at _old_<name>;
    recover_compact_crash restores it and the next compact succeeds."""
    import shutil

    from vector_db_at_home_spark.operators.maintenance import (
        compact_saved_table,
        recover_compact_crash,
    )

    tdir = str(tmp_path / "tbl")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 4).cast("int").alias("cell")
    ).write.partitionBy("cell").parquet(tdir)
    # simulate the crash shape: live table parked at _old_, stage exists
    shutil.move(tdir, str(tmp_path / "_old_tbl"))
    os.makedirs(str(tmp_path / "_compact_tbl"))
    recover_compact_crash(spark, tdir)
    assert os.path.isdir(tdir)
    assert not os.path.exists(str(tmp_path / "_old_tbl"))
    assert not os.path.exists(str(tmp_path / "_compact_tbl"))
    assert spark.read.parquet(tdir).count() == 100
    compact_saved_table(spark, tdir, target_partitions=2,
                        partition_by="cell")
    assert spark.read.parquet(tdir).count() == 100


def test_ivf_and_pq_compact_wrappers(spark, tmp_path):
    from vector_db_at_home_spark.operators.ann import (
        ivf_build,
        ivf_load,
        ivf_save,
        ivf_sync_with_store,
    )
    from vector_db_at_home_spark.operators.maintenance import (
        ivf_compact_saved,
        pq_compact_saved,
    )
    from vector_db_at_home_spark.operators.pq import (
        pq_build,
        pq_load,
        pq_save,
        pq_sync_with_store,
    )
    from vector_db_at_home_spark.store import VectorStore

    rng = np.random.default_rng(5)
    store = VectorStore(spark, tmp_path / "st2", dim=8)
    store.insert(rng.normal(size=(40, 8)).astype("float32"))
    ivf_path = str(tmp_path / "ivf")
    ivf_save(ivf_build(store.df().select("id", "vec"),
                       id_col="id", vec_col="vec", n_cells=4), ivf_path)
    pq_path = str(tmp_path / "pq")
    pq_save(pq_build(store.df().select("id", "vec"),
                     id_col="id", vec_col="vec", m=4), pq_path)
    store.insert(rng.normal(size=(12, 8)).astype("float32"))
    assert ivf_sync_with_store(spark, store, ivf_path,
                               id_col="id", vec_col="vec") == 12
    assert pq_sync_with_store(spark, store, pq_path,
                              id_col="id", vec_col="vec") == 12
    ivf_compact_saved(spark, ivf_path, target_partitions=2)
    pq_compact_saved(spark, pq_path, target_partitions=2)
    assert ivf_load(spark, ivf_path).assigned.count() == 52
    assert pq_load(spark, pq_path).codes.count() == 52


def test_ivfsq_delete_propagation_and_compact(spark, tmp_path):
    """Store deletes tombstone the saved index (stale hits stop at the
    next load), sync is idempotent, and compaction removes the rows
    physically and clears the tombstones."""
    from vector_db_at_home_spark.operators.maintenance import (
        ivfsq_compact_saved,
    )
    from vector_db_at_home_spark.operators.sq import (
        ivfsq_build,
        ivfsq_load,
        ivfsq_save,
        ivfsq_search,
        ivfsq_sync_deletes,
    )
    from vector_db_at_home_spark.store import VectorStore

    rng = np.random.default_rng(7)
    vecs = rng.normal(size=(40, 8)).astype("float32")
    store = VectorStore(spark, tmp_path / "st", dim=8)
    store.insert(vecs)
    path = str(tmp_path / "sqidx")
    ivfsq_save(
        ivfsq_build(store.df().select("id", "vec"),
                    id_col="id", vec_col="vec", n_cells=4),
        path,
    )

    # query with vector 5's own vector: rank-1 must be id 5 pre-delete
    qs = spark.createDataFrame(
        [(5, [float(x) for x in vecs[5]])],
        "query_id long, qvec array<float>",
    )
    pre = ivfsq_search(ivfsq_load(spark, path), qs, k=3, n_probes=4).collect()
    assert pre[0].id == 5

    store.delete([5, 17])
    assert ivfsq_sync_deletes(spark, store, path) == 2
    assert ivfsq_sync_deletes(spark, store, path) == 0  # idempotent

    live = ivfsq_load(spark, path)
    assert live.codes.count() == 38
    post = ivfsq_search(live, qs, k=3, n_probes=4).collect()
    assert all(r.id not in (5, 17) for r in post)

    # physical removal: raw code rows drop and tombstones clear
    raw_before = spark.read.parquet(f"{path}/codes").count()
    assert raw_before == 40
    ivfsq_compact_saved(spark, path, target_partitions=4)
    assert spark.read.parquet(f"{path}/codes").count() == 38
    assert not os.path.exists(f"{path}/tombstones")
    post2 = ivfsq_search(ivfsq_load(spark, path), qs, k=3,
                         n_probes=4).collect()
    assert [(r.query_id, r.id) for r in post] \
        == [(r.query_id, r.id) for r in post2]


@pytest.mark.parametrize("family", ["ivf", "pq"])
def test_delete_propagation_ivf_pq(spark, tmp_path, family):
    """Same tombstone contract for the other two index families: stale
    ids disappear at the next load, sync is idempotent, compact removes
    rows physically and clears tombstones."""
    from vector_db_at_home_spark.store import VectorStore

    rng = np.random.default_rng(11)
    store = VectorStore(spark, tmp_path / "st", dim=8)
    store.insert(rng.normal(size=(40, 8)).astype("float32"))
    path = str(tmp_path / "idx")

    if family == "ivf":
        from vector_db_at_home_spark.operators.ann import (
            ivf_build, ivf_load, ivf_save, ivf_sync_deletes,
        )
        from vector_db_at_home_spark.operators.maintenance import (
            ivf_compact_saved as compact,
        )
        ivf_save(ivf_build(store.df().select("id", "vec"),
                           id_col="id", vec_col="vec", n_cells=4), path)
        load, sync, table = ivf_load, ivf_sync_deletes, "assigned"
    else:
        from vector_db_at_home_spark.operators.maintenance import (
            pq_compact_saved as compact,
        )
        from vector_db_at_home_spark.operators.pq import (
            pq_build, pq_load, pq_save, pq_sync_deletes,
        )
        pq_save(pq_build(store.df().select("id", "vec"),
                         id_col="id", vec_col="vec", m=4), path)
        load, sync, table = pq_load, pq_sync_deletes, "codes"

    store.delete([3, 9, 21])
    assert sync(spark, store, path) == 3
    assert sync(spark, store, path) == 0            # idempotent
    live = load(spark, path)
    live_df = live.assigned if family == "ivf" else live.codes
    ids = {r.id for r in live_df.select("id").collect()}
    assert ids.isdisjoint({3, 9, 21}) and len(ids) == 37

    assert spark.read.parquet(f"{path}/{table}").count() == 40
    compact(spark, path, target_partitions=4)
    assert spark.read.parquet(f"{path}/{table}").count() == 37
    assert not os.path.exists(f"{path}/tombstones")


def test_snapshot_diff_store_time_travel(spark, tmp_path):
    """snapshot_diff over two VectorStore versions via df_at_version:
    inserts show as added, deletes as removed, docs compare by digest."""
    from pyspark.sql import functions as F

    from vector_db_at_home_spark.operators.maintenance import snapshot_diff
    from vector_db_at_home_spark.store import VectorStore

    store = VectorStore(spark, tmp_path / "tt_store", dim=2)
    store.insert([[1.0, 0.0], [0.0, 1.0]], [{"a": 1}, {"a": 2}])
    v1 = store.versions()[-1]
    store.delete([0])
    store.insert([[0.5, 0.5]], [{"a": 3}])
    v2 = store.versions()[-1]

    d = {r.id: r.status
         for r in snapshot_diff(store.df_at_version(v1),
                                store.df_at_version(v2),
                                "id", ["doc"]).collect()}
    assert d == {0: "removed", 1: "unchanged", 2: "added"}

    # null-safe digest: NULL vs '' is a real change (JSON distinguishes
    # them), and a column value containing the old separator byte can't
    # alias a column boundary
    old = spark.createDataFrame([(1, None, "x")], "id long, a string, b string")
    new = spark.createDataFrame([(1, "", "x")], "id long, a string, b string")
    assert snapshot_diff(old, new, "id", ["a", "b"]).first() \
        .status == "changed"
    same = spark.createDataFrame([(1, None, "x")], "id long, a string, b string")
    assert snapshot_diff(old, same, "id", ["a", "b"]).first() \
        .status == "unchanged"
    oldsep = spark.createDataFrame([(1, "a\x1fb", "")],
                                   "id long, a string, b string")
    newsep = spark.createDataFrame([(1, "a", "b")],
                                   "id long, a string, b string")
    assert snapshot_diff(oldsep, newsep, "id", ["a", "b"]).first() \
        .status == "changed"


def test_read_meta_starts_no_spark_job(spark, tmp_path, jobs_run):
    from vector_db_at_home_spark.operators.maintenance import (
        FORMAT_VERSION,
        read_meta,
        write_meta,
    )

    f = str(tmp_path / "meta.json")
    write_meta(spark, f, {"k": 3, "mode": "space"})
    meta, n_jobs = jobs_run(lambda: read_meta(spark, f))
    assert meta == {"k": 3, "mode": "space",
                    "format_version": FORMAT_VERSION}
    assert n_jobs == 0
    # the counter sees jobs at all: a one-row count runs at least one
    _, n_control = jobs_run(lambda: spark.range(1).count())
    assert n_control >= 1


_META_FAMILIES = ["invindex", "maxsim", "minhash", "simhash", "substring",
                  "knngraph"]


def _save_family(spark, family, path):
    """Save a tiny index of ``family`` at ``path``; return its loader."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon doc {i} tag{i % 3}")
         for i in range(8)],
        "doc_id long, text string",
    )
    if family == "invindex":
        from vector_db_at_home_spark.operators.invindex import (
            invindex_load,
            invindex_save,
        )

        invindex_save(docs, "text", "doc_id", path, n_buckets=4)
        return lambda: invindex_load(spark, path)
    if family == "maxsim":
        from vector_db_at_home_spark.operators.featurize import (
            maxsim_index_load,
            maxsim_index_save,
        )

        maxsim_index_save(docs, "text", "doc_id", path, dim=8, n_buckets=4)
        return lambda: maxsim_index_load(spark, path)
    if family == "minhash":
        from vector_db_at_home_spark.operators.dedup import (
            _read_minhash_state,
            minhash_corpus_state_build,
        )

        minhash_corpus_state_build(docs, path, "text", "doc_id", n=3)
        return lambda: _read_minhash_state(spark, path)
    if family == "simhash":
        from vector_db_at_home_spark.operators.dedup import (
            simhash_pairs_incremental_prepared,
            simhash_state_build,
        )

        simhash_state_build(docs, path, "text", "doc_id")
        return lambda: simhash_pairs_incremental_prepared(
            spark, path, docs, "text", "doc_id")
    if family == "substring":
        from vector_db_at_home_spark.operators.dedup import (
            _read_substring_state,
            substring_state_build,
        )

        substring_state_build(docs, path, "text", "doc_id", window=4)
        return lambda: _read_substring_state(spark, path)
    from vector_db_at_home_spark.operators.knngraph import (
        knn_graph_nndescent,
        knngraph_load,
        knngraph_save,
    )

    vecs = spark.createDataFrame(
        [(i, [float(i), float(i % 3)]) for i in range(8)],
        "id long, vec array<double>",
    )
    knngraph_save(knn_graph_nndescent(vecs, "id", "vec", k=2), vecs, path,
                  k=2)
    return lambda: knngraph_load(spark, path)


@pytest.mark.parametrize("family", _META_FAMILIES)
def test_loaders_refuse_other_format_versions(spark, tmp_path, family):
    """Every meta-carrying loader refuses a meta.json with version 1, 0
    or none, and the older layout where meta.json is a Spark JSON
    directory, with a ValueError naming the path and the expected
    version — no older layout is half-served."""
    import json
    import re

    from vector_db_at_home_spark.functions.fsutil import (
        fs_read_text,
        fs_rmtree,
        fs_write_text,
    )
    from vector_db_at_home_spark.operators.maintenance import FORMAT_VERSION

    path = str(tmp_path / family)
    load = _save_family(spark, family, path)
    load()
    meta_file = f"{path}/meta.json"
    good = json.loads(fs_read_text(spark, meta_file))
    assert good["format_version"] == FORMAT_VERSION == 2
    want = f"{re.escape(path)}.*expected 2"
    for version in (1, 0, None):
        bad = {k: v for k, v in good.items() if k != "format_version"}
        if version is not None:
            bad["format_version"] = version
        fs_write_text(spark, meta_file, json.dumps(bad))
        with pytest.raises(ValueError, match=want):
            load()
    fs_rmtree(spark, meta_file)
    spark.createDataFrame([(json.dumps({**good, "format_version": 1}),)],
                          "meta string") \
        .coalesce(1).write.json(meta_file)
    with pytest.raises(ValueError, match=want):
        load()
