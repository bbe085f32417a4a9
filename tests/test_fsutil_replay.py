"""Round-6 ADVICE hardening: scheme-aware fsutil fallbacks, query-id
marker scoping, compact crash recovery, prepare-hook arity detection."""

from __future__ import annotations

import functools
import json
import os
import shutil

import pytest

from vector_db_at_home_spark.functions import fsutil
from vector_db_at_home_spark.streaming.ingest import (
    _call_prepare,
    checkpoint_scope,
)


class _NoJvm:
    """Stand-in spark whose JVM gateway is unavailable (Spark Connect)."""

    @property
    def _jvm(self):
        raise RuntimeError("no JVM gateway")


def test_fs_exists_local_fallback(tmp_path):
    p = tmp_path / "x"
    p.write_text("hi")
    assert fsutil.fs_exists(_NoJvm(), str(p)) is True
    assert fsutil.fs_exists(_NoJvm(), str(tmp_path / "missing")) is False
    # explicit file: scheme still resolves locally
    assert fsutil.fs_exists(_NoJvm(), f"file://{p}") is True


def test_fs_exists_remote_uri_raises_without_jvm():
    # a driver-local probe on a remote URI is ALWAYS false — refusing is
    # the only safe behavior when the Hadoop FS API is unavailable
    with pytest.raises(Exception):
        fsutil.fs_exists(_NoJvm(), "hdfs://namenode/state/bands")
    with pytest.raises(Exception):
        fsutil.fs_touch(_NoJvm(), "s3a://bucket/marker/1")
    with pytest.raises(Exception):
        fsutil.fs_rename(_NoJvm(), "s3a://b/a", "s3a://b/c")
    with pytest.raises(Exception):
        fsutil.fs_rmtree(_NoJvm(), "hdfs://namenode/state")


def test_fs_touch_rename_rmtree_local(tmp_path):
    m = tmp_path / "markers" / "0"
    fsutil.fs_touch(_NoJvm(), str(m))
    assert m.exists()
    fsutil.fs_rename(_NoJvm(), str(m), str(tmp_path / "markers" / "1"))
    assert not m.exists() and (tmp_path / "markers" / "1").exists()
    fsutil.fs_rmtree(_NoJvm(), str(tmp_path / "markers"))
    assert not (tmp_path / "markers").exists()


def test_checkpoint_scope_tracks_query_id(tmp_path):
    ckpt = tmp_path / "ckpt"
    ckpt.mkdir()
    (ckpt / "metadata").write_text(json.dumps({"id": "aaaa-bbbb-cccc"}))
    s1 = checkpoint_scope(_NoJvm(), str(ckpt))
    assert s1 == "qid_aaaabbbbcccc"
    # recreate the checkpoint at the SAME path with a new query id —
    # the scope must change so old batch markers can never match
    (ckpt / "metadata").write_text(json.dumps({"id": "dddd-eeee-ffff"}))
    s2 = checkpoint_scope(_NoJvm(), str(ckpt))
    assert s2 != s1
    # no checkpoint: fresh scope per run
    assert checkpoint_scope(_NoJvm(), None) != checkpoint_scope(_NoJvm(), None)


def test_checkpoint_scope_strict_inside_query(tmp_path):
    # metadata unreadable INSIDE a running query (checkpoint_dir set, no
    # pre_start): falling back to the path hash would mis-scope replay
    # markers, so it must raise instead (ADVICE r6)
    ckpt = tmp_path / "ckpt_missing_meta"
    ckpt.mkdir()
    with pytest.raises(RuntimeError, match="cannot read"):
        checkpoint_scope(_NoJvm(), str(ckpt))
    # a pre-start probe legitimately may not see metadata yet → hash scope
    s = checkpoint_scope(_NoJvm(), str(ckpt), pre_start=True)
    assert len(s) == 16
    # and the pre-start probe still prefers real metadata when present
    (ckpt / "metadata").write_text(json.dumps({"id": "aaaa-bbbb"}))
    assert checkpoint_scope(_NoJvm(), str(ckpt), pre_start=True).startswith("qid_")


def test_compact_recovers_completed_swap_leftover(spark, tmp_path):
    # crash AFTER the stage→live rename but BEFORE rmtree(_old): live and
    # _old both exist; the next compact must clear the leftover instead of
    # renaming onto an existing directory (ADVICE r6)
    from vector_db_at_home_spark.operators.maintenance import (
        compact_saved_table,
        recover_compact_crash,
    )

    tdir = str(tmp_path / "tbl")
    spark.range(10).toDF("id").write.parquet(tdir)
    spark.range(3).toDF("id").write.parquet(str(tmp_path / "_old_tbl"))
    recover_compact_crash(spark, tdir)
    assert not os.path.exists(str(tmp_path / "_old_tbl"))
    assert spark.read.parquet(tdir).count() == 10
    # and a full compact over the same leftover state runs end-to-end
    spark.range(3).toDF("id").write.parquet(str(tmp_path / "_old_tbl"))
    compact_saved_table(spark, tdir, target_partitions=2)
    assert spark.read.parquet(tdir).count() == 10
    assert not os.path.exists(str(tmp_path / "_old_tbl"))


def test_index_loads_self_heal_compact_crash(spark, tmp_path):
    # park the live assigned/codes dir at _old_* (the between-renames crash
    # window) and verify every saved-index load self-heals (ADVICE r6)
    import numpy as np

    from vector_db_at_home_spark.operators.ann import (
        ivf_build,
        ivf_load,
        ivf_save,
    )
    from vector_db_at_home_spark.operators.sq import (
        ivfsq_build,
        ivfsq_load,
        ivfsq_save,
    )

    rng = np.random.default_rng(7)
    vecs = spark.createDataFrame(
        [(i, rng.standard_normal(8).tolist()) for i in range(64)],
        "id long, vec array<double>",
    )
    ivf = ivf_build(vecs, n_cells=4, seed=1)
    ivf_path = str(tmp_path / "ivf")
    ivf_save(ivf, ivf_path)
    os.rename(f"{ivf_path}/assigned", f"{ivf_path}/_old_assigned")
    assert ivf_load(spark, ivf_path).assigned.count() == 64
    assert not os.path.exists(f"{ivf_path}/_old_assigned")

    sq = ivfsq_build(vecs, n_cells=4, seed=1)
    sq_path = str(tmp_path / "sq")
    ivfsq_save(sq, sq_path)
    os.rename(f"{sq_path}/codes", f"{sq_path}/_old_codes")
    assert ivfsq_load(spark, sq_path).codes.count() == 64
    assert not os.path.exists(f"{sq_path}/_old_codes")


def test_call_prepare_arities():
    calls = []

    def one(df):
        calls.append(("one", df))
        return df

    def two(df, bid):
        calls.append(("two", df, bid))
        return df

    def var(df, *rest):
        calls.append(("var", df, rest))
        return df

    assert _call_prepare(one, "DF", 7) == "DF"
    assert calls[-1] == ("one", "DF")
    assert _call_prepare(two, "DF", 7) == "DF"
    assert calls[-1] == ("two", "DF", 7)
    # *args wrappers are two-arg capable (ADVICE r5: signature counting
    # miscounted these)
    assert _call_prepare(var, "DF", 7) == "DF"
    assert calls[-1] == ("var", "DF", (7,))
    # partial binding the batch-id kwarg away -> one positional left
    assert _call_prepare(functools.partial(two, bid=3), "DF", 7) == "DF"
    assert calls[-1] == ("two", "DF", 3)


def test_call_prepare_propagates_inner_typeerror():
    def bad(df, bid):
        raise TypeError("from inside the hook body")

    with pytest.raises(TypeError, match="inside the hook body"):
        _call_prepare(bad, "DF", 0)


def test_compact_crash_recovery(spark, tmp_path):
    from vector_db_at_home_spark.operators.dedup import (
        _read_minhash_state,
        minhash_corpus_state_build,
        minhash_lsh_pairs_incremental_prepared,
    )

    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon zeta doc {i}") for i in range(8)],
        "doc_id long, text string",
    )
    state = str(tmp_path / "state")
    minhash_corpus_state_build(docs, state, "text", "doc_id", n=3)
    # simulate a crash between compact's two renames: bands parked at
    # _old_bands, no live copy, stale staging left behind
    os.rename(f"{state}/bands", f"{state}/_old_bands")
    os.makedirs(f"{state}/_compact_bands", exist_ok=True)
    meta, _sh, bands, _sz, _hot = _read_minhash_state(spark, state)
    assert os.path.exists(f"{state}/bands")
    assert not os.path.exists(f"{state}/_old_bands")
    assert not os.path.exists(f"{state}/_compact_bands")
    assert bands.count() > 0
    # crash after a finished swap, before its final delete: a leftover
    # _old_bands beside the live bands is dropped on the next read
    shutil.copytree(f"{state}/bands", f"{state}/_old_bands")
    _read_minhash_state(spark, state)
    assert os.path.exists(f"{state}/bands")
    assert not os.path.exists(f"{state}/_old_bands")
    # the healed state still answers queries (a batch duplicating doc 3
    # must collide with it)
    batch = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon zeta doc 3")],
        "doc_id long, text string",
    )
    hits = minhash_lsh_pairs_incremental_prepared(
        spark, state, batch, "text", "doc_id", threshold=0.5
    )
    assert hits.filter("corpus_id = 3").count() == 1
