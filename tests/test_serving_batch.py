"""Batch-query serving (r12, VERDICT r11 task 1): the (query_id, …)
DataFrame forms of bm25 / phrase / maxsim indexed search must be
BIT-IDENTICAL per query to the single-query serving calls, and their
guard rails must refuse degenerate inputs loudly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

SF_DIR = "/root/testdata/sf0.001"


def _docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet")


@pytest.fixture(scope="module")
def invidx(spark, tmp_path_factory):
    from vector_db_at_home_spark.operators.invindex import (
        invindex_append,
        invindex_load,
        invindex_save,
    )

    path = str(tmp_path_factory.mktemp("batchserve") / "inv")
    docs = _docs(spark)
    invindex_save(docs.filter(F.col("doc_id") % 7 != 0),
                  "text", "doc_id", path, n_buckets=16)
    invindex_append(spark, path, docs.filter(F.col("doc_id") % 7 == 0),
                    "text", "doc_id")
    return invindex_load(spark, path)


@pytest.fixture(scope="module")
def invidx_tomb(spark, tmp_path_factory):
    """An index with pending tombstones: BM25's corpus scalars then come
    from the doclens aggregate, not the dlstats partials."""
    from vector_db_at_home_spark.operators.invindex import (
        invindex_load,
        invindex_save,
    )

    path = str(tmp_path_factory.mktemp("batchserve") / "inv_tomb")
    docs = _docs(spark)
    invindex_save(docs, "text", "doc_id", path, n_buckets=16)
    docs.filter(F.col("doc_id") % 5 == 0).select(F.col("doc_id").alias("id")) \
        .write.mode("append").parquet(f"{path}/tombstones")
    return invindex_load(spark, path)


@pytest.fixture(scope="module")
def msidx(spark, tmp_path_factory):
    from vector_db_at_home_spark.operators.featurize import (
        maxsim_index_append,
        maxsim_index_load,
        maxsim_index_save,
    )

    path = str(tmp_path_factory.mktemp("batchserve") / "ms")
    docs = _docs(spark)
    maxsim_index_save(docs.filter(F.col("doc_id") % 7 != 0),
                      "text", "doc_id", path, dim=16, n_buckets=16)
    maxsim_index_append(spark, path, docs.filter(F.col("doc_id") % 7 == 0),
                        "text", "doc_id")
    return maxsim_index_load(spark, path)


BM25_QUERIES = [
    (0, ["vector", "merge", "batch"]),
    (1, ["scan", "join"]),
    (2, ["query window sort", "hash"]),   # multi-token term splits
    (3, ["the", "the", "dup"]),           # duplicate terms count twice
]


def test_bm25_batch_equals_single_calls(spark, invidx, invidx_tomb):
    from vector_db_at_home_spark.operators.invindex import (
        bm25_search_indexed,
        bm25_search_indexed_batch,
    )

    qdf = spark.createDataFrame(BM25_QUERIES,
                                "query_id long, terms array<string>")
    assert not invidx.has_tombstones and invidx_tomb.has_tombstones
    for idx in (invidx, invidx_tomb):
        got = [(r.query_id, r.id, r.score_e4)
               for r in bm25_search_indexed_batch(idx, qdf, k=10).collect()]
        want = []
        for qid, terms in BM25_QUERIES:
            for r in bm25_search_indexed(idx, terms, k=10).collect():
                want.append((qid, r.id, r.score_e4))
        assert got == want  # bit-identical scores AND order, per query
    assert got and all(i % 5 != 0 for _, i, _ in got)


def test_bm25_batch_guards(spark, invidx):
    from vector_db_at_home_spark.operators.invindex import (
        bm25_search_indexed_batch,
    )

    empty = spark.createDataFrame([], "query_id long, terms array<string>")
    with pytest.raises(ValueError, match="empty query batch"):
        bm25_search_indexed_batch(invidx, empty)
    bad = spark.createDataFrame([(0, [" "])],
                                "query_id long, terms array<string>")
    with pytest.raises(ValueError, match="no terms"):
        bm25_search_indexed_batch(invidx, bad)


def test_phrase_batch_equals_single_calls(spark, invidx):
    from vector_db_at_home_spark.operators.invindex import (
        phrase_search_indexed,
        phrase_search_indexed_batch,
    )

    phrases = [(0, "the query"), (1, "merge part"),
               (2, "batch batch"), (3, "vector")]
    qdf = spark.createDataFrame(phrases, "query_id long, phrase string")
    got = [(r.query_id, r.id, r.n_matches)
           for r in phrase_search_indexed_batch(invidx, qdf).collect()]
    want = []
    for qid, phrase in phrases:
        for r in phrase_search_indexed(invidx, phrase) \
                .orderBy("id").collect():
            want.append((qid, r.id, r.n_matches))
    assert got == want


def test_phrase_batch_overlap_and_edge(spark, tmp_path):
    """Hand-checkable overlap semantics survive the set-based batch
    form, including a phrase longer than a doc and matches at pos 0."""
    from vector_db_at_home_spark.operators.invindex import (
        invindex_load,
        invindex_save,
        phrase_search_indexed_batch,
    )

    docs = spark.createDataFrame(
        [(1, "a a a a"), (2, "the cat the cat the cat"), (3, "cat the")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "edge")
    invindex_save(docs, "text", "doc_id", path, n_buckets=4)
    idx = invindex_load(spark, path)
    qdf = spark.createDataFrame(
        [(0, "a a"), (1, "the cat"), (2, "cat the cat the cat the cat")],
        "query_id long, phrase string",
    )
    got = {(r.query_id, r.id): r.n_matches
           for r in phrase_search_indexed_batch(idx, qdf).collect()}
    assert got == {(0, 1): 3, (1, 2): 3}  # query 2: longer than any doc


def test_maxsim_batch_equals_single_calls(spark, msidx):
    from vector_db_at_home_spark.operators.featurize import (
        maxsim_search_indexed,
        maxsim_search_indexed_batch,
    )

    queries = [(0, ["vector", "merge", "batch"]), (1, ["scan", "filter"]),
               (2, ["query", "query"]), (3, ["stream", "window", "dup"])]
    qdf = spark.createDataFrame(queries,
                                "query_id long, terms array<string>")
    got = [(r.query_id, r.id, r.score)
           for r in maxsim_search_indexed_batch(msidx, qdf, k=10).collect()]
    want = []
    for qid, terms in queries:
        for r in maxsim_search_indexed(msidx, terms, k=10).collect():
            want.append((qid, r.id, r.score))
    assert got == want


def test_hybrid_batch_equals_single_calls(spark, invidx):
    from vector_db_at_home_spark.operators.hybrid import (
        hybrid_search_rrf_indexed,
        hybrid_search_rrf_indexed_batch,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    queries = [(0, ["vector", "merge", "batch"]), (1, ["scan", "join"]),
               (2, ["query", "window", "sort", "hash"]),
               (3, ["the", "dup", "stream"])]
    qdf = spark.createDataFrame(queries,
                                "query_id long, terms array<string>")
    qvecs = emb.filter(F.col("vec_id").isin([0, 1, 2, 3])).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("qvec"))
    got = [(r.query_id, r.id, r.lex_rank, r.vec_rank, r.rrf_e6)
           for r in hybrid_search_rrf_indexed_batch(
               invidx, emb, qdf, qvecs, k=10, depth=50).collect()]
    want = []
    for qid, terms in queries:
        qv = emb.filter(F.col("vec_id") == qid) \
            .select(F.col("embedding").alias("qvec"))
        for r in hybrid_search_rrf_indexed(
                invidx, emb, terms, qv, k=10, depth=50).collect():
            want.append((qid, r.id, r.lex_rank, r.vec_rank, r.rrf_e6))
    assert got == want  # bit-identical fused scores AND order, per query


def test_maxsim_batch_guards(spark, msidx):
    from vector_db_at_home_spark.operators.featurize import (
        maxsim_search_indexed_batch,
    )

    empty = spark.createDataFrame([], "query_id long, terms array<string>")
    with pytest.raises(ValueError, match="empty query batch"):
        maxsim_search_indexed_batch(msidx, empty)
