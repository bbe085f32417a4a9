"""Fuzzy-scorer goldens (reference tests.py:545-617, FIXTURES.md §1).

These pin the InDel-ratio semantics — Spark's levenshtein() would NOT pass.
"""

from __future__ import annotations

import pytest

from vector_db_at_home_spark.functions.fuzzy import indel_ratio


@pytest.mark.parametrize(
    "query,doc,expected_distance",
    [
        # tests.py:561: fuzz.ratio('{"1": "1"}', '{"k1": "v1"}') = 100*(1-2/22)
        ('{"1": "1"}', '{"k1": "v1"}', 100 * 2 / 22),
        # tests.py:565-ish: non-matching docs at 27.2727...
        ('{"1": "1"}', '{"k0": "v0"}', 100 * 6 / 22),
        # tests.py:595: 'v4' vs '{"k4": "v4"}' = 100*(1-10/14) → dist 71.428...
        ("v4", '{"k4": "v4"}', 100 * 10 / 14),
        # tests.py:587-ish
        ('{"k1": ""}', '{"k1": "v1"}', 100 * 2 / 22),
    ],
)
def test_indel_goldens(query, doc, expected_distance):
    assert 100.0 - indel_ratio(query, doc) == pytest.approx(expected_distance, abs=1e-9)


def test_empty_strings():
    assert indel_ratio("", "") == 100.0
    assert indel_ratio("a", "") == 0.0


def test_identity():
    assert indel_ratio("hello world", "hello world") == 100.0


def _dp_lcs(a: str, b: str) -> int:
    """Textbook O(|a|·|b|) LCS table — independent of the bit-parallel
    kernel."""
    prev = [0] * (len(b) + 1)
    for ca in a:
        cur = [0]
        for j, cb in enumerate(b):
            cur.append(prev[j] + 1 if ca == cb else max(prev[j + 1], cur[j]))
        prev = cur
    return prev[-1]


def _dp_distance(q: str, d: str | None) -> float:
    """The reference distance in the engine's IEEE op order, from the DP
    LCS: ``100 - 100·(1 - (total - 2·lcs) / total)``, 0 when both empty."""
    d = d or ""
    total = len(q) + len(d)
    if total == 0:
        return 0.0
    return 100.0 - 100.0 * (1.0 - (total - 2 * _dp_lcs(q, d)) / total)


_ADVERSARIAL_QUERIES = [
    "", "a", "aaaa", "abcabcabc", "x" * 70, "spark window merge sort " * 3,
    "naïve café ☕ 日本語", '{"k1": "v1"}',
]
_ADVERSARIAL_DOCS = [
    None, "", "a", "aaaaaaa", "bbbb", "cbacbacba", "x" * 65, "y" * 200,
    "spark window merge sort", "café naïve 日本 ☕☕", '{"k1": "v1"}',
    "ab" * 40,
]


def test_indel_ratio_fn_is_bit_exact():
    """The one-query scorer equals ``indel_ratio`` and the DP reference
    distance bit for bit: empty on either side, queries over 64 chars,
    repeated characters, non-ASCII text and ``None`` docs."""
    from vector_db_at_home_spark.functions.fuzzy import indel_ratio_fn

    for q in _ADVERSARIAL_QUERIES:
        ratio = indel_ratio_fn(q)
        for d in _ADVERSARIAL_DOCS:
            assert ratio(d) == indel_ratio(q, d or ""), (q, d)
            assert 100.0 - ratio(d) == _dp_distance(q, d), (q, d)


def _brute_topk(docs, queries, k):
    """Per query, the ``(distance, id)`` list of scoring EVERY doc,
    ranked by (distance, id) and cut to k."""
    return [sorted((_dp_distance(q, d), i) for i, d in docs)[:k]
            for q in queries]


def _collect(df, queries, k, **kw):
    from vector_db_at_home_spark.operators.fuzzysearch import (
        fuzzy_search_collect,
    )

    id_col = kw.get("id_col", "id")
    return [[(r.distance, r[id_col]) for r in rs]
            for rs in fuzzy_search_collect(df, queries, k, **kw)]


@pytest.fixture(scope="module")
def tied_docs(spark):
    """Docs over 4 partitions with many equal distances: each text (one of
    7 words repeated 1-6 times) appears 3-4 times under different ids;
    plus an empty and a null doc.  Returns (docs, df, id → partition)."""
    from pyspark.sql import functions as F

    docs = [(i, ("word%d " % (i % 7)) * (1 + (i // 7) % 6)) for i in range(150)]
    docs += [(200, ""), (201, None), (202, "word1 word2 word3")]
    df = spark.createDataFrame(docs, "id long, doc string").repartition(4)
    df = df.cache()
    part = {r.id: r.p for r in
            df.select("id", F.spark_partition_id().alias("p")).collect()}
    return docs, df, part


@pytest.mark.parametrize("k", [1, 3, 153])
def test_fuzzy_topk_matches_brute_force(tied_docs, k):
    """k=1, k=3 and k=N: identical (distance, id) lists to the brute-force
    scan, ties at the k-th distance resolved by id across partitions."""
    docs, df, part = tied_docs
    qs = ["word1 word2 word3", "word4 " * 10, "word0"]
    brute = _brute_topk(docs, qs, k)
    if k < len(docs):
        # for "word0" the cut lands inside a tie that spans partitions
        ranked = _brute_topk(docs, qs, len(docs))[2]
        kth = ranked[k - 1][0]
        assert ranked[k][0] == kth
        assert len({part[i] for d, i in ranked if d == kth}) >= 2
    assert _collect(df, qs, k) == brute


def test_fuzzy_topk_carries_top_k_across_arrow_batches(spark, tied_docs):
    """With 7-row Arrow batches each task sees many batches; its running
    top-k (and the rows it points at) must carry over between them."""
    docs, df, _ = tied_docs
    qs = ["word1 word2 word3", "word0", ""]
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    old = spark.conf.get(key)
    spark.conf.set(key, "7")
    try:
        for k in (1, 3, 20):
            assert _collect(df, qs, k) == _brute_topk(docs, qs, k)
    finally:
        spark.conf.set(key, old)


def test_fuzzy_topk_length_bound_stops_scoring(monkeypatch):
    """The kernel stops scoring once the length bound passes the k-th
    distance, also in a later Arrow batch.  For 'x'*5 against 'x'*L the
    distance equals the bound, so with k=2 only the two winners are
    scored: the next doc's bound already exceeds the 2nd distance."""
    import pyarrow as pa

    from vector_db_at_home_spark.functions.fuzzy import indel_ratio_fn
    from vector_db_at_home_spark.operators import fuzzysearch

    scored = []

    def counting_fn(query):
        ratio = indel_ratio_fn(query)
        return lambda doc: scored.append(doc) or ratio(doc)

    monkeypatch.setattr(fuzzysearch, "indel_ratio_fn", counting_fn)
    docs = [(i, "x" * (5 + 13 * i)) for i in range(20)]
    batches = [pa.RecordBatch.from_pylist([{"id": i, "doc": d} for i, d in part])
               for part in (docs[:10], docs[10:])]
    kernel = fuzzysearch._topk_kernel(["x" * 5], 2, "doc", "id")
    out = pa.Table.from_batches(list(kernel(iter(batches))))
    got = sorted(zip(out.column("distance").to_pylist(),
                     out.column("id").to_pylist()))
    assert [got] == _brute_topk(docs, ["x" * 5], 2)
    assert len(scored) == 2


def test_fuzzy_topk_k_over_n_truncates(tied_docs):
    docs, df, _ = tied_docs
    got = _collect(df, ["word2"], 1000)
    assert len(got[0]) == len(docs)
    assert got == _brute_topk(docs, ["word2"], 1000)


def test_fuzzy_topk_empty_store_and_empty_query(spark, tied_docs):
    from vector_db_at_home_spark.operators.fuzzysearch import (
        fuzzy_search_collect,
    )

    empty = spark.createDataFrame([], "id long, doc string")
    assert fuzzy_search_collect(empty, ["x", ""], 3) == [[], []]
    docs, df, _ = tied_docs
    # "" vs "" and "" vs null are distance 0, tie broken by id
    got = _collect(df, [""], 3)
    assert got == [[(0.0, 200), (0.0, 201), (100.0, 0)]]
    assert got == _brute_topk(docs, [""], 3)


def test_fuzzy_topk_many_queries_doc_id_and_payload(spark):
    """Forty queries in one call against a ``doc_id``-keyed table whose
    other columns ride along unchanged; the DataFrame wrapper keeps the
    column names, types and order."""
    from vector_db_at_home_spark.operators.fuzzysearch import (
        fuzzy_search_by_doc,
    )

    rows = [(i, ("tok%d " % (i % 9)) * (1 + i % 15), f"p{i}", [float(i)])
            for i in range(60)]
    rows += [(100, None, "pnull", [0.5])]
    df = spark.createDataFrame(
        rows, "doc_id long, text string, tag string, vec array<float>"
    ).repartition(3)
    qs = ["tok%d tok%d" % (i % 9, (i + 1) % 9) for i in range(40)]
    k = 4
    got = _collect(df, qs, k, doc_col="text", id_col="doc_id")
    assert got == _brute_topk([(r[0], r[1]) for r in rows], qs, k)

    res = fuzzy_search_by_doc(df, qs, k, doc_col="text", id_col="doc_id")
    assert res.columns == ["query_id", "doc_id", "text", "tag", "vec",
                           "distance"]
    assert dict(res.dtypes)["query_id"] == "int"
    out = res.collect()
    assert [(r.query_id, r.distance, r.doc_id) for r in out] == [
        (qi, d, i) for qi, hits in enumerate(got) for d, i in hits]
    by_id = {r[0]: r for r in rows}
    for r in out:
        assert (r.text, r.tag, r.vec) == by_id[r.doc_id][1:]


def test_antidiagonal_duckdb_oracle_matches_bitparallel_lcs():
    """r8: the full-corpus search_by_doc oracle's anti-diagonal
    recursive-CTE LCS (registry._search_by_doc_oracle_sql) must agree
    with the engine's bit-parallel kernel on adversarial strings —
    repeats, overlaps, empty-ish, unicode, and length extremes."""
    import duckdb

    from vector_db_at_home_spark.functions.fuzzy import _lcs_length
    from vector_db_at_home_spark.registry import _search_by_doc_oracle_sql

    docs = [
        (0, "aaaa"), (1, "ababab"), (2, "the fast key order sort table"),
        (3, "x"), (4, "zz yy zz yy zz"), (5, "sortspark window"),
        (6, "completely unrelated words here"),
        (7, "spark window merge sort"),          # exact probe match
        (8, "a" * 200), (9, ("spark " * 40).strip()),
    ]
    queries = ["spark window merge sort", "aab"]
    con = duckdb.connect()
    con.sql("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", docs)
    sql = _search_by_doc_oracle_sql(queries, k=len(docs))
    got = {(q, d): dist for q, d, dist in con.sql(sql).fetchall()}
    assert len(got) == len(queries) * len(docs)
    for qid, q in enumerate(queries):
        for did, text in docs:
            lcs = _lcs_length(q, text)
            total = len(q) + len(text)
            expect = round(
                100.0 - 100.0 * (1.0 - (total - 2 * lcs) / total), 6)
            assert abs(got[(qid, did)] - expect) < 1e-9, (qid, did)
