"""Positional inverted index / phrase search: hand-checkable counts,
overlap semantics, multi-term joins, edge cases."""

from __future__ import annotations

import pytest


def test_phrase_search_hand_counts(spark):
    from vector_db_at_home_spark.operators.invindex import phrase_search

    docs = spark.createDataFrame(
        [
            (1, "the cat sat on the cat mat"),
            (2, "the cat the cat the cat"),      # 3 matches, overlapping ok
            (3, "cat the"),                       # reversed — no match
            (4, "THE CAT"),                       # case-folded match
            (5, "completely unrelated text"),
        ],
        "doc_id long, text string",
    )
    got = {r.id: r.n_matches
           for r in phrase_search(docs, "the cat", "text", "doc_id")
           .collect()}
    assert got == {1: 2, 2: 3, 4: 1}

    # 3-term phrase: two positional joins
    got3 = {r.id: r.n_matches
            for r in phrase_search(docs, "the cat sat", "text", "doc_id")
            .collect()}
    assert got3 == {1: 1}

    # overlapping self-phrase: 'a a a a' contains 'a a' three times
    ov = spark.createDataFrame([(9, "a a a a")], "doc_id long, text string")
    assert phrase_search(ov, "a a", "text", "doc_id").first().n_matches == 3

    # single term degenerates to postings count
    one = {r.id: r.n_matches
           for r in phrase_search(docs, "cat", "text", "doc_id").collect()}
    assert one == {1: 2, 2: 3, 3: 1, 4: 1}

    with pytest.raises(ValueError):
        phrase_search(docs, "   ", "text", "doc_id")


def _corpus(spark):
    return spark.createDataFrame(
        [
            (1, "the cat sat on the cat mat"),
            (2, "the cat the cat the cat"),
            (3, "cat the"),
            (4, "THE CAT"),
            (5, "completely unrelated text"),
            (6, "the cat returns"),
            (7, "a dog and the cat"),
        ],
        "doc_id long, text string",
    )


def test_invindex_save_load_append_delete_compact(spark, tmp_path):
    """r8: the inverted index's full persistence contract (parity with
    ivf/pq/sq/knngraph): save/load round trip, O(batch) append,
    replay-idempotent append, tombstoned deletes vanish at load,
    compact removes them physically and dedups crash-window rows."""
    from vector_db_at_home_spark.operators.invindex import (
        invindex_append,
        invindex_compact_saved,
        invindex_load,
        invindex_save,
        invindex_sync_deletes,
        phrase_search,
        phrase_search_indexed,
    )

    docs = _corpus(spark)
    base = docs.filter("doc_id <= 4")
    batch = docs.filter("doc_id > 4")
    path = str(tmp_path / "inv")
    invindex_save(base, "text", "doc_id", path, n_buckets=8)

    idx = invindex_load(spark, path)
    assert idx.n_buckets == 8
    got = {r.id: r.n_matches
           for r in phrase_search_indexed(idx, "the cat").collect()}
    assert got == {1: 2, 2: 3, 4: 1}

    # append, then the indexed search equals the corpus-scan search
    assert invindex_append(spark, path, batch, "text", "doc_id") == 3
    idx2 = invindex_load(spark, path)
    expect = {r.id: r.n_matches
              for r in phrase_search(docs, "the cat", "text", "doc_id")
              .collect()}
    got2 = {r.id: r.n_matches
            for r in phrase_search_indexed(idx2, "the cat").collect()}
    assert got2 == expect == {1: 2, 2: 3, 4: 1, 6: 1, 7: 1}

    # replay of an admitted batch is a no-op
    assert invindex_append(spark, path, batch, "text", "doc_id") == 0
    assert {r.id: r.n_matches
            for r in phrase_search_indexed(
                invindex_load(spark, path), "the cat").collect()} == expect

    # crash-torn append window: duplicate posting rows present, docids
    # missing → the term-stream distinct keeps counts exact
    full = spark.read.parquet(f"{path}/postings")  # includes bucket col
    full.filter("id = 6").repartition(1).write.partitionBy("bucket") \
        .mode("append").parquet(f"{path}/postings")
    got_dup = {r.id: r.n_matches
               for r in phrase_search_indexed(
                   invindex_load(spark, path), "the cat").collect()}
    assert got_dup == expect

    # delete propagation
    class FakeStore:
        def __init__(self, df_):
            self._df = df_

        def df(self):
            return self._df

    live = docs.filter("doc_id <> 2").select("doc_id")
    assert invindex_sync_deletes(spark, FakeStore(
        live.withColumnRenamed("doc_id", "id")), path) == 1
    idx3 = invindex_load(spark, path)
    got3 = {r.id: r.n_matches
            for r in phrase_search_indexed(idx3, "the cat").collect()}
    assert got3 == {1: 2, 4: 1, 6: 1, 7: 1}

    # compact: physical removal, duplicate fold, tombstones cleared,
    # identical reads
    invindex_compact_saved(spark, path)
    import os

    assert not os.path.exists(f"{path}/tombstones")
    raw = spark.read.parquet(f"{path}/postings")
    assert raw.filter("id = 2").count() == 0
    assert raw.groupBy("term", "id", "pos").count() \
        .filter("count > 1").count() == 0
    got4 = {r.id: r.n_matches
            for r in phrase_search_indexed(
                invindex_load(spark, path), "the cat").collect()}
    assert got4 == got3
    # idempotent second sync
    assert invindex_sync_deletes(spark, FakeStore(
        live.withColumnRenamed("doc_id", "id")), path) == 0


def test_phrase_search_indexed_prunes_partitions(spark, tmp_path):
    """r8 plan pin: every postings scan in the indexed search carries a
    literal ``bucket = N`` PartitionFilter — the constant-folded
    ``pmod(xxhash64(term), B)`` — so a k-term phrase reads k buckets,
    never the whole store."""
    from vector_db_at_home_spark.operators.invindex import (
        invindex_load,
        invindex_save,
        phrase_search_indexed,
    )

    docs = _corpus(spark)
    path = str(tmp_path / "inv_prune")
    invindex_save(docs, "text", "doc_id", path, n_buckets=8)
    idx = invindex_load(spark, path)
    q = phrase_search_indexed(idx, "the cat")
    plan = q._jdf.queryExecution().executedPlan().toString()
    import re

    scans = [l for l in plan.split("\n") if "PartitionFilters" in l]
    assert len(scans) == 2  # one pruned scan per phrase term
    for line in scans:
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", line)
        assert m and re.search(r"bucket#\d+ = \d+", m.group(1)), line


def test_bm25_indexed_matches_corpus_scan(spark, tmp_path):
    """r9: BM25 through the loaded store is bit-identical to the
    corpus-scan bm25_search at every lifecycle point — after save,
    after append, through a crash-torn append window (duplicate
    postings AND doclens rows), after a tombstoned delete (the doc
    leaves the ranking and the idf/avgdl statistics), and after
    compact."""
    from vector_db_at_home_spark.operators.invindex import (
        bm25_search_indexed,
        invindex_append,
        invindex_compact_saved,
        invindex_load,
        invindex_save,
        invindex_sync_deletes,
    )
    from vector_db_at_home_spark.operators.tfidf import bm25_search

    docs = _corpus(spark)
    terms = ["cat", "the", "dog"]
    path = str(tmp_path / "inv_bm25")
    base, batch = docs.filter("doc_id <= 4"), docs.filter("doc_id > 4")
    invindex_save(base, "text", "doc_id", path, n_buckets=8)

    def scan(d):
        return bm25_search(d, terms, "text", "doc_id", k=10).collect()

    def indexed():
        return bm25_search_indexed(
            invindex_load(spark, path), terms, k=10).collect()

    assert indexed() == scan(base)

    invindex_append(spark, path, batch, "text", "doc_id")
    assert indexed() == scan(docs)

    # crash-torn append replay window: duplicate rows in BOTH tables
    full = spark.read.parquet(f"{path}/postings")
    full.filter("id = 6").repartition(1).write.partitionBy("bucket") \
        .mode("append").parquet(f"{path}/postings")
    lens = spark.read.parquet(f"{path}/doclens")
    lens.filter("id = 6").write.mode("append").parquet(f"{path}/doclens")
    assert indexed() == scan(docs)

    # delete: doc 2 leaves the ranking AND n_docs/avgdl
    class FakeStore:
        def __init__(self, df_):
            self._df = df_

        def df(self):
            return self._df

    live = docs.filter("doc_id <> 2")
    invindex_sync_deletes(
        spark, FakeStore(live.withColumnRenamed("doc_id", "id")), path)
    assert indexed() == scan(live)

    invindex_compact_saved(spark, path)
    assert indexed() == scan(live)
    # compact physically deduped doclens too
    raw = spark.read.parquet(f"{path}/doclens")
    assert raw.count() == raw.distinct().count() == live.count()


def test_bm25_indexed_prunes_partitions(spark, tmp_path):
    """r9 plan pin: every postings scan in the indexed BM25 carries a
    literal ``bucket = N`` PartitionFilter (one pruned scan per unique
    query term); the only other parquet read is the doclens long-pair
    table — the corpus text is never scanned."""
    from vector_db_at_home_spark.operators.invindex import (
        bm25_search_indexed,
        invindex_load,
        invindex_save,
    )

    docs = _corpus(spark)
    path = str(tmp_path / "inv_bm25_prune")
    invindex_save(docs, "text", "doc_id", path, n_buckets=8)
    idx = invindex_load(spark, path)
    q = bm25_search_indexed(idx, ["cat", "dog"], k=5)
    plan = q._jdf.queryExecution().executedPlan().toString()
    import re

    scans = [l for l in plan.split("\n") if "PartitionFilters" in l]
    pruned = [l for l in scans
              if re.search(r"PartitionFilters: \[.*bucket#\d+ = \d+",
                           l)]
    # two pruned scans per unique term: the tf leg and the df leg each
    # read the term's ONE bucket (same partition, read twice — the
    # shape bm25_search has always had for its corpus scan; here both
    # reads are ~1/B of the store)
    assert len(pruned) == 4
    # remaining scans: the doclens long-pair reads and the O(#gens)
    # dlstats corpus-scalar read (r12 — replaces a full doclens
    # aggregate; no bucket filter on either, by design)
    for line in scans:
        if line not in pruned:
            assert ("struct<id:bigint,dl:bigint>" in line
                    or "struct<gen:string,n_docs:bigint,total_toks:bigint>"
                    in line), line


def test_hybrid_indexed_prunes_partitions(spark, tmp_path):
    """r9 plan pin: the hybrid's indexed lexical leg reads one pruned
    postings partition per unique query term (literal ``bucket = N``);
    the only other parquet scans are the embeddings side."""
    from vector_db_at_home_spark.operators.hybrid import (
        hybrid_search_rrf_indexed,
    )
    from vector_db_at_home_spark.operators.invindex import (
        invindex_load,
        invindex_save,
    )

    docs = _corpus(spark)
    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(1, 8)],
        "vec_id long, embedding array<double>",
    )
    qvec = emb.filter("vec_id = 1").select(
        emb.embedding.alias("qvec"))
    path = str(tmp_path / "inv_hyb_prune")
    invindex_save(docs, "text", "doc_id", path, n_buckets=8)
    idx = invindex_load(spark, path)
    q = hybrid_search_rrf_indexed(idx, emb, ["cat", "dog"], qvec,
                                  k=5, depth=4)
    plan = q._jdf.queryExecution().executedPlan().toString()
    import re

    pruned = [l for l in plan.split("\n")
              if re.search(r"PartitionFilters: \[.*bucket#\d+ = \d+", l)]
    assert len(pruned) == 2  # one pruned postings scan per unique term


def test_query_term_normalization_parity(spark, tmp_path):
    """r10 (ADVICE r9): a query term containing a space or punctuation
    normalizes through the SAME tokenizer on the corpus-scan and the
    indexed paths — 'cat dog' splits into [cat, dog] in BOTH, and in
    regex mode 'cat-dog!' does too — so the advertised bit-identity
    holds for any query string, not just single-word terms."""
    from vector_db_at_home_spark.operators.invindex import (
        bm25_search_indexed,
        invindex_load,
        invindex_save,
    )
    from vector_db_at_home_spark.operators.tfidf import bm25_search

    docs = _corpus(spark)
    for mode, messy in (("space", ["cat dog", "the"]),
                        ("regex", ["cat-dog!", "the"])):
        path = str(tmp_path / f"inv_norm_{mode}")
        invindex_save(docs, "text", "doc_id", path, n_buckets=8,
                      tokenize_mode=mode)
        split = ["cat", "dog", "the"]
        scan_messy = bm25_search(docs, messy, "text", "doc_id", k=10,
                                 tokenize_mode=mode).collect()
        scan_split = bm25_search(docs, split, "text", "doc_id", k=10,
                                 tokenize_mode=mode).collect()
        idx_messy = bm25_search_indexed(
            invindex_load(spark, path), messy, k=10).collect()
        assert scan_messy == scan_split == idx_messy, mode


def test_invindex_readmit_tombstoned_id(spark, tmp_path):
    """r11 (ADVICE r10): re-admission under a tombstoned id resurfaces
    the doc's original postings/doclens immediately instead of
    appending rows the tombstone anti-join hides until compact."""
    from vector_db_at_home_spark.operators.invindex import (
        invindex_append,
        invindex_load,
        invindex_save,
        invindex_sync_deletes,
        phrase_search_indexed,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"),
         (2, "beta gamma delta"),
         (3, "gamma delta epsilon")],
        "doc_id long, text string",
    )
    path = str(tmp_path / "inv_readmit")
    invindex_save(docs, "text", "doc_id", path, n_buckets=8)

    class FakeStore:
        def __init__(self, df_):
            self._df = df_

        def df(self):
            return self._df

    live = docs.filter("doc_id <> 2")
    assert invindex_sync_deletes(
        spark, FakeStore(live.withColumnRenamed("doc_id", "id")), path) == 1
    assert sorted(r["id"] for r in phrase_search_indexed(
        invindex_load(spark, path), "beta gamma").select("id")
        .distinct().collect()) == [1]

    # re-admit (same content): visible immediately, nothing duplicated
    readd = docs.filter("doc_id = 2")
    assert invindex_append(spark, path, readd, "text", "doc_id") == 1
    idx = invindex_load(spark, path)
    assert sorted(r["id"] for r in phrase_search_indexed(
        idx, "beta gamma").select("id").distinct().collect()) == [1, 2]
    assert idx.docids.count() == idx.docids.distinct().count() == 3
    raw = spark.read.parquet(f"{path}/postings").filter("id = 2")
    assert raw.count() == raw.dropDuplicates(
        ["term", "id", "pos"]).count()
    assert invindex_append(spark, path, readd, "text", "doc_id") == 0


def test_dlstats_partials_track_doclens_exactly(spark, tmp_path):
    """r12: the O(#gens) dlstats partials must sum to EXACTLY the
    doclens aggregate after save, after append, and after a
    delete+compact cycle — they replace a per-query full doclens
    aggregate in the serving paths, so any drift is a scoring bug."""
    from pyspark.sql import functions as F

    from vector_db_at_home_spark.operators.invindex import (
        bm25_search_indexed,
        invindex_compact_saved,
        invindex_load,
        invindex_append,
        invindex_save,
        invindex_sync_deletes,
    )

    docs = spark.createDataFrame(
        [(i, f"w{i % 3} w{i % 5} common") for i in range(20)]
        + [(98, ""), (99, "   ")],            # token-less docs count too
        "doc_id long, text string",
    )

    def totals(idx):
        dl = idx.doclens.select("id", "dl").distinct()
        row = dl.agg(F.count(F.lit(1)).alias("n"),
                     F.coalesce(F.sum("dl"), F.lit(0)).alias("s")).first()
        st = idx.dlstats.dropDuplicates().agg(
            F.coalesce(F.sum("n_docs"), F.lit(0)).alias("n"),
            F.coalesce(F.sum("total_toks"), F.lit(0)).alias("s")).first()
        return (row.n, row.s), (st.n, st.s)

    path = str(tmp_path / "inv_dlstats")
    invindex_save(docs.filter("doc_id < 10"), "text", "doc_id", path,
                  n_buckets=4)
    got, st = totals(invindex_load(spark, path))
    assert st == got

    invindex_append(spark, path, docs.filter("doc_id >= 10"),
                    "text", "doc_id")
    idx = invindex_load(spark, path)
    got, st = totals(idx)
    assert st == got

    # pending tombstones invalidate the partials: serving must fall back
    # (scores already pinned vs the corpus scan elsewhere) and compaction
    # must fold one fresh gen that matches the filtered doclens again
    class _Store:
        def df(self_inner):
            return docs.filter("doc_id != 3")
    invindex_sync_deletes(spark, _Store(), path, id_col="doc_id")
    idx = invindex_load(spark, path)
    assert idx.has_tombstones
    # falls back to the doclens aggregate — same result either way
    assert bm25_search_indexed(idx, ["common"], k=5).count() == 5
    invindex_compact_saved(spark, path)
    idx = invindex_load(spark, path)
    assert not idx.has_tombstones
    got, st = totals(idx)
    assert st == got
