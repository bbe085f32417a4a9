"""Serving-path bench (r11, VERDICT r10 task 4): round-over-round wall
for the four persisted-index serving paths, split into BUILD (index
save + O(batch) append — paid once per corpus) and SERVE (the query
through the loaded index — paid per request).

The headline bench (bench.py) predates the serving stack; a regression
in any serving leg was invisible between rounds.  This emits ONE JSON
line to commit as ``BENCH_SERVING_r{N}.json`` with BASELINE.md carrying
the band:

- ``bm25`` + ``phrase``: the positional inverted index (built once,
  both legs serve through it — the production sharing shape);
- ``maxsim``: the late-interaction token-vector index;
- ``graph``: k-NN graph build, broadcast prepare (the once-per-session
  cost), and the single-job mapInPandas beam serve.

r12 adds the round's serving capabilities as first-class legs:

- ``bm25_batch32`` / ``phrase_batch16`` / ``maxsim_batch32``: the
  batch-query forms — one plan per query SET; the companion
  ``*_batch_speedup_x`` fields record batched wall vs (n × the
  single-query wall), the amortization a query batch exists to buy;
- ``maxsim_pruned`` / ``maxsim_pruned_bounded``: the PLAID-style
  cell-gated serve (exact 0-gate; bounded top-2-cells-per-term).

Serve walls are min-of-3 (same rationale as bench.py); builds are
one-shot (they dominate their own noise).  Fixed scale: the sf dir's
documents/embeddings tables (default /root/testdata/sf0.1 — 5k docs,
2k×64 embeddings).

Run: python tools/serving_bench.py [sf_dir]
"""
import json
import shutil
import sys
import tempfile
import time

sys.path.insert(0, "/root/repo")

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"


def main() -> None:
    from pyspark.sql import functions as F

    from vector_db_at_home_spark.session import get_spark
    from vector_db_at_home_spark.sources import load_table

    spark = get_spark("serving_bench")
    spark.sparkContext.setLogLevel("ERROR")

    from vector_db_at_home_spark.operators.featurize import (
        maxsim_index_load,
        maxsim_index_save,
        maxsim_search_indexed,
    )
    from vector_db_at_home_spark.operators.invindex import (
        bm25_search_indexed,
        invindex_append,
        invindex_load,
        invindex_save,
        phrase_search_indexed,
    )
    from vector_db_at_home_spark.operators.knngraph import (
        graph_ann_search_serving,
        graph_serving_prepare,
        knn_graph_nndescent,
        knngraph_load,
        knngraph_save,
    )

    docs = load_table(spark, SF_DIR, "documents")
    emb = load_table(spark, SF_DIR, "embeddings")
    docs.count(), emb.count()  # page cache + codegen warm
    terms = ["vector", "merge", "batch"]
    phrase = "the data"
    work = tempfile.mkdtemp(prefix="serving_bench_")
    t: dict[str, float] = {}

    def timed(key, fn, reps=1):
        walls = []
        out = None
        for _ in range(reps):
            t0 = time.time()
            out = fn()
            walls.append(time.time() - t0)
        t[key] = round(min(walls), 3)
        return out

    try:
        # --- inverted index: one build, two serving legs -------------
        inv = f"{work}/invindex"

        def build_inv():
            invindex_save(docs.filter(F.col("doc_id") % 7 != 0),
                          "text", "doc_id", inv, n_buckets=32)
            invindex_append(spark, inv,
                            docs.filter(F.col("doc_id") % 7 == 0),
                            "text", "doc_id")

        timed("invindex_build_s", build_inv)
        idx = invindex_load(spark, inv)
        timed("bm25_serve_s",
              lambda: bm25_search_indexed(idx, terms, k=10).collect(),
              reps=3)
        timed("phrase_serve_s",
              lambda: phrase_search_indexed(idx, phrase).collect(),
              reps=3)

        # --- r12 batch legs over the same store -----------------------
        from vector_db_at_home_spark.operators.invindex import (
            bm25_search_indexed_batch,
            phrase_search_indexed_batch,
        )

        vocab = ["vector", "merge", "batch", "scan", "join", "query",
                 "window", "sort", "hash", "stream", "filter", "table",
                 "group", "order", "key", "value"]
        bq = [(i, [vocab[i % 16], vocab[(i * 3 + 1) % 16],
                   vocab[(i * 7 + 2) % 16]]) for i in range(32)]
        bqdf = spark.createDataFrame(bq, "query_id long, "
                                         "terms array<string>")
        timed("bm25_batch32_serve_s",
              lambda: bm25_search_indexed_batch(idx, bqdf, k=10)
              .collect(), reps=3)
        pq = [(i, f"{vocab[i % 16]} {vocab[(i * 5 + 3) % 16]}")
              for i in range(16)]
        pqdf = spark.createDataFrame(pq, "query_id long, phrase string")
        timed("phrase_batch16_serve_s",
              lambda: phrase_search_indexed_batch(idx, pqdf).collect(),
              reps=3)
        from vector_db_at_home_spark.operators.hybrid import (
            hybrid_search_rrf_indexed,
            hybrid_search_rrf_indexed_batch,
        )

        emb4 = load_table(spark, SF_DIR, "embeddings")
        hq = [(i, [vocab[i % 16], vocab[(i * 3 + 1) % 16],
                   vocab[(i * 7 + 2) % 16]]) for i in range(16)]
        hqdf = spark.createDataFrame(hq, "query_id long, "
                                         "terms array<string>")
        hqv = emb4.filter(F.col("vec_id") < 16).select(
            F.col("vec_id").alias("query_id"),
            F.col("embedding").alias("qvec"))
        qv0 = emb4.filter(F.col("vec_id") == 0) \
            .select(F.col("embedding").alias("qvec"))
        timed("hybrid_serve_s",
              lambda: hybrid_search_rrf_indexed(
                  idx, emb4, terms, qv0, k=10, depth=50).collect(),
              reps=3)
        timed("hybrid_batch16_serve_s",
              lambda: hybrid_search_rrf_indexed_batch(
                  idx, emb4, hqdf, hqv, k=10, depth=50).collect(),
              reps=3)

        # --- MaxSim token-vector index (with the r12 cell layer) ------
        mx = f"{work}/maxsim"
        timed("maxsim_build_s",
              lambda: maxsim_index_save(docs, "text", "doc_id", mx,
                                        dim=16, n_buckets=32,
                                        n_token_cells=8))
        midx = maxsim_index_load(spark, mx)
        timed("maxsim_serve_s",
              lambda: maxsim_search_indexed(midx, terms, k=10).collect(),
              reps=3)
        from vector_db_at_home_spark.operators.featurize import (
            maxsim_search_indexed_batch,
            maxsim_search_indexed_pruned,
        )

        mq = [(i, [vocab[i % 16], vocab[(i * 5 + 2) % 16],
                   vocab[(i * 11 + 4) % 16]]) for i in range(32)]
        mqdf = spark.createDataFrame(mq, "query_id long, "
                                         "terms array<string>")
        timed("maxsim_batch32_serve_s",
              lambda: maxsim_search_indexed_batch(midx, mqdf, k=10)
              .collect(), reps=3)
        timed("maxsim_pruned_serve_s",
              lambda: maxsim_search_indexed_pruned(midx, terms, k=10)
              .collect(), reps=3)
        timed("maxsim_pruned_bounded_serve_s",
              lambda: maxsim_search_indexed_pruned(midx, terms, k=10,
                                                   cells_per_term=2)
              .collect(), reps=3)

        # --- graph serving (build → prepare → warm serve) -------------
        base = emb.select(F.col("vec_id").alias("id"),
                          F.col("embedding").cast("array<double>")
                          .alias("vec"))
        gpath = f"{work}/graph"

        def build_graph():
            g = knn_graph_nndescent(base, "id", "vec", k=20,
                                    init_bucket_size=64)
            knngraph_save(g, base, gpath, k=20)

        timed("graph_build_s", build_graph)
        gidx = knngraph_load(spark, gpath)
        prepared = timed(
            "graph_prepare_s",
            lambda: graph_serving_prepare(gidx.vectors, gidx.edges,
                                          fingers=gidx.fingers))
        qs = (emb.orderBy("vec_id").limit(32)
              .select(F.col("vec_id").alias("query_id"),
                      F.col("embedding").cast("array<double>")
                      .alias("qvec")))
        timed("graph_serve_s",
              lambda: graph_ann_search_serving(prepared, qs, k=5).collect(),
              reps=3)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    serve_total = round(sum(v for k, v in t.items()
                            if k.endswith("_serve_s")), 3)
    # batched wall vs n × single wall — the amortization the batch
    # forms exist to buy (single walls are the same-store min-of-3)
    t["bm25_batch_speedup_x"] = round(
        32 * t["bm25_serve_s"] / max(t["bm25_batch32_serve_s"], 1e-9), 1)
    t["phrase_batch_speedup_x"] = round(
        16 * t["phrase_serve_s"]
        / max(t["phrase_batch16_serve_s"], 1e-9), 1)
    t["maxsim_batch_speedup_x"] = round(
        32 * t["maxsim_serve_s"]
        / max(t["maxsim_batch32_serve_s"], 1e-9), 1)
    t["hybrid_batch_speedup_x"] = round(
        16 * t["hybrid_serve_s"]
        / max(t["hybrid_batch16_serve_s"], 1e-9), 1)
    print(json.dumps({
        "metric": "serving_paths_serve_total_wall",
        "value": serve_total,
        "unit": "sec",
        "paths": t,
        "sf": float(SF_DIR.rstrip("/").rsplit("sf", 1)[-1]),
    }))
    spark.stop()


if __name__ == "__main__":
    main()
