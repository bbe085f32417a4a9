"""MaxSim serving smoke (r10; 1M point + component isolation r11):
corpus-scan vs index-served walls at two corpus scales 10× apart.

The scan path re-tokenizes + re-embeds every distinct corpus token per
query; the indexed path reads the persisted vocab + the fixed-width
(tok, id) postings.  The claim to verify: both return IDENTICAL integer
rankings, and the indexed wall stays vocab/postings-bound while the
scan's grows with corpus text.

r11 (VERDICT r10 task 7) adds per-scale isolation of the two serving
components the corpus-independence claim rests on: the VOCAB-SCAN leg
(tokvecs distinct + broadcast-query dot agg — vocab-sized, so its wall
must not track corpus growth once the derived vocab saturates) and the
PRUNED POSTINGS READ (bytes under the pbk partition dirs the positive
dots actually select vs the dataset total).

Run: python tools/maxsim_serving_smoke.py [n_small]
(n_small=100000 gives the 100k + 1M pair)
"""
import json
import sys
import time

from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

N1 = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000

from vector_db_at_home_spark.session import get_spark  # noqa: E402

spark = get_spark("maxsim_serving_smoke")
spark.sparkContext.setLogLevel("ERROR")

from vector_db_at_home_spark.operators.featurize import (
    maxsim_index_load,
    maxsim_index_save,
    maxsim_search,
    maxsim_search_indexed,
)

WORDS = ["vector", "merge", "batch", "store", "query", "index", "token",
         "stream", "shard", "probe", "rank", "fuse", "scan", "cache"]


def corpus(n):
    # ~30 tokens/doc from a 10k-word derived vocab (word + doc-hash
    # suffixes), plus planted query-term hits on a 1% slice
    base = spark.range(n).select(
        F.col("id").alias("doc_id"),
        F.concat_ws(
            " ",
            *[F.concat(F.lit(WORDS[i % len(WORDS)]),
                       (F.pmod(F.xxhash64(F.col("id") + i), F.lit(700))))
              for i in range(30)],
        ).alias("text"),
    )
    return base.withColumn(
        "text",
        F.when(F.col("doc_id") % 100 == 0,
               F.concat(F.col("text"), F.lit(" vector merge batch")))
        .otherwise(F.col("text")),
    )


terms = ["vector", "merge", "batch"]
out = {"terms": terms, "scales": []}
import tempfile

for n in (N1, 10 * N1):
    docs = corpus(n).repartition(32).cache()
    docs.count()
    path = tempfile.mkdtemp(prefix=f"ms_smoke_{n}_")
    t0 = time.time()
    # 4096 fine token cells (~2-3 tokens each) on this ~10k-token derived
    # vocab: the per-(cell, bucket) bounding-box bound needs FINE cells
    # to prove dots ≤ 0 (at 64 coarse cells every box straddles zero —
    # measured 0% skip); fine cells align with the stem+suffix groups
    maxsim_index_save(docs, "text", "doc_id", path, dim=16, n_buckets=64,
                      n_token_cells=4096)
    build = round(time.time() - t0, 2)
    idx = maxsim_index_load(spark, path)

    t0 = time.time()
    scan = [tuple(r) for r in maxsim_search(
        docs, terms, "text", "doc_id", k=10, dim=16).collect()]
    scan_wall = round(time.time() - t0, 2)
    t0 = time.time()
    served = [tuple(r) for r in maxsim_search_indexed(
        idx, terms, k=10).collect()]
    warm = round(time.time() - t0, 2)
    t0 = time.time()
    served2 = [tuple(r) for r in maxsim_search_indexed(
        idx, terms, k=10).collect()]
    warm2 = round(time.time() - t0, 2)

    # component isolation (r11): the vocab-scan + dot leg alone, and the
    # pruned postings bytes the winner tokens' pbk partitions cover
    import os

    from vector_db_at_home_spark.operators.featurize import (
        _tok_pbk,
        _token_vectors,
    )

    qdf = spark.createDataFrame([(t.lower(),) for t in terms], "qt string")
    qvec = _token_vectors(qdf, "qt", 16, "qval")
    t0 = time.time()
    dots = (idx.tokvecs.distinct()
            .join(F.broadcast(qvec), "bucket")
            .groupBy("tok", "qt")
            .agg(F.sum(F.col("val") * F.col("qval")).alias("dot")))
    pbks = sorted({r["pbk"] for r in dots.filter(F.col("dot") > 0)
                   .withColumn("pbk",
                               _tok_pbk(F.col("tok"), idx.n_buckets))
                   .select("pbk").distinct().collect()})
    vocab_scan_s = round(time.time() - t0, 2)

    def dir_bytes(d):
        return sum(os.path.getsize(os.path.join(r, f))
                   for r, _dirs, files in os.walk(d) for f in files)

    # r12 (VERDICT r11 task 4): the PLAID-style cell-gated serve on the
    # SAME adversarial fixture where the pbk prune reads everything —
    # bytes under the surviving cell partitions vs the cell copy total,
    # plus wall and a bit-equality check against the full serve
    from vector_db_at_home_spark.operators.featurize import (
        maxsim_search_indexed_pruned,
    )

    cnt: dict = {}
    t0 = time.time()
    pruned = [tuple(r) for r in maxsim_search_indexed_pruned(
        idx, terms, k=10, counters=cnt).collect()]
    pruned_wall = round(time.time() - t0, 2)
    alive = cnt.get("alive_cells") or []

    out["scales"].append({
        "n_docs": n,
        "vocab_rows": spark.read.parquet(f"{path}/tokvecs").count(),
        "postings_rows": spark.read.parquet(f"{path}/postings").count(),
        "index_build_s": build,
        "scan_wall_s": scan_wall,
        "indexed_wall_s": min(warm, warm2),
        "vocab_scan_s": vocab_scan_s,
        "postings_pbk_selected": len(pbks),
        "postings_bytes_total": dir_bytes(f"{path}/postings"),
        "postings_bytes_pruned": sum(
            dir_bytes(f"{path}/postings/pbk={b}") for b in pbks),
        "identical": scan == served == served2,
        "plaid_wall_s": pruned_wall,
        "plaid_cells_alive": cnt.get("n_cells_alive"),
        "plaid_cells_total": cnt.get("n_cells_total"),
        "plaid_fallback": cnt.get("fallback"),
        "plaid_bytes_total": dir_bytes(f"{path}/postings_cell"),
        "plaid_bytes_read": sum(
            dir_bytes(f"{path}/postings_cell/cell={c}") for c in alive),
        "plaid_identical": pruned == served,
    })

    # the PLAID legs at dim 64: at dim 16 the ranking tail is
    # collision-tie noise (max-dot winners are random cross-stem
    # tokens; measured — exact 0-gate skips only ~38% and bounded
    # recall@10 is 0.3-0.5 purely through tie churn), so the regime the
    # cell gate exists for needs dots that track real trigram overlap.
    # Same corpus, same vocab; dim 64 / 4096 cells.
    path64 = tempfile.mkdtemp(prefix=f"ms_smoke64_{n}_")
    t0 = time.time()
    maxsim_index_save(docs, "text", "doc_id", path64, dim=64,
                      n_buckets=64, n_token_cells=4096)
    build64 = round(time.time() - t0, 2)
    idx64 = maxsim_index_load(spark, path64)
    t0 = time.time()
    served64 = [tuple(r) for r in maxsim_search_indexed(
        idx64, terms, k=10).collect()]
    full64_wall = round(time.time() - t0, 2)
    cnt64: dict = {}
    t0 = time.time()
    pruned64 = [tuple(r) for r in maxsim_search_indexed_pruned(
        idx64, terms, k=10, counters=cnt64).collect()]
    pruned64_wall = round(time.time() - t0, 2)
    cntb: dict = {}
    t0 = time.time()
    bounded = [tuple(r) for r in maxsim_search_indexed_pruned(
        idx64, terms, k=10, counters=cntb, cells_per_term=64).collect()]
    bounded_wall = round(time.time() - t0, 2)
    exact_ids = {r[0] for r in served64}
    out["scales"][-1].update({
        "dim64_build_s": build64,
        "dim64_full_wall_s": full64_wall,
        "dim64_exactgate_wall_s": pruned64_wall,
        "dim64_exactgate_cells_alive": cnt64.get("n_cells_alive"),
        "dim64_exactgate_identical": pruned64 == served64,
        "dim64_bytes_total": dir_bytes(f"{path64}/postings_cell"),
        "dim64_exactgate_bytes_read": sum(
            dir_bytes(f"{path64}/postings_cell/cell={c}")
            for c in (cnt64.get("alive_cells") or [])),
        "dim64_bounded_wall_s": bounded_wall,
        "dim64_bounded_cells_alive": cntb.get("n_cells_alive"),
        "dim64_bounded_fallback": cntb.get("fallback"),
        "dim64_bounded_bytes_read": sum(
            dir_bytes(f"{path64}/postings_cell/cell={c}")
            for c in (cntb.get("alive_cells") or [])),
        "dim64_bounded_recall_at_10": round(
            len(exact_ids & {r[0] for r in bounded}) / 10, 2),
    })
    docs.unpersist()
print(json.dumps(out))
spark.stop()
