"""Hot-cell skew smoke for ann.cosine_admit_ivf (VERDICT r9 task 1).

Builds a deliberately skewed corpus (~90% of rows share a dominant
direction, so k-means concentrates them in ONE cell), screens a batch
through the IVF admit tier guarded (max_cell_rows) and unguarded, and
reports:

- the max resident blob per task under each setting — computed from the
  SAME routing math the operator uses (per-cell counts, then
  pmod(xxhash64(id), n_sub) sub-block membership), i.e. the actual
  largest matrix any single GEMM task holds;
- wall time for both;
- decision-set equality (the guard must be semantics-free).

Run: python tools/admit_ivf_skew_smoke.py [n_corpus] [dim]
"""
import json
import math
import sys
import time

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

N = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
DIM = int(sys.argv[2]) if len(sys.argv) > 2 else 32
CAP = 8192

from vector_db_at_home_spark.session import get_spark  # noqa: E402

spark = get_spark("admit_ivf_skew_smoke")
spark.sparkContext.setLogLevel("ERROR")

from vector_db_at_home_spark.operators.ann import cosine_admit_ivf, ivf_build

from vector_db_at_home_spark.operators.ann import ivf_append

# The realistic hot-cell former: centroids fit on an in-distribution
# seed corpus, then a DRIFTED ingest stream appends 90% of the index
# near ONE old centroid (ivf_append assigns to nearest EXISTING cell —
# no refit, so the cell just grows).  This is exactly the long-lived
# admit-loop shape the guard exists for.
rng = np.random.default_rng(42)
seed_n = max(1, N // 10)
seed = rng.standard_normal((seed_n, DIM)) * 0.05
seed[:, 0] += 20.0 * (np.arange(seed_n) % 16)   # 16 spread clusters
corpus = spark.createDataFrame(
    [(i, [float(x) for x in seed[i]]) for i in range(seed_n)],
    "vec_id long, embedding array<double>",
).repartition(32).cache()
corpus.count()

ivf = ivf_build(corpus, id_col="vec_id", vec_col="embedding", n_cells=16)
drift_n = N - seed_n
drift = rng.standard_normal((drift_n, DIM)) * 0.05   # all near cluster 0
drifted = spark.createDataFrame(
    [(1_000_000 + i, [float(x) for x in drift[i]]) for i in range(drift_n)],
    "vec_id long, embedding array<double>",
).repartition(32)
ivf = ivf_append(ivf, drifted, id_col="vec_id", vec_col="embedding")

bn = max(1, N // 100)
bmat = rng.standard_normal((bn, DIM)) * 0.05
bmat[bn // 2:, 0] += 20.0 * 5    # half in the hot cell, half elsewhere
batch = spark.createDataFrame(
    [(10_000_000 + i, [float(x) for x in bmat[i]]) for i in range(bn)]
    + [(20_000_000 + j, [float(x) for x in drift[j]]) for j in range(50)],
    "vec_id long, embedding array<double>",
).cache()
batch.count()
ivf.assigned = ivf.assigned.cache()
sizes = {int(r["cell"]): int(r["n"]) for r in
         ivf.assigned.groupBy("cell").agg(F.count(F.lit(1)).alias("n"))
         .collect()}


def max_blob_rows(cap):
    """Largest index-side packed matrix any task holds, by the
    operator's own routing: cells split into ceil(n/cap) sub-blocks by
    pmod(xxhash64(id), n_sub)."""
    worst = 0
    for cell, n in sizes.items():
        nsub = max(1, math.ceil(n / cap))
        if nsub == 1:
            worst = max(worst, n)
            continue
        got = (ivf.assigned.filter(F.col("cell") == cell)
               .select(F.pmod(F.xxhash64("id"), F.lit(nsub)).alias("b"))
               .groupBy("b").agg(F.count(F.lit(1)).alias("n"))
               .agg(F.max("n")).first()[0])
        worst = max(worst, int(got))
    return worst


out = {"n_corpus": N, "dim": DIM, "cap": CAP,
       "cell_sizes_top3": sorted(sizes.values(), reverse=True)[:3]}

t0 = time.time()
plain = {r.id for r in cosine_admit_ivf(
    batch, ivf, "embedding", "vec_id", 0.999, n_probes=4,
    max_cell_rows=10**9).collect()}
out["unguarded_wall_s"] = round(time.time() - t0, 2)
t0 = time.time()
guarded = {r.id for r in cosine_admit_ivf(
    batch, ivf, "embedding", "vec_id", 0.999, n_probes=4,
    max_cell_rows=CAP).collect()}
out["guarded_wall_s"] = round(time.time() - t0, 2)
out["decisions_equal"] = guarded == plain
out["n_admitted"] = len(guarded)

rows_plain = max_blob_rows(10**9)
rows_guard = max_blob_rows(CAP)
out["max_blob_rows_unguarded"] = rows_plain
out["max_blob_rows_guarded"] = rows_guard
out["max_blob_mb_unguarded"] = round(rows_plain * DIM * 8 / 2**20, 1)
out["max_blob_mb_guarded"] = round(rows_guard * DIM * 8 / 2**20, 1)
print(json.dumps(out))
spark.stop()
