"""10× smoke for auto-derived n_blocks (VERDICT r9 task 3).

Runs cosine_admit_blocked with n_blocks=None at two corpus scales 10×
apart and reports the derived per-side block counts, the max resident
block any task holds (actual pmod(xxhash64) bucket sizes), and wall —
the point is resident-rows ~FLAT across the 10× while a fixed
n_blocks=8 would grow them 10×.

Run: python tools/autoblocks_smoke.py [n_small]
"""
import json
import sys
import time

import numpy as np
from pyspark.sql import functions as F

sys.path.insert(0, "/root/repo")

N1 = int(sys.argv[1]) if len(sys.argv) > 1 else 20_000
DIM = 32

from vector_db_at_home_spark.session import get_spark  # noqa: E402

spark = get_spark("autoblocks_smoke")
spark.sparkContext.setLogLevel("ERROR")

from vector_db_at_home_spark.operators.dedup import (
    _derive_n_blocks,
    cosine_admit_blocked,
)


def mk(n, seed, base=0):
    rng = np.random.default_rng(seed)
    m = rng.standard_normal((n, DIM))
    return spark.createDataFrame(
        [(base + i, [float(x) for x in m[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    ).repartition(32).cache()


out = {"target_block_rows": 8192, "scales": []}
for n_cor in (N1, 10 * N1):
    corpus = mk(n_cor, 7)
    batch = mk(max(1, n_cor // 100), 11, base=10_000_000)
    corpus.count(); batch.count()
    nb_a = _derive_n_blocks(batch.count(), 8192)
    nb_b = _derive_n_blocks(n_cor, 8192)
    max_block = int(
        corpus.select(F.pmod(F.xxhash64("vec_id"), F.lit(nb_b))
                      .alias("b"))
        .groupBy("b").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n")).first()[0])
    fixed_block = int(
        corpus.select(F.pmod(F.xxhash64("vec_id"), F.lit(8)).alias("b"))
        .groupBy("b").agg(F.count(F.lit(1)).alias("n"))
        .agg(F.max("n")).first()[0])
    t0 = time.time()
    n_admit = cosine_admit_blocked(
        batch, corpus, "embedding", "vec_id", 0.9).count()
    wall = round(time.time() - t0, 2)
    out["scales"].append({
        "n_corpus": n_cor, "derived_blocks": [nb_a, nb_b],
        "max_resident_rows_auto": max_block,
        "max_resident_rows_fixed8": fixed_block,
        "wall_s": wall, "n_admitted": n_admit,
    })
    corpus.unpersist(); batch.unpersist()
print(json.dumps(out))
spark.stop()
