"""SemDeDup auto-scale smoke (VERDICT r8 task 1): show that with
``n_cells=None`` the within-cell compare-set size stays ~FLAT as the
corpus grows 10x, while a fixed cell count grows it ~10x (and the
blocked-path fallback toward quadratic work with it).

Compare-set size per row = sum_cells C(n_i, 2) / N — the expected number
of cosine comparisons each row participates in.  With auto cells
(clamp(ceil(N / 4096), 8, 65536)) the expected cell size is pinned at
~4096 regardless of N, so this metric is ~constant; with fixed cells it
grows linearly in N.

Synthetic corpus: 64-dim embeddings drawn from 256 Gaussian clusters
(seeded, deterministic) — clustered like real embedding distributions so
k-means has real structure to find.  Run:

    python tools/semdedup_autoscale_smoke.py [N_BASE]

Defaults to N_BASE=50_000 (and 10x = 500_000).  Prints one JSON line per
(scale, mode) with derived n_cells, max/mean cell rows, and compare-set
size per row.
"""
import json
import math
import sys
import time

sys.path.insert(0, "/root/repo")

import numpy as np
from pyspark.sql import functions as F

from vector_db_at_home_spark.session import get_spark


def make_corpus(spark, n, dim=64, n_clusters=256, seed=7):
    rng = np.random.default_rng(seed)
    centers = rng.normal(size=(n_clusters, dim)) * 4.0
    assign = rng.integers(0, n_clusters, size=n)
    mat = centers[assign] + rng.normal(size=(n, dim))
    pdf = [(int(i), [float(x) for x in mat[i]]) for i in range(n)]
    return spark.createDataFrame(pdf, "id long, vec array<double>") \
        .repartition(32).localCheckpoint(eager=True)


def cell_profile(spark, df, n_cells):
    """Assign-only pass (the prune cost driver): cell-size histogram."""
    from vector_db_at_home_spark.operators.ann import ivf_build

    assigned = ivf_build(df, n_cells=n_cells, seed=42).assigned
    sizes = assigned.groupBy("cell").agg(
        F.count(F.lit(1)).alias("n")).collect()
    ns = [int(r["n"]) for r in sizes]
    total = sum(ns)
    pairs = sum(c * (c - 1) // 2 for c in ns)
    return {
        "cells_nonempty": len(ns),
        "max_cell_rows": max(ns),
        "mean_cell_rows": round(total / len(ns), 1),
        "compare_set_per_row": round(pairs / total, 1),
    }


def main():
    n_base = int(sys.argv[1]) if len(sys.argv) > 1 else 50_000
    spark = get_spark("semdedup_autoscale_smoke")
    spark.sparkContext.setLogLevel("ERROR")
    for n in (n_base, 10 * n_base):
        df = make_corpus(spark, n)
        auto_cells = min(max(math.ceil(n / 4096), 8), 65536)
        for mode, cells in (("auto", auto_cells), ("fixed8", 8)):
            t0 = time.time()
            prof = cell_profile(spark, df, cells)
            print(json.dumps({
                "n_rows": n, "mode": mode, "n_cells": cells,
                **prof, "assign_wall_sec": round(time.time() - t0, 1),
            }), flush=True)
        df.unpersist()
    spark.stop()


if __name__ == "__main__":
    main()
