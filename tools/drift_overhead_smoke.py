"""Drift-monitor overhead smoke (r10): per-sync cost of the centroid-
drift measurement in ivf_sync_with_store at a 200k-row index.

The stat is one broadcast join + agg over the NEW rows only; this
measures it directly by syncing the same batch shape into two saved
stores — one with the r10 drift baseline, one with the baseline file
removed (the pre-r10 no-op path).  The no-drift variant runs FIRST so
JVM/shuffle warmup lands on it — biasing the measured overhead AGAINST
the drift path (a first committed run with the order reversed measured
a phantom ~29 s/sync that was entirely cold-start).

Run: python tools/drift_overhead_smoke.py [n_index]
"""
import json
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, "/root/repo")

N = int(sys.argv[1]) if len(sys.argv) > 1 else 200_000
DIM = 32
BATCH = 5_000

from vector_db_at_home_spark.session import get_spark  # noqa: E402

spark = get_spark("drift_overhead_smoke")
spark.sparkContext.setLogLevel("ERROR")

from vector_db_at_home_spark.operators.ann import ivf_build, ivf_save, \
    ivf_sync_with_store


class Store:
    def __init__(self, df_):
        self._df = df_

    def df(self):
        return self._df


rng = np.random.default_rng(9)
mat = rng.standard_normal((N + 3 * BATCH, DIM))
base = spark.createDataFrame(
    [(i, [float(x) for x in mat[i]]) for i in range(N)],
    "id long, vec array<double>",
).repartition(32).cache()
base.count()
ivf = ivf_build(base, n_cells=64, seed=1)

out = {"n_index": N, "batch": BATCH, "walls": {}}
for variant in ("without_drift", "with_drift"):
    path = tempfile.mkdtemp(prefix=f"drift_oh_{variant}_")
    ivf_save(ivf, path)
    if variant == "without_drift":
        shutil.rmtree(f"{path}/drift", ignore_errors=True)
    walls = []
    cur = base
    for b in range(3):
        lo = N + b * BATCH
        nb = spark.createDataFrame(
            [(i, [float(x) for x in mat[i]]) for i in range(lo, lo + BATCH)],
            "id long, vec array<double>",
        )
        cur = cur.unionByName(nb)
        s = {}
        t0 = time.time()
        n = ivf_sync_with_store(spark, Store(cur), path, stats=s)
        walls.append(round(time.time() - t0, 2))
        assert n == BATCH, n
    out["walls"][variant] = walls
    if variant == "with_drift":
        out["last_drift_ratio"] = round(s.get("drift_ratio", -1), 3)
    shutil.rmtree(path, ignore_errors=True)
wd, wo = out["walls"]["with_drift"], out["walls"]["without_drift"]
out["overhead_s_per_sync"] = round(sum(wd) / 3 - sum(wo) / 3, 2)
print(json.dumps(out))
spark.stop()
