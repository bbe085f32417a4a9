"""Streaming vector-hook IVF sync smoke (r11, VERDICT r10 task 2):
per-micro-batch sync wall as the store grows, store-diff form vs the
id-watermark form the hook now uses.

Shape matches the streaming ingest loop: the store is an append-only
parquet dataset growing one FILE per micro-batch (monotone ids —
``store.insert`` max+1 allocation), and every batch starts by syncing
the saved IVF index with the store.  The store-diff form scans the
whole embedding store per sync (the anti-join's probe side); the
watermark form filters ``id > max(indexed id)`` so parquet min/max
stats prune the scan to the files appended since the last sync — the
per-batch cost the r10 batch-form ``ivf_append_saved`` removed from
the admit loop, removed here too.

Both forms land byte-identical index rows (pytest
``test_ivf_sync_watermark_equals_store_diff``); this measures the wall
trajectory only: store-diff grows with the corpus, watermark stays
flat.

r12 (VERDICT r11 task 6) adds the DIRECT form the hook now defaults
to: the micro-batch rows are already in hand at batch commit (the
``finish`` hook's localCheckpoint), so ``ivf_append_saved`` indexes
them without re-reading even the new store slice, then advances the
watermark.  Timed here per batch as ``direct_s`` against the same
growing store (byte-identical rows asserted at the end; pytest
``test_vector_neardup_direct_append_equals_watermark`` pins the
streaming wiring).

Run: python tools/streaming_ivf_sync_smoke.py [n_total] [batch] [dim]
(dim=256 makes the store scan non-trivial — the regime where the
store-diff form's full rescan per sync diverges from the watermark's
pruned read)
"""
import json
import shutil
import sys
import tempfile
import time

import numpy as np

sys.path.insert(0, "/root/repo")

N = int(sys.argv[1]) if len(sys.argv) > 1 else 400_000
BATCH = int(sys.argv[2]) if len(sys.argv) > 2 else 20_000
DIM = int(sys.argv[3]) if len(sys.argv) > 3 else 32

from vector_db_at_home_spark.session import get_spark  # noqa: E402

spark = get_spark("streaming_ivf_sync_smoke")
spark.sparkContext.setLogLevel("ERROR")

from vector_db_at_home_spark.operators.ann import (  # noqa: E402
    ivf_advance_sync_watermark,
    ivf_append_saved,
    ivf_build,
    ivf_save,
    ivf_sync_with_store,
    ivf_sync_with_store_watermark,
)


class _View:
    def __init__(self, df_):
        self._df = df_

    def df(self):
        return self._df


def mk_batch(lo, hi, seed):
    rng = np.random.default_rng(seed)
    mat = rng.standard_normal((hi - lo, DIM)).astype(np.float64)
    return spark.createDataFrame(
        [(lo + i, [float(x) for x in mat[i]]) for i in range(hi - lo)],
        "id long, vec array<double>",
    )


work = tempfile.mkdtemp(prefix="stream_ivf_sync_smoke_")
store_dir = f"{work}/store"
results = {"n_total": N, "batch": BATCH, "dim": DIM, "syncs": []}
try:
    # seed store + index on the first batch
    first = mk_batch(0, BATCH, 0)
    first.repartition(4).write.mode("overwrite").parquet(store_dir)
    idx_diff, idx_wm = f"{work}/idx_diff", f"{work}/idx_wm"
    idx_direct = f"{work}/idx_direct"
    ivf = ivf_build(first, n_cells=64, seed=1)
    ivf_save(ivf, idx_diff)
    ivf_save(ivf, idx_wm)
    ivf_save(ivf, idx_direct)

    n = BATCH
    b = 1
    while n < N:
        hi = min(n + BATCH, N)
        batch_df = mk_batch(n, hi, b)
        # one appended file per micro-batch, like stream_into_store
        batch_df.coalesce(1).write.mode("append").parquet(store_dir)
        store = _View(spark.read.parquet(store_dir))
        t0 = time.time()
        nd = ivf_sync_with_store(spark, store, idx_diff)
        t_diff = time.time() - t0
        t0 = time.time()
        nw = ivf_sync_with_store_watermark(spark, store, idx_wm)
        t_wm = time.time() - t0
        # the hook's finish path: rows in hand (materialized), no store
        # read at all; watermark advanced so the recovery sync stays a
        # pruned no-op
        pinned = batch_df.localCheckpoint(eager=True)
        t0 = time.time()
        nx = ivf_append_saved(spark, idx_direct, pinned)
        ivf_advance_sync_watermark(spark, idx_direct, hi - 1)
        t_direct = time.time() - t0
        assert nd == nw == nx == hi - n, (nd, nw, nx, hi - n)
        results["syncs"].append(
            {"index_rows_before": n, "batch_rows": hi - n,
             "store_diff_s": round(t_diff, 3),
             "watermark_s": round(t_wm, 3),
             "direct_s": round(t_direct, 3)})
        print(f"index={n:>8,}  store_diff={t_diff:6.2f}s  "
              f"watermark={t_wm:6.2f}s  direct={t_direct:6.2f}s")
        n = hi
        b += 1

    a = spark.read.parquet(f"{idx_diff}/assigned")
    bdf = spark.read.parquet(f"{idx_wm}/assigned")
    ddf = spark.read.parquet(f"{idx_direct}/assigned")
    assert a.count() == bdf.count() == ddf.count() == N
    rows_a = a.selectExpr("sum(id) s", "count(distinct id) d").first()
    rows_b = bdf.selectExpr("sum(id) s", "count(distinct id) d").first()
    rows_d = ddf.selectExpr("sum(id) s", "count(distinct id) d").first()
    assert tuple(rows_a) == tuple(rows_b) == tuple(rows_d)
    first3 = results["syncs"][:3]
    last3 = results["syncs"][-3:]
    results["store_diff_first3_s"] = round(
        sum(s["store_diff_s"] for s in first3) / 3, 3)
    results["store_diff_last3_s"] = round(
        sum(s["store_diff_s"] for s in last3) / 3, 3)
    results["watermark_first3_s"] = round(
        sum(s["watermark_s"] for s in first3) / 3, 3)
    results["watermark_last3_s"] = round(
        sum(s["watermark_s"] for s in last3) / 3, 3)
    results["direct_first3_s"] = round(
        sum(s["direct_s"] for s in first3) / 3, 3)
    results["direct_last3_s"] = round(
        sum(s["direct_s"] for s in last3) / 3, 3)
    print(json.dumps({k: v for k, v in results.items() if k != "syncs"}))
finally:
    shutil.rmtree(work, ignore_errors=True)
    spark.stop()
