"""Approximate nearest-neighbor search — the 100 TB scale path for kNN.

Brute force (``operators.knn``) is the exactness oracle; this module adds:

- ``ivf_build`` / ``ivf_search`` — IVF (inverted-file) index: KMeans
  centroids partition the vectors; a query probes only the ``n_probes``
  nearest cells.  Recall/speed trade via ``n_probes``.  At cluster scale the
  assignment column doubles as the partition key, so each probe touches only
  matching partitions (partition pruning on ``cell``).
- ``lsh_bucket_topk`` — random-hyperplane LSH candidate generation +
  exact re-rank within buckets (cosine).

Both return the same ``(query_id, id, distance)`` shape as exact kNN so the
test suite can measure recall@k directly against the oracle.
"""

from __future__ import annotations

from dataclasses import dataclass

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .knn import knn_search


@dataclass
class IVFIndex:
    """Assignments + centroids; persist ``assigned`` partitioned by ``cell``
    for partition-pruned probes at scale."""

    assigned: DataFrame            # (id, vec, cell)
    centroids: DataFrame           # (cell, cvec)
    n_cells: int


def ivf_build(index: DataFrame, id_col: str = "id", vec_col: str = "vec",
              n_cells: int | None = 16, seed: int = 42,
              max_iter: int = 20,
              fit_sample_rows: int = 100_000,
              target_cell_rows: int = 4096) -> IVFIndex:
    """Build an IVF index with KMeans centroids (pyspark.ml, seeded).

    The KMeans fit runs on at most ``fit_sample_rows`` rows (seeded
    ``sample`` above that threshold — centroid quality is insensitive to
    uniform sampling, so fit cost stays bounded while the table grows),
    then one full assign pass — the assignment is itself a tiny exact-kNN
    (k=1) against the centroid set.  Index build is eager by contract
    (fitting is an action); searches against the returned index are lazy.

    ``n_cells=None`` (r10) derives the cell count from the corpus —
    ``clamp(ceil(n_rows / target_cell_rows), 2, 65536)``, the same
    auto-scaling rule as ``dedup.semantic_dedup``'s cells — so expected
    cell size stays ≈ ``target_cell_rows`` as the table grows instead
    of N/16; the count further clamps to the fit-sample size (KMeans
    needs k ≤ fit rows).  The default stays the explicit 16 for
    back-compat with every registered query.
    """
    import math

    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector, vector_to_array

    spark = index.sparkSession
    ml_df = index.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        array_to_vector(F.col(vec_col)).alias("features"),
    )
    n_rows = ml_df.count()
    if n_cells is None:
        n_cells = min(max(math.ceil(n_rows / max(1, target_cell_rows)),
                          2), 65536)
        n_cells = min(n_cells, max(2, min(n_rows, fit_sample_rows)))
    fit_df = ml_df
    if n_rows > fit_sample_rows:
        # oversample 10% then cap: Bernoulli sampling is approximate
        frac = min(1.0, 1.1 * fit_sample_rows / n_rows)
        fit_df = ml_df.sample(fraction=frac, seed=seed).limit(fit_sample_rows)
    km = KMeans(k=n_cells, seed=seed, maxIter=max_iter)
    model = km.fit(fit_df)
    assigned = model.transform(ml_df).select(
        "id", "vec", F.col("prediction").alias("cell")
    )
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(model.clusterCenters())],
        "cell int, cvec array<double>",
    )
    return IVFIndex(assigned=assigned, centroids=centroids, n_cells=n_cells)


def ivf_search(ivf: IVFIndex, queries: DataFrame, k: int,
               n_probes: int = 4,
               query_id_col: str = "query_id",
               query_vec_col: str = "qvec",
               where=None) -> DataFrame:
    """Probe the ``n_probes`` nearest cells per query, exact search within.

    Plan: query×centroid distance (tiny, broadcast) → top-probes per query →
    semi-join restricts the big side to probed cells (with partition pruning
    when ``assigned`` is stored partitioned by cell) → exact distance +
    window top-k.  Shuffle volume is the probed fraction only.

    ``where`` (optional ``Column`` predicate over the index frame)
    implements FILTERED approximate search — the predicate lands on the
    assigned-vector scan BEFORE distances are computed (pre-filtering),
    composing with both pruning levers: a probed cell that the filter
    empties contributes nothing, and the filter reaches the parquet scan
    of a ``partitionBy(cell)`` store just like any pushed predicate.
    Post-filtering (filter after top-k) would starve k in selective
    slices; this keeps k full within the probed cells.  Note the classic
    filtered-ANN recall caveat applies: a highly selective filter can
    empty the probed cells even though matching vectors exist in
    unprobed ones — raise ``n_probes`` as selectivity rises."""
    # nearest cells per query (exact kNN over the centroid table)
    probe = knn_search(
        ivf.centroids,
        queries,
        k=min(n_probes, ivf.n_cells),
        id_col="cell",
        vec_col="cvec",
        query_id_col=query_id_col,
        query_vec_col=query_vec_col,
        impl="expr",
    ).select(F.col("query_id"), F.col("id").alias("cell"))

    qvecs = queries.select(
        F.col(query_id_col).alias("query_id"), F.col(query_vec_col).alias("qvec")
    )
    # candidate rows: only vectors in probed cells for that query
    indexed = ivf.assigned if where is None else ivf.assigned.filter(where)
    cand = indexed.join(F.broadcast(probe), "cell").join(
        F.broadcast(qvecs), "query_id"
    )
    from ..functions.distance import l2_distance
    from .topk import top_k_per_group

    dist = cand.select(
        "query_id",
        "id",
        l2_distance("vec", "qvec").alias("distance"),
    )
    return top_k_per_group(
        dist, ["query_id"], [F.col("distance").asc(), F.col("id").asc()], k
    ).orderBy("query_id", "distance", "id")


def _assign_dist_agg(assigned: DataFrame, centroids: DataFrame):
    """(mean L2 distance to assigned centroid, row count) — the one
    number the drift monitor tracks.  Broadcast join (centroids are
    tiny by construction), one pass over the vectors."""
    from ..functions.distance import l2_distance

    row = (
        assigned.select("cell",
                        F.col("vec").cast("array<double>").alias("__v"))
        .join(F.broadcast(centroids), "cell")
        .agg(F.avg(l2_distance("__v", "cvec")).alias("m"),
             F.count(F.lit(1)).alias("n"))
        .first()
    )
    return float(row["m"] or 0.0), int(row["n"])


def _centroid_sig(centroids: DataFrame) -> int:
    """Order-independent content signature of a centroid table (xor of
    per-row xxhash64) — the build-epoch id that pairs a drift baseline
    with the exact centroid set it was measured against.  Tiny table,
    one small agg."""
    row = centroids.select(
        F.xxhash64(F.col("cell").cast("int"),
                   F.col("cvec").cast("array<double>")).alias("h")
    ).agg(F.expr("bit_xor(h)").alias("s")).first()
    return int(row["s"]) if row["s"] is not None else 0


def ivf_save(ivf: IVFIndex, path: str) -> None:
    """Persist the index: assignments partitioned by ``cell`` (so probes
    prune parquet partitions at the scan) + the tiny centroid table.

    Also records the DRIFT BASELINE (r10, VERDICT r9 task 5): the
    build-time mean distance-to-assigned-centroid at
    ``{path}/drift/baseline.json``.  ``ivf_sync_with_store`` compares
    each synced batch against it and ``ivf_drift_status`` turns the
    comparison into an actionable refit signal — without this, a
    long-lived admit loop ingesting a shifting distribution degrades
    probe recall invisibly (the centroids never move after build).
    Saving (= building or refitting) resets the baseline and clears
    the drift log.

    TORN-WINDOW GUARD (r11, ADVICE r10): the baseline carries
    ``centroid_sig`` — a content signature of the centroid table it
    was measured against — and every drift read (``_drift_record``,
    ``ivf_drift_status``) re-derives the signature from the LIVE
    centroids and treats a mismatch as no-baseline.  A crash between
    the centroid overwrite and the baseline write therefore yields
    "no signal" instead of drift ratios computed against the previous
    build's baseline (which could spuriously trigger or suppress
    auto-refit).  The log is cleared BEFORE the baseline lands so a
    stale log can never pair with a fresh baseline either."""
    from ..functions.fsutil import fs_rmtree
    from .maintenance import write_meta

    spark = ivf.assigned.sparkSession
    mean_dist, n = _assign_dist_agg(ivf.assigned, ivf.centroids)
    ivf.assigned.write.partitionBy("cell").mode("overwrite").parquet(
        f"{path}/assigned"
    )
    ivf.centroids.write.mode("overwrite").parquet(f"{path}/centroids")
    # sig over the PERSISTED table (one parquet roundtrip) so the drift
    # readers — which always read from disk — re-derive it bit-exactly
    sig = _centroid_sig(spark.read.parquet(f"{path}/centroids"))
    fs_rmtree(spark, f"{path}/drift/log")
    # a save may rewrite the assigned set entirely — the next watermark
    # sync re-derives its bound from the fresh table (one max-id scan)
    fs_rmtree(spark, f"{path}/sync_watermark")
    write_meta(spark, f"{path}/drift/baseline.json",
               {"mean_dist": mean_dist, "n": n, "centroid_sig": sig})


def ivf_load(spark, path: str) -> IVFIndex:
    """Reopen a saved index as its LIVE view; ``ivf_search`` against it
    prunes partitions via the probe semi-join on ``cell`` (asserted by
    ``test_ivf_partitioned_store_prunes_partitions``).  A tombstone
    table (``ivf_sync_deletes``) anti-joins at the scan, exactly as in
    ``sq.ivfsq_load``.  Runs ``maintenance.recover_compact_crash`` first
    so a crash between a compaction's two renames (live dir parked at
    ``_old_assigned``) self-heals on the next load instead of failing
    every read until a manual compact (ADVICE r6)."""
    from ..functions.fsutil import fs_exists
    from .maintenance import recover_compact_crash

    recover_compact_crash(spark, f"{path}/assigned")
    recover_compact_crash(spark, f"{path}/tombstones")
    centroids = spark.read.parquet(f"{path}/centroids")
    assigned = spark.read.parquet(f"{path}/assigned")
    tomb = f"{path}/tombstones"
    if fs_exists(spark, tomb):
        assigned = assigned.join(
            spark.read.parquet(tomb).select("id"), "id", "left_anti"
        )
    return IVFIndex(
        assigned=assigned,
        centroids=centroids,
        n_cells=centroids.count(),
    )


def ivf_sync_deletes(spark, store, path: str, id_col: str = "id") -> int:
    """Propagate store DELETES as tombstones (id-only append; the scan
    filters, ``maintenance.ivf_compact_saved`` removes physically).
    Same contract as ``sq.ivfsq_sync_deletes``."""
    idx = ivf_load(spark, path)
    gone = idx.assigned.select("id").join(
        store.df().select(F.col(id_col).alias("id")), "id", "left_anti"
    )
    gone = gone.localCheckpoint(eager=True)
    n = gone.count()
    if n:
        gone.write.mode("append").parquet(f"{path}/tombstones")
    return n


def recall_at_k(approx: DataFrame, exact: DataFrame) -> float:
    """Fraction of exact top-k hits recovered by the approximate search."""
    a = approx.select("query_id", "id")
    e = exact.select("query_id", "id")
    hit = a.join(e, ["query_id", "id"], "inner").count()
    total = e.count()
    return hit / total if total else 1.0


def ivf_append(ivf: IVFIndex, new_rows: DataFrame, id_col: str = "id",
               vec_col: str = "vec") -> IVFIndex:
    """Append a new batch to an existing IVF index WITHOUT refitting — the
    production ingest path (the ANN analog of
    ``dedup.minhash_lsh_pairs_incremental``): each new vector is assigned
    to its nearest EXISTING centroid via a broadcast join (centroids are
    tiny by construction), and the assignment tables union.  Searches over
    the result remain exact within the probed cells; centroid drift under
    a shifting distribution is a recall concern only — refit with
    ``ivf_build`` (sampled, bounded cost) when the batch statistics move.

    Batch cost: one broadcast nearest-centroid pass over the NEW rows
    only; the existing corpus is never rescanned (append the new slice to
    the ``partitionBy(cell)`` store with ``ivf_save``-style writes at
    production scale)."""
    from ..functions.distance import squared_l2_distance

    new_v = new_rows.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("vec"),
    )
    scored = new_v.join(F.broadcast(ivf.centroids)).select(
        "id", "vec",
        F.struct(
            squared_l2_distance("vec", "cvec").alias("d"),
            F.col("cell").alias("cell"),
        ).alias("dc"),
    )
    assigned_new = (
        scored.groupBy("id")
        .agg(F.min("dc").alias("m"), F.first("vec").alias("vec"))
        .select("id", "vec", F.col("m.cell").alias("cell"))
    )
    return IVFIndex(
        assigned=ivf.assigned.unionByName(assigned_new),
        centroids=ivf.centroids,
        n_cells=ivf.n_cells,
    )


def ivf_sync_with_store(spark, store, path: str,
                        id_col: str = "id",
                        vec_col: str = "vec",
                        stats: dict | None = None) -> int:
    """Incrementally sync a SAVED IVF index (``ivf_save`` layout) with a
    growing :class:`~vector_db_at_home_spark.store.VectorStore`: store
    rows whose ids are not yet in the index are assigned to the EXISTING
    centroids (broadcast nearest-centroid — the ``ivf_append`` kernel) and
    their assignment rows are APPENDED to the cell-partitioned parquet.
    Returns the number of rows added.

    This closes the production loop ``stream → store append → fresh ANN
    index``: call it per micro-batch or on a cadence after streaming
    ingest (``streaming.ingest`` / ``streaming.neardup``); cost is
    O(new rows), the corpus assignments are never rescanned, and the
    anti-join makes the call idempotent (a re-sync after a crash adds
    nothing twice as long as the previous append committed — a torn
    append is repaired by re-saving with ``ivf_save``).  Centroids are
    NOT refit — rebuild with ``ivf_build`` + ``ivf_save`` on the
    compaction cadence, as with every index family here.

    DRIFT MONITOR (r10, VERDICT r9 task 5): each sync measures the
    batch's mean distance-to-assigned-centroid against the build-time
    baseline ``ivf_save`` recorded, appends the comparison to
    ``{path}/drift/log``, and (when ``stats`` is passed) fills it with
    ``{"batch_mean_dist", "baseline_mean_dist", "drift_ratio",
    "refit_recommended"}``.  A batch drawn from the build distribution
    has ratio ≈ 1; a shifted distribution lands far from every
    centroid and the ratio climbs — the invisible-recall-loss signal
    the "refit on the compaction cadence when batch statistics move"
    policy needs to be actionable.  ``ivf_drift_status`` reads the log
    without syncing.  The stat costs one broadcast join + agg over the
    NEW rows only (skipped when the baseline is missing, which happens
    only after a first ``ivf_save`` torn before its baseline write)."""
    ivf = ivf_load(spark, path)
    new_rows = store.df().select(F.col(id_col).alias("id"),
                                 F.col(vec_col).alias("vec"))
    return _assign_and_append_saved(spark, path, ivf, new_rows, stats)


def ivf_sync_with_store_watermark(spark, store, path: str,
                                  id_col: str = "id",
                                  vec_col: str = "vec",
                                  stats: dict | None = None) -> int:
    """Watermark form of :func:`ivf_sync_with_store` for MONOTONE-id
    stores — the streaming ingest loop's shape (``store.insert`` is
    max+1 allocation, appends only, batches serialized): only store
    rows with ``id`` above the max RAW indexed id are read, so the
    store-side scan prunes to the newly appended parquet files via
    their id min/max stats and the per-micro-batch sync cost stays
    O(new rows) as the corpus grows — the full-store scan per sync is
    exactly the cost the r10 batch form (:func:`ivf_append_saved`)
    removed from the admit loop (VERDICT r10 task 2; the streaming
    hook was still paying it).

    Bit-identical index rows to the store-diff path on the same store
    (pytest-pinned): with monotone ids, ``id > watermark`` selects a
    superset of ``store ∖ indexed`` restricted to never-indexed rows,
    and the anti-join against the ``id > watermark`` slice of the index
    removes any overlap (a replayed crash window) — that slice prunes
    to the recently-appended parquet files too, so NO per-sync cost
    scales with the index.  The watermark persists at
    ``{path}/sync_watermark`` (written AFTER the append — a crash
    between leaves it stale, and the replay's pruned anti-join dedups
    the re-covered slice); a missing file (first sync, or after
    ``ivf_save`` cleared it on a rebuild) falls back to one max-id
    scan of the RAW assigned table (raw: a tombstoned max id must
    still bound the scan — deleted ≠ missing).  Do NOT use over stores
    that backfill ids below the current max; the general store-diff
    form covers those."""
    import json

    from ..functions.fsutil import fs_exists, fs_read_text, fs_write_text

    wm_file = f"{path}/sync_watermark"
    if fs_exists(spark, wm_file):  # driver-side read: no Spark job
        wm = int(json.loads(fs_read_text(spark, wm_file))["max_id"])
    else:
        row = spark.read.parquet(f"{path}/assigned") \
            .agg(F.max("id").alias("m")).first()
        wm = row["m"]
    new_rows = store.df().select(F.col(id_col).alias("id"),
                                 F.col(vec_col).alias("vec"))
    have = None
    if wm is not None:
        new_rows = new_rows.filter(F.col("id") > wm)
        # overlap with the index is only possible above the watermark
        # (stale-wm replay window) — the pruned slice is the whole
        # idempotence guard
        have = spark.read.parquet(f"{path}/assigned") \
            .filter(F.col("id") > wm).select("id")
    ivf = ivf_load(spark, path)
    new_max_box: list[int] = []
    n = _assign_and_append_saved(spark, path, ivf, new_rows, stats,
                                 have=have, max_id_out=new_max_box)
    if new_max_box and (wm is None or new_max_box[0] > int(wm)):
        fs_write_text(spark, wm_file,
                      json.dumps({"max_id": new_max_box[0]}))
    return n


def ivf_append_saved(spark, path: str, new_rows: DataFrame,
                     id_col: str = "id", vec_col: str = "vec",
                     stats: dict | None = None) -> int:
    """Batch form of :func:`ivf_sync_with_store` for callers that KNOW
    the new rows (r10): assign them to the existing centroids and
    append to the saved store WITHOUT the store-diff scan — at 100 TB
    the full embedding-store read per sync is the cost that breaks the
    O(batch) ingest claim, and the admit loop always knows exactly
    which rows it just admitted.  Idempotence is the same index-id
    anti-join (one narrow id-column scan of the cell-partitioned
    store — O(index ids), not O(index bytes)); drift is recorded
    identically.  Same vectors in ⇒ byte-identical index rows to the
    store-diff path (pytest-pinned)."""
    ivf = ivf_load(spark, path)
    new_rows = new_rows.select(F.col(id_col).alias("id"),
                               F.col(vec_col).alias("vec"))
    return _assign_and_append_saved(spark, path, ivf, new_rows, stats)


def ivf_advance_sync_watermark(spark, path: str, new_max: int) -> None:
    """Advance ``{path}/sync_watermark`` to ``new_max`` if that is
    ahead of the stored value (r12): a DIRECT-append caller
    (``ivf_append_saved`` from the streaming finish hook) that also
    keeps a watermark-synced index must move the watermark itself,
    or the recovery sync's ``id > wm`` anti-join slice grows with
    every directly-appended batch — re-covering rows the direct path
    already indexed.  Never regresses; same crash discipline as the
    sync's own write (stale ⇒ the pruned anti-join dedups)."""
    import json

    from ..functions.fsutil import fs_exists, fs_read_text, fs_write_text

    wm_file = f"{path}/sync_watermark"
    if fs_exists(spark, wm_file):
        cur = json.loads(fs_read_text(spark, wm_file)).get("max_id")
        if cur is not None and int(cur) >= int(new_max):
            return
    fs_write_text(spark, wm_file, json.dumps({"max_id": int(new_max)}))


def _assign_and_append_saved(spark, path: str, ivf: IVFIndex,
                             new_rows: DataFrame,
                             stats: dict | None,
                             have: DataFrame | None = None,
                             max_id_out: list | None = None) -> int:
    """Shared tail of the two saved-store ingest forms: anti-join the
    index ids (idempotence), assign via the ``ivf_append`` kernel,
    append in the saved element type, drift-record.  Returns the rows
    ADDED TO THE LIVE VIEW (appended + resurrected).

    The idempotence guard anti-joins the RAW assigned ids, not the
    tombstone-filtered view (r11, ADVICE r10): a row re-admitted under
    a previously tombstoned id must not append a SECOND assignment row
    (unlike the postings families, ``ivf_search`` never dedups, so a
    duplicate would surface twice in results after the tombstone
    lifts) — instead the tombstone is rewritten minus the batch's ids,
    resurfacing the original assignment immediately
    (``maintenance.tombstones_resurrect_ids`` documents the
    same-content contract on reused ids).  This also stops the old
    filtered guard re-appending every still-tombstoned store row on
    every sync.

    ``have`` (optional) narrows the idempotence guard to a
    caller-proven sufficient id slice — the watermark sync passes the
    ``id > watermark`` slice so the guard prunes to recent files
    instead of scanning every index id."""
    from .maintenance import tombstones_resurrect_ids

    if have is None:
        have = spark.read.schema(ivf.assigned.schema) \
            .parquet(f"{path}/assigned").select("id")
    # tombstones ⊆ historical index ids, so intersecting with the whole
    # batch resurrects exactly the re-admitted ones
    n_res = tombstones_resurrect_ids(spark, f"{path}/tombstones",
                                     new_rows.select("id"))
    new_rows = new_rows.join(have, "id", "left_anti")
    if new_rows.isEmpty():
        return n_res
    # assign ONLY the new rows (empty-assigned index + the ivf_append
    # kernel) so the write below is O(batch), no corpus anti-join
    empty = ivf.assigned.filter(F.lit(False))
    fresh = ivf_append(
        IVFIndex(assigned=empty, centroids=ivf.centroids,
                 n_cells=ivf.n_cells),
        new_rows, id_col="id", vec_col="vec",
    ).assigned
    fresh = fresh.localCheckpoint(eager=True)  # stat + count + write, once
    n = fresh.count()
    if max_id_out is not None:  # watermark callers: max over the
        # checkpointed batch (no re-scan; appended rows only is enough —
        # anti-joined duplicates are already bounded by the old wm)
        m = fresh.agg(F.max("id").alias("m")).first()["m"]
        if m is not None:
            max_id_out.append(int(m))
    # ivf_append computes distances over double vecs; write back in the
    # SAVED schema's element type so the partitioned dataset stays
    # parquet-consistent across appends
    out = fresh.select(
        "id",
        F.col("vec").cast(ivf.assigned.schema["vec"].dataType).alias("vec"),
        "cell",
    )
    # one task per cell before the partitioned write (r11): without it
    # every shuffle partition writes a sliver into every cell dir —
    # ~n_partitions × n_cells files PER SYNC — and the per-sync scans
    # of a long-lived streaming index drown in file-open overhead
    out.repartition(ivf.n_cells, "cell") \
        .write.partitionBy("cell").mode("append").parquet(
            f"{path}/assigned")
    # drift row AFTER the assigned append (r11, ADVICE r10): a crash
    # between the two can now only LOSE one batch's drift row (the
    # replay's anti-join sees the committed rows and no-ops) — the old
    # order let a crash duplicate the whole batch AND its drift row
    _drift_record(spark, path, ivf, fresh, stats)
    return n + n_res


#: drift_ratio above this ⇒ ``refit_recommended`` (batch lands 1.5× as
#: far from its nearest centroid as the build corpus did — well past
#: sampling noise on any reasonable batch, and in the drifting-stream
#: pytest the recall loss is already material at this point)
DRIFT_REFIT_RATIO = 1.5


def _drift_record(spark, path: str, ivf: IVFIndex, fresh: DataFrame,
                  stats: dict | None) -> None:
    """Append one drift-log row for a synced batch (no-op when the
    baseline is missing — a first ``ivf_save`` torn before its baseline
    write — or when the baseline's ``centroid_sig`` no longer matches
    the live centroids — the ``ivf_save`` torn-window guard, r11).

    A ~0 baseline (k ≈ n builds where every vector sits ON a centroid)
    carries no drift signal: the ratio would be batch_mean/ε and
    ``refit_recommended`` would latch permanently true, rebuilding on
    every batch forever.  Such batches record ``drift_ratio = NaN``
    and never recommend a refit (NaN compares false)."""
    import math

    from ..functions.fsutil import fs_exists
    from .maintenance import read_meta

    if not fs_exists(spark, f"{path}/drift/baseline.json"):
        return
    base = read_meta(spark, f"{path}/drift/baseline.json")
    if int(base["centroid_sig"]) != _centroid_sig(ivf.centroids):
        return  # stale baseline from a torn ivf_save — no signal
    batch_mean, batch_n = _assign_dist_agg(fresh, ivf.centroids)
    base_mean = float(base["mean_dist"])
    ratio = batch_mean / base_mean if base_mean > 1e-9 else math.nan
    log_dir = f"{path}/drift/log"
    seq = (spark.read.schema(
        "seq long, batch_n long, batch_mean_dist double, "
        "drift_ratio double").parquet(log_dir)
        .agg(F.max("seq")).first()[0]
        if fs_exists(spark, log_dir) else None)
    seq = (int(seq) + 1) if seq is not None else 0
    spark.createDataFrame(
        [(seq, batch_n, batch_mean, ratio)],
        "seq long, batch_n long, batch_mean_dist double, "
        "drift_ratio double",
    ).coalesce(1).write.mode("append").parquet(log_dir)
    if stats is not None:
        stats.update({
            "batch_mean_dist": batch_mean,
            "baseline_mean_dist": float(base["mean_dist"]),
            "drift_ratio": ratio,
            "refit_recommended": ratio > DRIFT_REFIT_RATIO,
        })


def ivf_drift_status(spark, path: str,
                     refit_threshold: float = DRIFT_REFIT_RATIO) -> dict:
    """Read the drift monitor without syncing: the build-time baseline,
    the most recent synced batch's ``drift_ratio``, and the
    ``refit_recommended`` flag (``ratio > refit_threshold``).  The
    documented response to a recommendation is the existing policy:
    ``ivf_build`` (sampled, bounded cost) + ``ivf_save`` — which
    resets the baseline and clears the log."""
    from ..functions.fsutil import fs_exists
    from .maintenance import read_meta

    if not fs_exists(spark, f"{path}/drift/baseline.json"):
        return {"baseline": None, "n_batches": 0, "drift_ratio": None,
                "refit_recommended": False}
    base = read_meta(spark, f"{path}/drift/baseline.json")
    if int(base["centroid_sig"]) != _centroid_sig(
            spark.read.parquet(f"{path}/centroids")):
        # torn ivf_save: baseline predates the live centroid table
        return {"baseline": None, "n_batches": 0, "drift_ratio": None,
                "refit_recommended": False}
    log_dir = f"{path}/drift/log"
    if not fs_exists(spark, log_dir):
        return {"baseline": base, "n_batches": 0, "drift_ratio": None,
                "refit_recommended": False}
    log = spark.read.schema(
        "seq long, batch_n long, batch_mean_dist double, "
        "drift_ratio double").parquet(log_dir)
    last = log.orderBy(F.col("seq").desc()).limit(1).first()
    return {
        "baseline": base,
        "n_batches": int(log.count()),
        "drift_ratio": float(last["drift_ratio"]),
        "batch_mean_dist": float(last["batch_mean_dist"]),
        "refit_recommended": float(last["drift_ratio"]) > refit_threshold,
    }


def cosine_admit_ivf(new_df: DataFrame, ivf: IVFIndex,
                     vec_col: str, id_col: str,
                     min_cosine: float,
                     n_probes: int = 4,
                     max_cell_rows: int = 65536) -> DataFrame:
    """IVF-pruned cosine admit screen — the SCALE path for
    ``dedup.cosine_admit_blocked``'s O(batch·corpus) exact GEMM: return
    the distinct new-side ids whose cosine against some INDEXED vector
    in their ``n_probes`` nearest cells reaches ``min_cosine``.  This is
    the batch form of the streaming vector screen's indexed mode
    (streaming/neardup.py) and the semantic-admit tier a 100 TB ingest
    actually runs: candidate volume is the probed fraction, the verify
    is exact cosine.

    Contract mirrors the streaming screen: build the index over
    L2-NORMALIZED corpus vectors (``cos ≥ τ ⇔ ‖a−b‖ ≤ sqrt(2−2τ)`` then
    holds and the centroid geometry matches the cosine metric); the
    verify here computes raw cosine, so an un-normalized index still
    verifies correctly — only probe QUALITY degrades.  Recall is the
    IVF probe bound: a near-dup whose cell is outside the query's
    ``n_probes`` nearest is admitted (raise ``n_probes``; at
    ``n_probes = n_cells`` the screen is exhaustive and equals the
    blocked-GEMM kernel exactly — pytest-pinned).  An EXACT COPY of an
    indexed vector is always found at ANY probe count: the copy's
    nearest centroid IS its source's assigned cell (same argmin over
    the same centroid table).

    Plan: batch × broadcast-centroid distances (|batch|·n_cells narrow
    rows) → top-``n_probes`` cells per row → BOTH sides pack into
    per-(cell, sub-block) single-row blobs (the probed queries grouped
    by probed cell; the assigned vectors grouped by cell — the same
    pack-once-then-GEMM discipline as ``dedup.cosine_admit_blocked``)
    → one NumPy GEMM per blob pair → distinct hit ids.  The verify
    being a BLAS GEMM rather than a per-row codegen fold is what makes
    the probe tier actually FASTER than the exact kernel: measured at
    200k×5.5k (tools/admit_screen_smoke.py), the per-row expression
    verify lost to the exact blocked GEMM despite touching 1/64 of the
    pairs — BLAS is ~2 orders denser per FLOP, so the pruned tier must
    stay in BLAS too.

    ``max_cell_rows`` is the HOT-CELL SKEW GUARD (VERDICT r9 task 1 —
    the ``dedup._semantic_dedup_blocked`` discipline applied to the
    bipartite screen): k-means balance is not guaranteed, and without
    the guard a pathological distribution concentrates the corpus in
    one cell whose single packed blob OOMs its task.  On EITHER side,
    a cell above the cap hashes its rows into
    ``ceil(cell_rows / max_cell_rows)`` sub-blocks
    (``pmod(xxhash64(id), n_sub)``) and packs per (cell, sub-block);
    the per-cell join then runs one GEMM per sub-block PAIR.  Admit
    decisions are invariant (a hit in any sub-pair admits — the union
    over sub-pairs is exactly the cell's pair set; pytest-pinned on a
    90%-one-cell distribution), and every resident matrix is
    ≤ ~``max_cell_rows`` rows regardless of the cell's true size.  The
    sub-block derivation is two bounded collects (≤ one narrow row per
    probed cell, the ``semantic_dedup`` routing probe's shape), which
    also yield the exact blob-pair count — the pair table repartitions
    to ~one blob pair per task BEFORE the GEMM (ADVICE r9: the join's
    hash partitioning would otherwise co-locate many cells in one
    partition and Arrow would materialize them all in a single pandas
    batch).  Nothing is quadratic; nothing collects beyond the
    per-cell counts; resident memory per task ≤ one sub-block pair."""
    import math

    import numpy as np

    from ..functions.distance import l2_distance
    from .topk import top_k_per_group

    spark = new_df.sparkSession
    q = new_df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
    )
    cd = q.select(F.col("id").alias("__qid"), F.col("v").alias("__qvec")) \
        .crossJoin(F.broadcast(ivf.centroids)).select(
            "__qid", "cell", l2_distance("__qvec", "cvec").alias("__cd"),
        )
    probe = top_k_per_group(
        cd, ["__qid"], [F.col("__cd").asc(), F.col("cell").asc()],
        min(n_probes, ivf.n_cells),
    ).select(F.col("__qid").alias("id"), "cell")
    # probe feeds four consumers (q-side pack, the index semi-join, and
    # the two per-cell count probes) — materialize once
    probe = probe.localCheckpoint(eager=True)
    probed_cells = probe.select("cell").distinct()

    # skew-guard routing: per-cell row counts on both sides (bounded
    # actions, ≤ one narrow row per probed cell) → sub-block counts
    cap = max(1, int(max_cell_rows))
    q_cnt = {int(r["cell"]): int(r["__n"])
             for r in probe.groupBy("cell")
             .agg(F.count(F.lit(1)).alias("__n")).collect()}
    i_cnt = {int(r["cell"]): int(r["__n"])
             for r in ivf.assigned.join(probed_cells, "cell", "left_semi")
             .groupBy("cell")
             .agg(F.count(F.lit(1)).alias("__n")).collect()}
    q_sub = {c: math.ceil(n / cap) for c, n in q_cnt.items()}
    i_sub = {c: math.ceil(n / cap) for c, n in i_cnt.items()}
    n_pairs = sum(q_sub[c] * i_sub[c] for c in q_sub if c in i_sub)
    q_split = F.broadcast(spark.createDataFrame(
        [(c, s) for c, s in q_sub.items()] or [(-1, 1)],
        "cell int, __nsub int"))
    i_split = F.broadcast(spark.createDataFrame(
        [(c, s) for c, s in i_sub.items()] or [(-1, 1)],
        "cell int, __nsub int"))

    def pack(key, pdf):
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        return pd.DataFrame({
            "cell": [int(key[0])],
            "n": [len(ids)],
            "dim": [int(mat.shape[1])],
            "ids": [ids.tobytes()],
            "mat": [(mat / norms).tobytes()],
        })

    schema = "cell int, n long, dim long, ids binary, mat binary"
    qcells = (
        q.join(probe, "id").join(q_split, "cell")
        .withColumn("__blk", F.pmod(F.xxhash64(F.col("id")),
                                    F.col("__nsub")).cast("int"))
        .groupBy("cell", "__blk").applyInPandas(pack, schema)
        .select(F.col("cell"), F.col("n").alias("q_n"),
                F.col("dim").alias("q_dim"), F.col("ids").alias("q_ids"),
                F.col("mat").alias("q_mat"))
    )
    # only cells some query probes are packed on the index side — on a
    # partitionBy(cell) store the semi-join prunes the parquet scan
    icells = (
        ivf.assigned.join(probed_cells, "cell", "left_semi")
        .select("cell", "id",
                F.col("vec").cast("array<double>").alias("v"))
        .join(i_split, "cell")
        .withColumn("__blk", F.pmod(F.xxhash64(F.col("id")),
                                    F.col("__nsub")).cast("int"))
        .groupBy("cell", "__blk").applyInPandas(pack, schema)
        .select(F.col("cell"), F.col("n").alias("i_n"),
                F.col("dim").alias("i_dim"), F.col("ids").alias("i_ids"),
                F.col("mat").alias("i_mat"))
    )
    # per cell: every q-sub-block × i-sub-block blob pair (the plain
    # cell join when neither side split)
    pairs = qcells.join(icells, "cell")

    tau = float(min_cosine)

    def gemm(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                qi = np.frombuffer(r.q_ids, dtype=np.int64)
                qm = np.frombuffer(r.q_mat, dtype=np.float64).reshape(
                    r.q_n, r.q_dim)
                im = np.frombuffer(r.i_mat, dtype=np.float64).reshape(
                    r.i_n, r.i_dim)
                hit = np.zeros(len(qi), dtype=bool)
                chunk = max(1, (1 << 22) // max(1, im.shape[0]))
                for s in range(0, qm.shape[0], chunk):
                    sims = qm[s:s + chunk] @ im.T
                    hit[s:s + chunk] = (sims >= tau).any(axis=1)
                if hit.any():
                    yield pd.DataFrame({"id": qi[hit]})

    # ~one blob pair per partition: the cell join alone hash-partitions
    # many cells together and Arrow batches a whole partition into one
    # pandas frame — many resident cell matrices at once (ADVICE r9).
    # n_pairs is exact (derived from the same counts as the sub-block
    # routing); round-robin repartition spreads the pairs evenly.
    return pairs.repartition(max(1, n_pairs)) \
        .mapInPandas(gemm, schema="id long").distinct()
