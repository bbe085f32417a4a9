"""Streaming ingest with near-duplicate rejection against the live store.

The production ingestion loop for a training corpus: every arriving batch
is (1) exact-deduped within itself and against the store by content digest,
(2) near-dup-screened against the CURRENT store with the incremental
MinHash join (``dedup.minhash_lsh_pairs_incremental`` — the store is
scanned, never self-joined), and (3) only the survivors are appended.
Because batches execute serially under Structured Streaming's foreachBatch
contract, each batch sees every previously accepted doc — no
read-your-writes race.

This composes three proven pieces (streaming ingest, exact dedup,
incremental MinHash) rather than re-implementing any; the per-batch cost
is bounded by the batch's own shingles plus its band collisions with the
store.

Replay semantics (foreachBatch is at-least-once): a replayed batch
re-arrives under the SAME batch id.  Two mechanisms make the screen
replay-safe when ``state_dir`` is used:

- self-pairs (``new_id == corpus_id``) are filtered out of the near-dup
  hits — a batch doc whose signature already landed in the persisted state
  under its own digest-derived id (the first, crashed attempt) cannot
  reject itself on replay (ADVICE r4: without this, a crash between the
  state append and the ingest-marker commit silently dropped the batch);
- the state append itself is guarded by a per-(streaming-query-id, batch)
  marker inside ``state_dir`` (the query id comes from the checkpoint's
  ``metadata`` file, so recreating the checkpoint at the same path — which
  restarts batch ids at 0 — also renews the marker scope), so a replay
  never appends the same batch's signature rows twice.  The crash window between the state append and its
  marker can still duplicate ONE batch's state rows; the prepared
  incremental join counts distinct shingles so duplicated rows cannot
  inflate Jaccard, and a state rebuild (``minhash_corpus_state_build``) is
  the documented recovery path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..store import VectorStore
from .ingest import stream_into_store

#: per-batch ceiling on rows entering the near-dup screen: the rejected-id
#: set is broadcast and the survivor frame is localCheckpoint-materialized,
#: both bounded by the batch size — beyond this, shrink the trigger
#: (maxFilesPerTrigger / maxOffsetsPerTrigger) instead of screening a
#: mega-batch in one shot (same contract as knn._MAX_QUERY_ROWS)
_MAX_SCREEN_BATCH_ROWS = 1_000_000


# Existence probe / marker creation through the Hadoop FileSystem API so
# state_dir may live on HDFS/S3A (ADVICE r4: a driver-local os.path.exists
# is always false for remote URIs, silently rebuilding+clobbering the
# state every micro-batch).  Shared with the dedup state operators.
from ..functions.fsutil import fs_exists as _fs_exists
from ..functions.fsutil import fs_touch as _fs_touch


def stream_into_store_neardup(stream_df: DataFrame, store: VectorStore,
                              vec_col: str = "vec", doc_col: str = "doc",
                              jaccard_threshold: float = 0.7,
                              shingle_n: int = 3,
                              checkpoint_dir: str | None = None,
                              trigger: dict | None = None,
                              max_doc_freq: int | None = None,
                              max_band_bucket: int | None = None,
                              state_dir: str | None = None,
                              compact_every_batches: int | None = None):
    """Start a streaming query appending only novel ``(vec, doc)`` rows.

    Rejection rules, applied per micro-batch in order:

    1. within-batch exact dedup — first row per content digest wins;
    2. exact dedup vs the store — digest anti-join;
    3. near-dup vs the store — docs whose verified n-gram Jaccard against
       ANY stored doc ≥ ``jaccard_threshold`` are dropped (MinHash-banded
       candidates, exact verification, so precision is exact and recall is
       the banding bound).

    Within-batch NEAR-dups are deliberately admitted in the same batch
    (both may be novel vs the store; ordering a greedy drop inside an
    unordered batch would be arbitrary) — they reject each other's future
    re-deliveries once stored.

    ``state_dir`` (recommended beyond toy stores): persist the corpus-side
    MinHash state there (``dedup.minhash_corpus_state_build`` on the first
    batch, ``_append`` for each batch's survivors) so the near-dup screen
    costs O(batch + collisions) instead of re-deriving the whole store's
    signatures every micro-batch (measured 11× wall / 20× shuffle at 1M
    docs — SCALE.md).  The doc-frequency/bucket caps are frozen at state
    build; rebuild on your compaction cadence.  ``None`` keeps the
    recompute-per-batch form (exact caps every batch).  Replays are safe
    either way (module docstring).

    ``compact_every_batches`` (VERDICT r8 task 7, requires
    ``state_dir``): every N committed micro-batches the screen runs
    ``minhash_corpus_state_compact`` in-line — per-batch appends
    otherwise accumulate one small-file set PER BATCH FOREVER, the
    streaming-side gap the batch operators' compaction cadence never
    covered.  The compact is a pure rewrite (content pytest-pinned
    identical) through ``maintenance.replace_table``, healed by
    ``maintenance.recover_compact_crash`` on every read, so a replay
    that re-runs the compaction batch is idempotent: the append is
    marker-skipped, the re-compact rewrites identical content.
    Committed batch markers
    older than the current batch are pruned at the same cadence
    (foreachBatch can only replay the LAST uncommitted batch), so the
    marker directory stays O(compact interval) instead of O(stream
    lifetime).  The exact-digest screen needs no hook of its own — it
    derives from ``store.df()``, whose snapshot/vacuum cadence is the
    store's own maintenance surface.

    Batches larger than ``_MAX_SCREEN_BATCH_ROWS`` raise — shrink the
    trigger rather than screening a mega-batch in one shot."""
    from ..operators.dedup import minhash_lsh_pairs_incremental
    from .ingest import checkpoint_scope

    # Scope markers by the streaming QUERY ID (checkpoint metadata uuid),
    # not the checkpoint path: a checkpoint deleted and recreated at the
    # same path restarts batch ids at 0, and path-keyed markers persisted
    # in state_dir would then silently skip every state append (ADVICE
    # r5).  Resolved lazily in the first batch, when the metadata exists.
    scope_box: list[str] = []

    def screen(batch_df: DataFrame, batch_id: int) -> DataFrame:
        if not scope_box:
            scope_box.append(
                checkpoint_scope(batch_df.sparkSession, checkpoint_dir)
            )
        scope = scope_box[0]
        digested = batch_df.withColumn(
            "__digest", F.md5(F.coalesce(F.col(doc_col), F.lit("{}")))
        )
        # (1) within-batch exact: one row per digest
        batch_u = digested.dropDuplicates(["__digest"])
        corpus = store.df().select(
            F.col("id"), F.coalesce(F.col("doc"), F.lit("{}")).alias("doc")
        )
        # (2) exact vs store
        stored_digests = corpus.select(F.md5("doc").alias("__digest"))
        batch_u = batch_u.join(stored_digests, "__digest", "left_anti")
        # (3) near-dup vs store: stable per-batch ids via the digest hash
        keyed = batch_u.withColumn(
            "__bid",
            F.conv(F.substring("__digest", 1, 15), 16, 10).cast("long"),
        )
        n_batch = keyed.limit(_MAX_SCREEN_BATCH_ROWS + 1).count()
        if n_batch == 0:
            return keyed.drop("__digest", "__bid")
        if n_batch > _MAX_SCREEN_BATCH_ROWS:
            raise ValueError(
                f"batch {batch_id}: more than {_MAX_SCREEN_BATCH_ROWS} "
                "distinct-novel rows entering the near-dup screen — the "
                "rejected-id broadcast and survivor materialization are "
                "batch-bounded; reduce the trigger size "
                "(maxFilesPerTrigger / maxOffsetsPerTrigger)"
            )
        batch_docs = keyed.select(
            F.col("__bid").alias("doc_id"),
            F.coalesce(F.col(doc_col), F.lit("{}")).alias("text"),
        )
        corpus_docs = corpus.select(
            F.col("id").alias("doc_id"), F.col("doc").alias("text")
        )
        spark = batch_df.sparkSession
        if state_dir is not None:
            from ..operators.dedup import (
                _MINHASH_APPENDED,
                minhash_corpus_state_build,
                minhash_lsh_pairs_incremental_prepared,
            )
            from ..operators.maintenance import recover_compact_crash

            # heal a crash inside a compact's swap first: a table parked at
            # _old_<name> is renamed back, not rebuilt from the store
            for name in _MINHASH_APPENDED:
                recover_compact_crash(spark, f"{state_dir}/{name}")
            if not _fs_exists(spark, f"{state_dir}/bands"):
                minhash_corpus_state_build(
                    corpus_docs, state_dir, "text", "doc_id", n=shingle_n,
                    max_doc_freq=max_doc_freq,
                    max_band_bucket=max_band_bucket,
                )
            hits = minhash_lsh_pairs_incremental_prepared(
                spark, state_dir, batch_docs, "text", "doc_id",
                threshold=jaccard_threshold,
            )
        else:
            hits = minhash_lsh_pairs_incremental(
                batch_docs, corpus_docs,
                "text", "doc_id", n=shingle_n, threshold=jaccard_threshold,
                max_doc_freq=max_doc_freq, max_band_bucket=max_band_bucket,
            )
        # a replayed batch finds its own (crashed-attempt) signatures in
        # the state under the same digest-derived id — never a rejection
        hits = hits.filter(F.col("new_id") != F.col("corpus_id"))
        dupped = hits.select(F.col("new_id").alias("__bid")).distinct()
        survivors = keyed.join(F.broadcast(dupped), "__bid", "left_anti")
        # materialize so the expensive incremental-MinHash join runs exactly
        # once even though append_batch fires two actions (validation
        # count, then write) on the returned frame
        survivors = survivors.localCheckpoint(eager=True)
        if state_dir is not None:
            from ..operators.dedup import minhash_corpus_state_delta
            from ..operators.pipeline import _exactly_once_append

            marker = f"{state_dir}/_appended_batches/{scope}/{batch_id}"
            staging = f"{state_dir}/_staging/{scope}/{batch_id}"
            if not _fs_exists(spark, marker):
                # staged exactly-once append (r11, same protocol as the
                # admit loop): a crash between the state append's job
                # commit and the marker touch used to re-append the
                # batch's rows on replay (byte-identical, absorbed by
                # the delta-aggregating readers until compaction) — the
                # staged per-file moves make the replay a no-op instead
                _exactly_once_append(
                    spark, staging,
                    minhash_corpus_state_delta(
                        spark, state_dir,
                        survivors.select(
                            F.col("__bid").alias("doc_id"),
                            F.coalesce(F.col(doc_col), F.lit("{}"))
                            .alias("text"),
                        ),
                        "text", "doc_id",
                    ),
                )
                _fs_touch(spark, marker)
            from ..functions.fsutil import fs_rmtree as _fs_rmtree

            _fs_rmtree(spark, staging)
            if (compact_every_batches is not None
                    and (batch_id + 1) % compact_every_batches == 0):
                from ..functions.fsutil import fs_ls, fs_rmtree
                from ..operators.dedup import minhash_corpus_state_compact

                minhash_corpus_state_compact(spark, state_dir)
                # prune committed markers: only the CURRENT batch can
                # ever replay under foreachBatch's contract
                for sub in ("_appended_batches", "_staging"):
                    mdir = f"{state_dir}/{sub}/{scope}"
                    for name in fs_ls(spark, mdir):
                        try:
                            if int(name) < batch_id:
                                fs_rmtree(spark, f"{mdir}/{name}")
                        except ValueError:
                            pass
        return survivors.drop("__digest", "__bid")

    return stream_into_store(
        stream_df, store, vec_col=vec_col, doc_col=doc_col,
        checkpoint_dir=checkpoint_dir, trigger=trigger,
        prepare=screen,
    )


def stream_into_store_vector_neardup(stream_df: DataFrame,
                                     store: VectorStore,
                                     vec_col: str = "vec",
                                     doc_col: str = "doc",
                                     min_cosine: float = 0.95,
                                     index_dir: str | None = None,
                                     n_cells: int = 16,
                                     n_probes: int = 4,
                                     checkpoint_dir: str | None = None,
                                     trigger: dict | None = None,
                                     compact_every_batches: int | None
                                     = None,
                                     direct_index_append: bool = True):
    """Streaming ingest with EMBEDDING-space near-dup rejection — the
    vector analog of :func:`stream_into_store_neardup` (SemDeDup's admit
    rule run online): a batch row whose cosine against ANY stored vector
    reaches ``min_cosine`` is dropped; survivors append.

    Screen per micro-batch, in order:

    1. within-batch exact dedup — first row per ``xxhash64(vec, doc)``;
    2. vs the store — vectors are L2-normalized so
       ``cos ≥ τ ⇔ ‖a−b‖ ≤ sqrt(2−2τ)``, and the nearest stored
       neighbor comes from a saved IVF index over the normalized store
       (``index_dir``), searched with ``n_probes`` cells and kept in
       sync incrementally (``ann.ivf_sync_with_store_watermark`` — the
       O(new rows) id-watermark slice over the monotone-id store, r11;
       the idempotent anti-join means replays and crashes need no
       markers here, unlike the MinHash state appends).
       ``index_dir=None`` = exact brute-force kNN against the store —
       the small-store/testing form.

    Replay semantics: a replayed survivor is an exact duplicate of its
    stored copy (cosine 1 ≥ τ) and is re-rejected — at-least-once
    delivery converges with no marker machinery.  Recall is the IVF
    probe bound (raise ``n_probes``; the exact form has none); a missed
    near-dup is admitted, never data loss.  Centroids are not refit on
    sync — rebuild the index on the usual compaction cadence.

    Within-batch NEAR-dups are admitted in the same batch by design
    (same rationale as the text screen: both may be novel; they reject
    each other's re-deliveries once stored).

    ``direct_index_append`` (r12, VERDICT r11 task 6, requires
    ``index_dir``): the batch's survivors append to the saved IVF
    DIRECTLY after the store commit — the ``finish`` hook hands the
    inserted ``(id, vec)`` rows (already materialized) to
    ``ann.ivf_append_saved``, so the steady-state per-batch index cost
    never re-reads even the new store slice.  The watermark sync at
    the top of each screen remains as the RECOVERY path: normally it
    covers zero rows (one cheap pruned no-op), but a crash between the
    batch marker and the index append — the one window where a
    committed batch is missed — is caught up from store state on the
    next batch, and ``ivf_append_saved``'s index-id anti-join keeps
    the overlap idempotent.  Index rows are byte-identical to the
    watermark-only path (pytest-pinned); set False to restore it.

    ``compact_every_batches`` (VERDICT r8 task 7, requires
    ``index_dir``): every N committed micro-batches the screen runs
    ``maintenance.ivf_compact_saved`` in-line, folding the sync's
    per-batch assignment appends (and any tombstones) back into
    ``target_partitions`` files per cell — without it the saved index
    accumulates one appended file set per batch for the stream's
    lifetime.  The compact's two-rename swap is healed by
    ``recover_compact_crash`` on every load, and ``ivf_sync_with_store``
    is an idempotent anti-join, so a replayed compaction batch
    re-syncs to a no-op and re-compacts identical content."""
    import math

    from ..operators.ann import (
        ivf_advance_sync_watermark,
        ivf_append_saved,
        ivf_build,
        ivf_load,
        ivf_save,
        ivf_search,
        ivf_sync_with_store_watermark,
    )
    from ..operators.knn import knn_search

    radius = math.sqrt(max(0.0, 2.0 - 2.0 * min_cosine)) + 1e-12

    def norm(col):
        v = F.transform(col, lambda x: x.cast("double"))
        nrm = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
        return F.when(nrm == 0.0, v).otherwise(
            F.transform(v, lambda x: x / nrm))

    class _NormalizedView:
        """store-shaped adapter feeding ivf_sync_with_store the
        NORMALIZED vectors, preserving the index invariant."""

        def __init__(self, df_):
            self._df = df_

        def df(self):
            return self._df

    def screen(batch_df: DataFrame, batch_id: int) -> DataFrame:
        spark = batch_df.sparkSession
        keyed = (
            batch_df.withColumn("__bid",
                                F.xxhash64(F.col(vec_col), F.col(doc_col)))
            .dropDuplicates(["__bid"])
            .withColumn("__nvec", norm(F.col(vec_col)))
        )
        n_batch = keyed.limit(_MAX_SCREEN_BATCH_ROWS + 1).count()
        if n_batch == 0:
            return keyed.drop("__bid", "__nvec")
        if n_batch > _MAX_SCREEN_BATCH_ROWS:
            raise ValueError(
                f"batch {batch_id}: more than {_MAX_SCREEN_BATCH_ROWS} "
                "rows entering the vector screen — reduce the trigger size"
            )
        corpus = store.df().select(
            "id", norm(F.col("vec")).alias("vec"))
        if corpus.isEmpty():
            return keyed.drop("__bid", "__nvec")
        qs = keyed.select(F.col("__bid").alias("query_id"),
                          F.col("__nvec").alias("qvec"))
        use_index = index_dir is not None
        if use_index and not _fs_exists(spark, f"{index_dir}/centroids"):
            # defer the k-means fit until the store can populate the
            # cells (k > n crashes the fit; a near-empty index buys
            # nothing) — exact search covers the warm-up batches
            if corpus.count() >= 2 * n_cells:
                ivf_save(ivf_build(corpus, n_cells=n_cells), index_dir)
            else:
                use_index = False
        if use_index:
            # watermark sync (r11, VERDICT r10 task 2): the store's ids
            # are monotone (max+1, serialized batches), so only rows
            # above the max indexed id are read — parquet id-stats
            # prune the store scan to the files the PREVIOUS batches
            # appended, and the normalization projection computes over
            # that slice only.  Per-batch sync cost is O(new rows); the
            # old store-diff form rescanned (and re-normalized) the
            # whole embedding store every micro-batch.
            ivf_sync_with_store_watermark(
                spark, _NormalizedView(corpus), index_dir)
            nearest = ivf_search(ivf_load(spark, index_dir), qs, k=1,
                                 n_probes=n_probes)
        else:
            nearest = knn_search(corpus, qs, k=1, impl="expr")
        dupped = (
            nearest.filter(F.col("distance") <= radius)
            .select(F.col("query_id").alias("__bid"))
            .distinct()
        )
        survivors = keyed.join(F.broadcast(dupped), "__bid", "left_anti")
        survivors = survivors.drop("__bid", "__nvec") \
            .localCheckpoint(eager=True)
        if (use_index and compact_every_batches is not None
                and (batch_id + 1) % compact_every_batches == 0):
            from ..operators.maintenance import ivf_compact_saved

            ivf_compact_saved(spark, index_dir)
        return survivors

    def index_batch(inserted: DataFrame, batch_id: int) -> None:
        """Post-commit direct index append (r12): the inserted rows —
        ids assigned, materialized by the finish hook — normalize and
        append straight to the saved IVF, then ADVANCE the sync
        watermark past them (without this the recovery sync's
        ``id > wm`` anti-join slice would grow with every
        directly-appended batch).  Skips silently while the index
        doesn't exist yet (the deferred-fit warmup; the screen's
        watermark sync backfills the whole store when it first builds,
        after ivf_save cleared the watermark)."""
        spark = inserted.sparkSession
        if not _fs_exists(spark, f"{index_dir}/centroids"):
            return
        ivf_append_saved(
            spark, index_dir,
            inserted.select("id", norm(F.col("vec")).alias("vec")))
        mx = inserted.agg(F.max("id")).first()[0]
        if mx is not None:
            ivf_advance_sync_watermark(spark, index_dir, int(mx))

    return stream_into_store(
        stream_df, store, vec_col=vec_col, doc_col=doc_col,
        checkpoint_dir=checkpoint_dir, trigger=trigger,
        prepare=screen,
        finish=(index_batch
                if direct_index_append and index_dir is not None
                else None),
    )
