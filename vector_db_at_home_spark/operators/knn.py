"""Exact k-nearest-neighbor search — the flagship operator.

Reference semantics (``vector_store.py:275-332``): per query, exact L2
distance against every stored vector, top-k ascending, ids resolved
positionally, payloads fetched once per distinct hit id.  Guards: empty index
returns empty; ``k > N`` raises ValueError (``vector_store.py:279-284``).
Tie-break among equal distances is unspecified in the reference (unstable
argsort); we pin ``(distance ASC, id ASC)`` (SURVEY.md §2.2).

Two lazy physical strategies, same logical result:

``impl="expr"`` — pure Catalyst: ``crossJoin(broadcast(queries))`` +
``zip_with/aggregate`` distance + window top-k.  No Python, but not
whole-stage codegen either: ``zip_with``/``aggregate`` are interpreted
higher-order functions (the ``Project`` holding them carries no ``*(n)``
codegen marker in ``explain()``), evaluated row by row over a
``BroadcastNestedLoopJoin``.  A 16-query ``VectorStore.search`` built on it
took about 1.3 s (6 Spark jobs) over 20k × 64 vectors on a 4-core host.  Use
it when you want a fully declarative plan the optimizer can reason about.

``impl="pandas"`` — scalable kernel: ``mapInPandas`` over the index
partitions; each task computes the full m×rows distance block with NumPy
matrix math (the reference's own kernel, vectorized over queries too) and
emits only its LOCAL top-k per query.  A final window top-k merges the
``partitions × m × k`` candidates.  At 100 TB this is the right shape: the
shuffle carries O(P·m·k) rows instead of O(N·m); queries are a broadcast
variable, not a join side.

``knn_search_collect`` is the eager form behind ``VectorStore.search``: one
``mapInArrow`` pass over an (ideally cached) index whose tasks score every
Arrow batch with the same arithmetic as ``impl="expr"`` and keep a
tie-complete per-query top-k with every index column riding along, then one
``collect()`` and a driver merge — one Spark job per call.
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.distance import l2_distance, squared_l2_distance
from .topk import top_k_per_group


def _check_k(index_count: int, k: int) -> None:
    # Parity with vector_store.py:279-284: no FAISS-style -1 padding.
    if k > index_count:
        raise ValueError(
            f"k ({k}) must not exceed the number of stored vectors ({index_count})"
        )


def knn_search(index: DataFrame, queries: DataFrame, k: int,
               id_col: str = "id", vec_col: str = "vec",
               query_id_col: str = "query_id", query_vec_col: str = "qvec",
               metric: str = "l2", impl: str = "pandas",
               check_k: bool = False) -> DataFrame:
    """Exact kNN of every query against the whole index.

    Returns ``(query_id, id, distance)`` with ``distance`` ascending per
    query, tie-broken by id.  Join payloads back on ``id`` afterwards if the
    caller needs them (late materialization, reference vector_store.py:303-313).

    ``check_k=True`` reproduces the reference's eager ``k > N`` ValueError at
    the cost of a count job; leave False inside lazy pipelines.
    """
    if metric not in ("l2", "sqeuclidean", "cosine", "dot"):
        raise ValueError(f"unknown metric: {metric}")
    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    if check_k:
        _check_k(index.count(), k)

    if impl == "expr":
        return _knn_expr(index, queries, k, id_col, vec_col,
                         query_id_col, query_vec_col, metric)
    if impl == "pandas":
        return _knn_pandas(index, queries, k, id_col, vec_col,
                           query_id_col, query_vec_col, metric)
    raise ValueError(f"unknown impl: {impl}")


def _distance_expr(metric: str, vec_col: str, query_vec_col: str):
    if metric == "l2":
        return l2_distance(vec_col, query_vec_col)
    if metric == "sqeuclidean":
        return squared_l2_distance(vec_col, query_vec_col)
    if metric == "dot":
        # maximum-inner-product search: distance = -(v·q), so the ascending
        # (distance, id) contract ranks highest dot product first — the
        # MIPS convention (recommendation/retrieval scoring)
        from ..functions.distance import dot_product

        return -dot_product(vec_col, query_vec_col)
    # cosine *distance* = 1 - cosine similarity, so ascending = most similar
    from ..functions.distance import cosine_similarity

    return 1.0 - cosine_similarity(vec_col, query_vec_col)


def _knn_expr(index, queries, k, id_col, vec_col, query_id_col, query_vec_col,
              metric) -> DataFrame:
    joined = index.crossJoin(F.broadcast(queries))
    dist = joined.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("id"),
        _distance_expr(metric, vec_col, query_vec_col).alias("distance"),
    )
    return top_k_per_group(
        dist, ["query_id"], [F.col("distance").asc(), F.col("id").asc()], k
    ).orderBy("query_id", "distance", "id")


#: broadcast-side ceiling: beyond this the "queries are small" contract
#: is violated and the join-based impl is the right plan
_MAX_QUERY_ROWS = 65_536


def _knn_pandas(index, queries, k, id_col, vec_col, query_id_col,
                query_vec_col, metric) -> DataFrame:
    """Partition-local NumPy top-k, then a global merge.

    The query batch is shipped to executors as a broadcast variable (small
    side), so the big side never shuffles before the k-row-per-query-per-
    partition candidate set.
    """
    spark = index.sparkSession
    qrows = queries.select(query_id_col, query_vec_col) \
        .limit(_MAX_QUERY_ROWS + 1).collect()
    if len(qrows) > _MAX_QUERY_ROWS:
        raise ValueError(
            f"query batch exceeds {_MAX_QUERY_ROWS} rows — the pandas kNN "
            "broadcasts the query side; for query sets this large use "
            "impl='expr' (a join plan) or batch the queries"
        )
    if not qrows:
        return spark.createDataFrame([], "query_id long, id long, distance double")
    qids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    qmat = np.asarray([r[1] for r in qrows], dtype=np.float64)
    bc = spark.sparkContext.broadcast((qids, qmat, metric, k))

    # cap the per-task distance block at ~64 MB (m × chunk doubles) so huge
    # partitions stream through in chunks instead of materializing m × rows
    chunk_rows = max(1024, int(8_000_000 / max(len(qrows), 1)))

    def score_partition(batches):
        b_qids, b_qmat, b_metric, b_k = bc.value
        for pdf in batches:
            for start in range(0, len(pdf), chunk_rows):
                yield from _score_chunk(
                    pdf.iloc[start:start + chunk_rows], b_qids, b_qmat,
                    b_metric, b_k
                )

    def _score_chunk(pdf, b_qids, b_qmat, b_metric, b_k):
        if len(pdf) == 0:
            return
        ids = pdf["__id"].to_numpy(dtype=np.int64)
        vecs = np.asarray(pdf["__vec"].tolist(), dtype=np.float64)
        if b_metric in ("l2", "sqeuclidean"):
            # ||v||^2 + ||q||^2 - 2 v·q : one GEMM for the whole block
            sq = (
                (vecs * vecs).sum(axis=1)[None, :]
                + (b_qmat * b_qmat).sum(axis=1)[:, None]
                - 2.0 * (b_qmat @ vecs.T)
            )
            np.maximum(sq, 0.0, out=sq)
            dist = np.sqrt(sq) if b_metric == "l2" else sq
        elif b_metric == "dot":  # MIPS: one GEMM, negated
            dist = -(b_qmat @ vecs.T)
        else:  # cosine distance
            vn = np.linalg.norm(vecs, axis=1)
            qn = np.linalg.norm(b_qmat, axis=1)
            denom = qn[:, None] * vn[None, :]
            sim = np.divide(b_qmat @ vecs.T, denom, out=np.zeros_like(denom),
                            where=denom != 0)
            dist = 1.0 - sim
        kk = min(b_k, dist.shape[1])
        # Local top-k under the FULL contract order (distance, id): a bare
        # argpartition on distance keeps an arbitrary member of a tie group
        # at the kth boundary, and emitting whole tie groups is unbounded on
        # duplicate-heavy data.  Per query row, a lexsort picks exactly kk
        # candidates by (distance, id) — bounded O(m·k) emission, correct
        # ties, O(n log n) per query row in C.  The winner VECTORS ride
        # along (kk rows per query per chunk — bounded) so the exact
        # re-score downstream needs no second index scan.
        out_qid = np.empty(dist.shape[0] * kk, dtype=np.int64)
        out_id = np.empty(dist.shape[0] * kk, dtype=np.int64)
        out_d = np.empty(dist.shape[0] * kk, dtype=np.float64)
        out_v = []
        vec_vals = pdf["__vec"].to_numpy()
        for i in range(dist.shape[0]):
            order = np.lexsort((ids, dist[i]))[:kk]
            out_qid[i * kk:(i + 1) * kk] = b_qids[i]
            out_id[i * kk:(i + 1) * kk] = ids[order]
            out_d[i * kk:(i + 1) * kk] = dist[i, order]
            out_v.extend(vec_vals[j] for j in order)
        yield pd.DataFrame(
            {"query_id": out_qid, "id": out_id, "distance": out_d,
             "__vec": out_v}
        )

    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    narrow = index.select(F.col(id_col).alias("__id"), F.col(vec_col).alias("__vec"))
    cand_schema = StructType([
        StructField("query_id", LongType()),
        StructField("id", LongType()),
        StructField("distance", DoubleType()),
        # the ORIGINAL element type rides along so the exact re-score
        # below evaluates the same arithmetic as impl='expr'
        StructField("__vec", narrow.schema["__vec"].dataType),
    ])
    candidates = narrow.mapInPandas(score_partition, schema=cand_schema)
    winners = top_k_per_group(
        candidates, ["query_id"], [F.col("distance").asc(), F.col("id").asc()], k
    )
    # exact re-score of the k·q winners with the SAME expression over the
    # SAME column types as impl='expr': the GEMM's ||v||²+||q||²−2v·q
    # algebra rounds differently than the (v−q)² fold (measured: a
    # 6th-decimal flip at sf0.1), so selection uses the fast kernel but
    # the RETURNED distances are bit-identical across impls and to the
    # SQL oracle.  The winner vectors were carried through the candidate
    # stream (k·q rows), so this is a projection — no second index scan.
    rescored = (
        winners.drop("distance")
        .join(
            F.broadcast(
                queries.select(
                    F.col(query_id_col).alias("query_id"),
                    F.col(query_vec_col).alias("__qv"),
                )
            ),
            "query_id",
        )
        .select(
            "query_id", "id",
            _distance_expr(metric, "__vec", "__qv").alias("distance"),
        )
    )
    return rescored.orderBy("query_id", "distance", "id")


def _l2_float_fold(mat: np.ndarray, q: np.ndarray) -> np.ndarray:
    """L2 distance from every row of ``mat`` to ``q`` (both float32) with
    the arithmetic of :func:`l2_distance` on ``array<float>`` columns: a
    float32 difference and square, a float64 left-to-right fold (``cumsum``
    is sequential, unlike the pairwise ``sum``), then ``sqrt``.  The result
    is bit-identical to the column expression."""
    diff = mat - q
    return np.sqrt(np.cumsum((diff * diff).astype(np.float64), axis=1)[:, -1])


def _topk_positions(dist: np.ndarray, ids: np.ndarray, k: int) -> np.ndarray:
    """Positions of the ``k`` smallest ``(dist, id)`` pairs, in that order.

    The partition at the k-th distance keeps the whole tie group at the
    boundary (``~(dist > kth)`` also keeps NaN, which sorts last as in
    Spark), so the lexsort of that strip cannot drop a tied lower id."""
    if len(dist) > k:
        kth = np.partition(dist, k - 1)[k - 1]
        strip = np.flatnonzero(~(dist > kth))
    else:
        strip = np.arange(len(dist))
    return strip[np.lexsort((ids[strip], dist[strip]))][:k]


def knn_search_collect(index: DataFrame, queries: np.ndarray, k: int
                       ) -> list[list]:
    """Eager exact L2 top-``k`` of each row of ``queries`` (an ``(m, dim)``
    float32 matrix) against ``index`` in ONE Spark job.

    Returns, per query, up to ``k`` Rows carrying every ``index`` column
    plus ``query_id`` and ``distance``, ordered ``(distance, id)``.
    Distances are bit-identical to ``knn_search(..., impl="expr")``.

    Each task scores its Arrow batches of ``index`` (columns ``id`` long and
    ``vec`` ``array<float>`` of width ``dim``, others ride along) and emits at most ``k`` rows per
    query per batch; the driver merges those by ``(distance, id)``.  There
    is no count, no query broadcast and no shuffle: the guards that need
    the index size (empty index, ``k > N``) are the caller's, which
    typically already knows N.  Point it at a cached DataFrame, or every
    call re-reads the index."""
    import pyarrow as pa
    from pyspark.sql.types import DoubleType, LongType, StructField, StructType

    if k <= 0:
        raise ValueError(f"k must be positive, got {k}")
    qmat = np.asarray(queries, dtype=np.float32)
    if qmat.ndim != 2:
        raise ValueError(f"queries must be a 2-D matrix, got {qmat.shape}")
    if len(qmat) == 0:
        return []
    dim = qmat.shape[1]

    def score(batches):
        for batch in batches:
            n = batch.num_rows
            if n == 0:
                continue
            ids = batch.column("id").to_numpy()
            mat = batch.column("vec").flatten().to_numpy().reshape(n, dim)
            pos, qids, dists = [], [], []
            for qi, q in enumerate(qmat):
                dist = _l2_float_fold(mat, q)
                top = _topk_positions(dist, ids, k)
                pos.append(top)
                qids.append(np.full(len(top), qi, dtype=np.int64))
                dists.append(dist[top])
            hits = batch.take(pa.array(np.concatenate(pos)))
            yield pa.RecordBatch.from_arrays(
                hits.columns + [pa.array(np.concatenate(qids)),
                                pa.array(np.concatenate(dists))],
                names=hits.schema.names + ["query_id", "distance"],
            )

    schema = StructType(index.schema.fields + [
        StructField("query_id", LongType()),
        StructField("distance", DoubleType()),
    ])
    out: list[list] = [[] for _ in range(len(qmat))]
    for r in index.mapInArrow(score, schema).collect():
        out[r.query_id].append(r)
    return [sorted(rs, key=lambda r: (r.distance, r.id))[:k]
            for rs in out]


def range_search(index: DataFrame, queries: DataFrame, radius: float,
                 id_col: str = "id", vec_col: str = "vec",
                 query_id_col: str = "query_id", query_vec_col: str = "qvec",
                 metric: str = "l2") -> DataFrame:
    """Radius search — every index row within ``radius`` of each query
    (faiss ``range_search`` semantics; the reference has only top-k).

    ``(query_id, id, distance)`` with ``distance <= radius``, ordered
    ``(query_id, distance ASC, id ASC)``.  Unlike top-k the result size
    is data-dependent, which is exactly what dedup-style "everything
    closer than τ" queries need.

    Plan: broadcast the query batch, distance + filter inside one
    codegen stage over the unshuffled index scan — rows leave the scan
    task only if they pass the radius predicate, so the shuffle carries
    the (small) result set, not the corpus.  ``metric`` as in
    :func:`knn_search`; for ``cosine`` the radius bounds cosine
    *distance* (1 − similarity)."""
    if metric not in ("l2", "sqeuclidean", "cosine", "dot"):
        raise ValueError(f"unknown metric: {metric}")
    joined = index.crossJoin(F.broadcast(queries))
    dist = joined.select(
        F.col(query_id_col).alias("query_id"),
        F.col(id_col).alias("id"),
        _distance_expr(metric, vec_col, query_vec_col).alias("distance"),
    )
    return (
        dist.filter(F.col("distance") <= F.lit(float(radius)))
        .orderBy("query_id", "distance", "id")
    )


def knn_join_payload(result: DataFrame, store: DataFrame,
                     id_col: str = "id") -> DataFrame:
    """Late-materialize payload columns for kNN hits (vector_store.py:303-313).

    The join deduplicates payload fetches across queries exactly like the
    reference's ``np.unique`` + single IN-lookup.
    """
    return result.join(store, on=id_col, how="left")


def knn_join_blocked(queries: DataFrame, index: DataFrame, k: int,
                     query_id_col: str = "query_id",
                     query_vec_col: str = "qvec",
                     id_col: str = "id", vec_col: str = "vec",
                     metric: str = "l2",
                     n_query_blocks: int = 8,
                     n_index_blocks: int = 8) -> DataFrame:
    """Exact kNN JOIN of two LARGE tables — top-``k`` index rows for
    EVERY query row, fully distributed, no driver collect on either side.

    ``knn_search``'s pandas kernel broadcasts the query batch (capped at
    65k rows); this is the other regime — "find the nearest train-set
    neighbor for every eval document" where BOTH sides are tables.  The
    ``cosine_topk_pairs_blocked`` decomposition generalized to two
    tables: each side hashes into blocks, each block PACKS once into a
    single blob row (ids + float64 matrix), every (query-block,
    index-block) pair joins its two blobs and computes one NumPy GEMM,
    emitting its block-local per-query top-k WITH the winner vectors
    riding along; a global per-query window merges, and the winners are
    re-scored with the exact column expression so returned distances are
    bit-identical to ``impl='expr'`` (same convention as the pandas
    kernel — GEMM selects, the expression scores).

    Shuffle: |Q| + |I| narrow pack rows, then each query blob replicated
    ``n_index_blocks`` times and each index blob ``n_query_blocks``
    times (coarse blobs, never per-row replication), then
    ``N_q · k · n_index_blocks`` candidate rows into the merge.  Pick
    block counts so a block (rows/blocks × dim doubles) fits executor
    memory.  ``metric``: ``l2`` or ``cosine``."""
    import numpy as np

    if metric not in ("l2", "cosine"):
        raise ValueError(f"unsupported metric for blocked join: {metric}")
    spark = index.sparkSession

    def packer(n_blocks):
        def pack(key, pdf):
            ids = pdf["id"].to_numpy(dtype=np.int64)
            mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
            return pd.DataFrame({
                "blk": [int(key[0])],
                "n": [len(ids)],
                "dim": [int(mat.shape[1])],
                "ids": [ids.tobytes()],
                "mat": [mat.tobytes()],
            })
        return pack

    pack_schema = "blk int, n long, dim long, ids binary, mat binary"
    qn = queries.select(
        F.col(query_id_col).alias("id"),
        F.col(query_vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(query_id_col)), F.lit(n_query_blocks))
        .cast("int").alias("blk"),
    )
    xn = index.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_index_blocks))
        .cast("int").alias("blk"),
    )
    qp = qn.groupBy("blk").applyInPandas(packer(n_query_blocks),
                                         schema=pack_schema)
    xp = xn.groupBy("blk").applyInPandas(packer(n_index_blocks),
                                         schema=pack_schema)

    keys = spark.createDataFrame(
        [(i, j) for i in range(n_query_blocks)
         for j in range(n_index_blocks)],
        "qb int, ib int",
    )
    a = qp.select(F.col("blk").alias("qb"), F.col("n").alias("q_n"),
                  F.col("dim").alias("q_dim"), F.col("ids").alias("q_ids"),
                  F.col("mat").alias("q_mat"))
    b = xp.select(F.col("blk").alias("ib"), F.col("n").alias("i_n"),
                  F.col("dim").alias("i_dim"), F.col("ids").alias("i_ids"),
                  F.col("mat").alias("i_mat"))
    pairs = a.join(F.broadcast(keys), "qb").join(b, "ib")

    def gemm(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                qi = np.frombuffer(r.q_ids, dtype=np.int64)
                qm = np.frombuffer(r.q_mat, dtype=np.float64).reshape(
                    r.q_n, r.q_dim)
                xi = np.frombuffer(r.i_ids, dtype=np.int64)
                xm = np.frombuffer(r.i_mat, dtype=np.float64).reshape(
                    r.i_n, r.i_dim)
                if metric == "l2":
                    d = (
                        (qm * qm).sum(1)[:, None]
                        + (xm * xm).sum(1)[None, :]
                        - 2.0 * (qm @ xm.T)
                    )
                    np.maximum(d, 0.0, out=d)
                    np.sqrt(d, out=d)
                else:
                    qnorm = np.linalg.norm(qm, axis=1)
                    xnorm = np.linalg.norm(xm, axis=1)
                    denom = qnorm[:, None] * xnorm[None, :]
                    sim = np.divide(qm @ xm.T, denom,
                                    out=np.zeros_like(denom),
                                    where=denom != 0)
                    d = 1.0 - sim
                kk = min(k, d.shape[1])
                # two-stage per-row selection: a VECTORIZED argpartition
                # narrows each row to a tie-complete candidate strip
                # (everything <= the buf-th smallest value — whole tie
                # groups included, so the exact (distance, id) order
                # cannot lose a boundary tie), then the small strip gets
                # the exact lexsort.  A full-row lexsort per query was
                # the smoke's bottleneck (12.5k-wide sorts × 160k rows).
                buf = min(d.shape[1], max(4 * kk, kk + 64))
                if buf < d.shape[1]:
                    kth = np.partition(d, buf - 1, axis=1)[:, buf - 1]
                else:
                    kth = np.full(d.shape[0], np.inf)
                rows_q, rows_i, rows_d, rows_v = [], [], [], []
                xlist = [xm[j] for j in range(xm.shape[0])]
                for i in range(d.shape[0]):
                    strip = np.nonzero(d[i] <= kth[i])[0]
                    order = strip[np.lexsort((xi[strip], d[i, strip]))][:kk]
                    rows_q.extend([int(qi[i])] * kk)
                    rows_i.extend(int(xi[j]) for j in order)
                    rows_d.extend(float(d[i, j]) for j in order)
                    rows_v.extend(xlist[j].tolist() for j in order)
                yield pd.DataFrame({
                    "query_id": rows_q, "id": rows_i,
                    "distance": rows_d, "__vec": rows_v,
                })

    cand = pairs.mapInPandas(
        gemm,
        schema="query_id long, id long, distance double, "
               "__vec array<double>",
    )
    winners = top_k_per_group(
        cand, ["query_id"],
        [F.col("distance").asc(), F.col("id").asc()], k,
    )
    # exact re-score in the ORIGINAL element types (same convention as
    # the pandas kernel): the float64 GEMM copy selected the winners;
    # casting it back to the index column's element type restores the
    # original values exactly (float→double→float is lossless), so the
    # returned distances are bit-identical to impl='expr'
    qv = queries.select(
        F.col(query_id_col).alias("query_id"),
        F.col(query_vec_col).alias("__qv"),
    )
    orig_t = index.schema[vec_col].dataType
    return (
        winners.withColumn("__vec", F.col("__vec").cast(orig_t))
        .drop("distance")
        .join(qv, "query_id")
        .select(
            "query_id", "id",
            _distance_expr(metric, "__vec", "__qv").alias("distance"),
        )
        .orderBy("query_id", "distance", "id")
    )
