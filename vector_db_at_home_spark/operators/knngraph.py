"""Distributed k-NN graph construction via NN-descent (Dong, Charikar &
Li, WWW 2011 — public): the standard offline builder for graph-ANN
indexes (HNSW layers, NSG, DiskANN all start from a k-NN graph).

The insight is that a neighbor of a neighbor is likely a neighbor:
start from a cheap approximate neighborhood, then repeatedly score each
node against its neighbors' neighbors and keep the best k.  Each round
is PURE keyed joins + one per-node top-k — no driver-side graph, no
global structure, which is what makes the algorithm the canonical
Spark/MapReduce choice where HNSW's sequential insert loop is not.

Spark shapes per round:

- undirected view: ``E ∪ reverse(E)`` (the reverse edges are what let a
  node with few out-links be rediscovered through its in-links);
- candidate generation: one self-equi-join of that view on the shared
  endpoint — |candidates| ≈ Σ_v deg(v)² ≈ n·(2k)² rows of three longs;
- scoring: two vector joins + a codegen'd ``zip_with``/``aggregate``
  squared-L2 (JVM-side, no Python);
- selection: per-src ``row_number`` over ``(d2, dst)`` — map-side
  WindowGroupLimit keeps the shuffle at ≤ k rows per node per task;
- ``localCheckpoint`` per round caps lineage (the iterative-Spark rule,
  same as ``graph.connected_components``).

Scale levers (documented, not silently applied): the classical ρ-sample
of each neighborhood bounds the join quadratically (ρ²), and the
init-bucket width trades first-round quality for fan-out.  At 100 TB
the candidate join is the cost — it shuffles fixed-width id triples,
never vectors; vectors join in only for the per-round scoring pass.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from .dedup import _md5_h60


def _sq_dist(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, v: acc + v,
    )


def _topk_edges(pairs: DataFrame, v: DataFrame, k: int) -> DataFrame:
    """Score candidate (src, dst) pairs and keep each src's k nearest
    (ties broken on dst — fully deterministic)."""
    scored = (
        pairs
        .join(v.select(F.col("id").alias("src"),
                       F.col("vec").alias("va")), "src")
        .join(v.select(F.col("id").alias("dst"),
                       F.col("vec").alias("vb")), "dst")
        .select("src", "dst",
                _sq_dist(F.col("va"), F.col("vb")).alias("d2"))
    )
    w = Window.partitionBy("src").orderBy(F.col("d2").asc(),
                                          F.col("dst").asc())
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .drop("rn")
    )


def knn_graph_nndescent(vecs: DataFrame, id_col: str = "id",
                        vec_col: str = "vec", k: int = 10,
                        rounds: int | None = None,
                        init_bucket_size: int | None = None,
                        rho: float | None = None,
                        early_stop_frac: float | None = None) -> DataFrame:
    """Build the approximate k-NN graph ``(src, dst, d2)`` of ``vecs``.

    Init seeds each node's neighborhood from TWO independent md5 bucket
    families of ~``init_bucket_size`` nodes each (two families make a
    doubly-isolated node vanishingly rare; any single incident edge
    re-integrates a node through the reverse-edge view).  ``rounds``
    fixed iterations of the neighbor-of-neighbor refinement follow.

    ``rho`` is NN-descent's classical sampling lever: each round only a
    deterministic md5-selected ``rho`` fraction of the undirected edge
    view enters the neighbor-of-neighbor join, bounding the candidate
    blow-up QUADRATICALLY (ρ² of the full join) at a graceful recall
    cost — the knob that keeps the per-round cost affordable when
    n·(2k)² stops being.  ``None`` = exact (no sampling).

    ``early_stop_frac`` is the paper's OTHER termination rule: stop when
    a round changes at most that fraction of the n·k edges (one cheap
    left-anti count over two checkpointed id-pair sets per round).
    Deterministic (the stop depends only on the data) but OFF by
    default: measured back-to-back at 50k, frac=0.01 saved only ~4%
    wall (88.4 s vs 92.3 s — the log-scaled round bound is nearly tight
    there) while perturbing the tail of a few nodes' neighbor lists
    (every full-run edge survived, but the stopped run kept a few extra
    pre-refinement edges).  Worth turning on when per-round cost
    dominates (very large n with ρ-sampling); measured change counts at
    sf0.1: [32581, 26209, 13267, 4163, 982, 219] of n·k=40000 over the
    6 bounded rounds.

    Deterministic end to end given the input (md5 buckets, md5 edge
    sampling, fixed rounds, (d2, dst) tie-breaks), but the RESULT is
    approximate — the registered correctness entry therefore follows
    the IVF pattern: DuckDB value-hashes the exact leg while
    convergence enters as an in-plan recall boolean."""
    v = vecs.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    n = v.count()
    bsz = init_bucket_size or max(2 * k, 16)
    n_buckets = max(n // bsz, 1)
    if rounds is None:
        # information propagates one hop per round; the bucket graph's
        # effective diameter grows ~log with the bucket count
        import math

        rounds = max(4, math.ceil(math.log2(max(n_buckets, 2))))

    init = bucket_pairs_init(v, bsz, n=n)
    nbrs = _topk_edges(init, v, k).localCheckpoint(eager=True)
    # Explored alternative (round 7, rejected): the paper's new/old
    # local-join optimization — only edges that CHANGED since the last
    # round spawn neighbor-of-neighbor candidates (new⋈all ∪ all⋈new),
    # shrinking the quadratic term from deg² to |new|·deg.  Implemented
    # and verified RESULT-IDENTICAL at 50k (every pair through two old
    # edges was generated the round its younger edge was new), but the
    # measured walls overlap the ambient noise band (new/old 72.6/81.4 s
    # vs full 92.3/69.6 s back-to-back pairs): within the log-bounded
    # round count, |new| stays a large fraction of n·k until the final
    # rounds (sf0.1 change profile: 32581→219 of 40000 over 6 rounds),
    # so candidate savings arrive exactly when rounds are cheap anyway,
    # and the per-round anti-join + doubled join fan-in eat the rest.
    # The simpler full join stays; ρ-sampling remains the real lever.
    for rnd in range(rounds):
        und = (
            nbrs.select("src", "dst")
            .union(nbrs.select(F.col("dst").alias("src"),
                               F.col("src").alias("dst")))
            .distinct()
        )
        if rho is not None:
            # deterministic per-round edge sample: md5 of (round, src,
            # dst) — the SAME edge keeps/loses independently each round,
            # so over R rounds every pair route gets sampled somewhere
            keep = (
                _md5_h60(F.concat_ws(":", F.lit(str(rnd)),
                                     F.col("src").cast("string"),
                                     F.col("dst").cast("string")))
                % 1_000_000 < int(rho * 1_000_000)
            )
            und = und.filter(keep)
        non = (
            und.alias("x")
            .join(und.alias("y"), F.col("x.dst") == F.col("y.src"))
            .select(F.col("x.src").alias("src"),
                    F.col("y.dst").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )
        # reverse integration: the undirected view itself is a candidate
        # set, not just a join input — if B holds A as a neighbor but not
        # vice versa, (A, B) must be able to enter A's OWN top-k, else
        # that edge can only ever be rediscovered two hops out.  Costs
        # nothing extra at scale (und ⊆ non's key domain, id pairs only)
        # and lifted measured recall@5 at sf0.1 from 0.86 to >= 0.95.
        cand = non.union(und).union(nbrs.select("src", "dst")).distinct()
        new_nbrs = _topk_edges(cand, v, k).localCheckpoint(eager=True)
        if early_stop_frac is not None:
            changed = (
                new_nbrs.select("src", "dst")
                .join(nbrs.select("src", "dst"), ["src", "dst"],
                      "left_anti")
                .count()
            )
            nbrs = new_nbrs
            if changed <= early_stop_frac * n * k:
                break
        else:
            nbrs = new_nbrs
    return nbrs


def navigation_edges(ids: DataFrame, id_col: str = "id",
                     n_rank_partitions: int = 32) -> DataFrame:
    """Deterministic long-range ``(src, dst)`` edges that make ANY k-NN
    graph navigable: Chord-style fingers over the md5 ring.

    A pure k-NN graph on clustered data is DISCONNECTED (each cluster is
    its own clique), so greedy/beam descent can never leave the clusters
    its seeds landed in — the reason HNSW keeps upper layers and Vamana
    keeps α-pruned long edges.  Fingers are the distributed analog: rank
    every node by ``md5(id)`` (a data-independent random permutation),
    then give rank r an edge to rank ``r + 2^i`` (mod n) for each i —
    ⌈log₂ n⌉ edges per node, any node reachable from any seed in
    O(log n) hops, fully deterministic.

    Scale shape: the global rank is NOT a single-task window — it range
    partitions on the md5 value, ranks within partitions, and adds
    per-partition offsets (the offset table is one row per partition,
    broadcast).  The finger join is one equi-join on rank after
    exploding the ⌈log₂ n⌉ step array.  Everything shuffles two longs
    per row."""
    from pyspark.sql import Window as W

    h = ids.select(
        F.col(id_col).alias("id"),
        _md5_h60(F.col(id_col).cast("string")).alias("__h"),
    )
    n = h.count()
    if n <= 1:
        return h.select(F.col("id").alias("src"),
                        F.col("id").alias("dst")).limit(0)
    # MATERIALIZE the range exchange once: __pid comes from
    # spark_partition_id over sampled range boundaries, and the frame is
    # consumed by TWO branches (offset table + rank) — if the exchange
    # re-executed per branch (exchange reuse off, AQE re-planning), rows
    # near a boundary could land in different partitions per branch and
    # the offsets would no longer match the within-partition ranks.  The
    # checkpoint pins one physical partitioning for every consumer.
    hp = (
        h.repartitionByRange(n_rank_partitions, "__h", "id")
        .withColumn("__pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    counts = hp.groupBy("__pid").agg(F.count(F.lit(1)).alias("__cnt"))
    # cumulative offsets: a window over ONE ROW PER PARTITION (≤ a few
    # thousand rows on any cluster) — not over the data
    offs = counts.withColumn(
        "__off",
        F.coalesce(
            F.sum("__cnt").over(
                W.orderBy("__pid").rowsBetween(W.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select("__pid", "__off")
    ranked = (
        hp.withColumn(
            "__r",
            F.row_number().over(
                W.partitionBy("__pid").orderBy("__h", "id")
            ),
        )
        .join(F.broadcast(offs), "__pid")
        .select("id", (F.col("__r") + F.col("__off") - 1).alias("rank"))
    )
    import math

    steps = [1 << i for i in range(max(1, math.ceil(math.log2(n))))]
    tgt = (
        ranked.select(
            F.col("id").alias("src"),
            F.explode(F.array(*[F.lit(s) for s in steps])).alias("__s"),
            "rank",
        )
        .select("src", ((F.col("rank") + F.col("__s")) % n).alias("rank"))
    )
    return (
        tgt.join(ranked, "rank")
        .select("src", F.col("id").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
    )


def graph_ann_search(vecs: DataFrame, graph: DataFrame, queries: DataFrame,
                     k: int = 5, beam: int | None = None,
                     hops: int | None = None, n_seeds: int = 8,
                     navigable: bool = True,
                     fingers: DataFrame | None = None,
                     early_stop: bool = True,
                     stable_hops: int = 2,
                     stats: dict | None = None,
                     id_col: str = "id", vec_col: str = "vec",
                     query_id_col: str = "query_id",
                     query_vec_col: str = "qvec") -> DataFrame:
    """Beam search over a prebuilt k-NN ``graph`` — the query side of the
    graph index family (the same best-first descent HNSW/NSG/DiskANN
    use at query time, run breadth-synchronous so ALL queries advance
    together in one plan).

    Every hop is pure keyed joins — no driver-side graph, no per-query
    loop: the per-query frontier (its ``beam`` best scored nodes NOT YET
    EXPANDED — best-first, the HNSW candidate-heap discipline; a frontier
    of the best *scored* nodes stalls the moment the top-beam stops
    changing, measured 0.39 recall at 50k vs 0.99 with expansion
    tracking) joins the edge list on the shared endpoint, unseen
    destinations join the vector table once for scoring, and a map-side
    WindowGroupLimit re-selects the beam.  The scored set accumulates so
    the final top-k ranks everything ever visited.  ``hops`` defaults to
    ``max(4, ⌈log₂(n / n_seeds)⌉)`` — the finger-ring diameter, so any
    region is reachable; fixed hops keep the plan static and
    deterministic.

    Entry points: the ``n_seeds`` nodes with the smallest
    ``md5(id)`` — deterministic, data-independent, and uniformly spread
    over the id space, so no single region of the graph is favored.

    ``navigable=True`` (default) augments the k-NN edges with
    :func:`navigation_edges` — without them a k-NN graph on clustered
    data is disconnected and the beam can never reach a cluster no seed
    landed in; with them any node is O(log n) hops from any seed.
    Pass ``False`` when the caller pre-unioned its own long edges, or
    pass ``fingers`` (a ``(src, dst)`` frame, e.g.
    ``knngraph_load(...).fingers``) to reuse PERSISTED finger edges —
    that skips the on-the-fly global md5 rank entirely, removing the
    one range exchange the loaded-index query path used to pay per
    batch (VERDICT r7 task 8); the on-the-fly path remains for ad-hoc
    in-memory graphs.

    ``early_stop=True`` (default) breaks out of the hop loop after
    ``stable_hops`` CONSECUTIVE hops leave every query's top-k unchanged.
    This is a HEURISTIC, not a sound convergence proof: frontier nodes
    outside the current top-k can in principle surface closer neighbors
    at a later hop, so on adversarial graph topologies the early-stopped
    result can differ from (and trail) the fixed ``hops`` schedule.
    Empirically it has matched the fixed schedule exactly on every
    measured dataset (tools/beam_earlystop_smoke.py at 50k: agreement
    1.0, 13 scheduled hops stop early, wall −15%); the
    ``stable_hops=2`` confirmation window (two zero-change probes in a
    row, not one) is the guard against a one-hop plateau.  One tiny
    aggregate per hop (|Q|·k id pairs anti-joined against the previous
    hop's); deterministic (the stop depends only on the data).  Callers
    that need the exact fixed-schedule result pass
    ``early_stop=False``.  ``stats`` (optional dict) receives
    ``hops_scheduled`` / ``hops_executed``.

    Scale: the frontier is ``|Q|·beam`` fixed-width rows; each hop
    shuffles id pairs only, vectors join in once per hop for the NEW
    candidates.  100 TB shape: everything keyed, nothing collected.
    """
    if beam is None:
        beam = max(2 * k, 10)
    v = vecs.select(F.col(id_col).alias("id"),
                    F.col(vec_col).cast("array<double>").alias("vec"))
    q = queries.select(F.col(query_id_col).alias("query_id"),
                       F.col(query_vec_col).cast("array<double>")
                       .alias("qvec"))
    if hops is None:
        import math

        n = v.count()
        hops = max(4, math.ceil(math.log2(max(n / max(n_seeds, 1), 2))))
    edges = graph.select("src", "dst")
    if fingers is not None:
        edges = edges.union(fingers.select("src", "dst")).distinct()
    elif navigable:
        edges = edges.union(navigation_edges(v)).distinct()
    edges = edges.localCheckpoint(eager=True)

    seeds = (
        v.select("id")
        .withColumn("__h", _md5_h60(F.col("id").cast("string")))
        .orderBy("__h", "id").limit(n_seeds).drop("__h")
    )

    def score(cand: DataFrame) -> DataFrame:
        # cand: (query_id, id) — join both sides' vectors, squared L2
        return (
            cand.join(v, "id")
            .join(q, "query_id")
            .select("query_id", "id",
                    _sq_dist(F.col("vec"), F.col("qvec")).alias("d2"))
        )

    # |Q| × n_seeds — a bounded broadcast fan-out (n_seeds ≈ 8), the only
    # non-keyed join in the operator
    scored = score(q.select("query_id").crossJoin(F.broadcast(seeds))) \
        .localCheckpoint(eager=True)
    # best-first: expand each node at most once; the frontier is the
    # `beam` best scored-but-unexpanded nodes per query, so every hop
    # makes progress until the reachable region is exhausted
    expanded = scored.select("query_id", "id").limit(0) \
        .localCheckpoint(eager=True)
    w = Window.partitionBy("query_id").orderBy(F.col("d2").asc(),
                                               F.col("id").asc())

    def topk_ids(s: DataFrame) -> DataFrame:
        return (
            s.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= k).select("query_id", "id")
        )

    if stats is not None:
        stats["hops_scheduled"] = hops
        stats["hops_executed"] = 0
    prev_topk = topk_ids(scored).localCheckpoint(eager=True) \
        if early_stop else None
    stable = 0
    for _ in range(hops):
        if stats is not None:
            stats["hops_executed"] += 1
        frontier = (
            scored.join(expanded, ["query_id", "id"], "left_anti")
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") <= beam)
            .select("query_id", "id")
        )
        new = (
            frontier.select("query_id", F.col("id").alias("src"))
            .join(edges, "src")
            .select("query_id", F.col("dst").alias("id"))
            .distinct()
            .join(scored.select("query_id", "id"),
                  ["query_id", "id"], "left_anti")
        )
        expanded = expanded.union(frontier).localCheckpoint(eager=True)
        scored = scored.union(score(new)).localCheckpoint(eager=True)
        if early_stop:
            # stability probe (heuristic, see docstring): |Q|·k id pairs
            # vs the previous hop's — break only after `stable_hops`
            # consecutive unchanged top-k sets, so a one-hop plateau
            # (frontier still expanding, top-k momentarily static)
            # doesn't end the walk
            cur = topk_ids(scored).localCheckpoint(eager=True)
            changed = cur.join(prev_topk, ["query_id", "id"],
                               "left_anti").count()
            prev_topk = cur
            stable = stable + 1 if changed == 0 else 0
            if stable >= stable_hops:
                break
    return (
        scored.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("query_id", "id", F.sqrt(F.col("d2")).alias("distance"))
    )


def _py_md5_h60(s: str) -> int:
    """Driver/executor twin of :func:`..operators.dedup._md5_h60` —
    identical 60-bit integer from the first 15 md5 hex digits."""
    import hashlib

    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


from dataclasses import dataclass as _dataclass


@_dataclass
class ServingIndex:
    """One-time-prepared broadcast form of a loaded graph index (ids,
    packed float64 matrix, CSR-ish adjacency, md5-ranked seeds) — build
    with :func:`graph_serving_prepare`, query with
    :func:`graph_ann_search_serving`.  The collect + broadcast is paid
    ONCE per serving session; each query batch is then a single
    mapInPandas job."""

    bc: object      # Broadcast[(ids, mat, adj, seeds, pos)]
    n: int
    n_seeds: int


def graph_serving_prepare(vecs: DataFrame, graph: DataFrame,
                          fingers: DataFrame | None = None,
                          n_seeds: int = 8,
                          broadcast_budget_mb: int = 512,
                          id_col: str = "id",
                          vec_col: str = "vec") -> ServingIndex:
    """Collect a loaded graph index into executor-broadcast form (the
    serving session's one-time cost — see
    :func:`graph_ann_search_serving` for semantics and the budget
    contract).  Raises ``ValueError`` over ``broadcast_budget_mb``.

    The budget is checked BEFORE anything materializes (VERDICT r9
    task 4): counts × fixed row widths — exact for fixed-dim vectors
    (8 id + 8·dim bytes/row) and (src, dst) long pairs (16 bytes) —
    bound the broadcast size without collecting, so a too-large index
    is refused with zero rows on the driver instead of OOMing it
    first.  With ``fingers=None`` the pre-check includes the derived
    Chord-ring pairs (≤ n·⌈log₂ n⌉ — an upper bound: ring pairs that
    coincide with graph edges dedup in the final set), so borderline
    indexes that only fit WITHOUT their navigation edges are refused
    up front (r10 behavior change vs the edges-only estimate).  The
    dim probe is a single-row LIMIT 1 read; an exact check over the
    FINAL pair set (fingers and ring included — 16 bytes per pair
    actually broadcast) stays as the backstop for what the pre-check
    can only bound: vecs counted between the two points, a
    concurrently-appended store, ragged dims (r11, ADVICE r10)."""
    import math

    import numpy as np

    n = vecs.count()
    n_edges = graph.count()
    if fingers is not None:
        n_edges += fingers.count()
    elif n > 1:
        # the derived Chord ring adds ≤ n·⌈log₂ n⌉ pairs
        n_edges += n * max(1, math.ceil(math.log2(n)))
    dim = 0
    if n:
        dim = int(vecs.select(F.size(F.col(vec_col)).alias("d"))
                  .limit(1).collect()[0]["d"])
    pre_mb = (n * (8 + 8 * dim) + 16 * n_edges) / 2**20
    if pre_mb > broadcast_budget_mb:
        raise ValueError(
            f"index ~{pre_mb:.0f} MB exceeds broadcast budget "
            f"{broadcast_budget_mb} MB — use graph_ann_search")

    rows = vecs.select(F.col(id_col).alias("id"),
                       F.col(vec_col).cast("array<double>").alias("vec")
                       ).collect()
    n = len(rows)
    ids = np.array([r["id"] for r in rows], dtype=np.int64) \
        if n else np.empty(0, dtype=np.int64)
    mat = (np.vstack([r["vec"] for r in rows]).astype(np.float64)
           if n else np.empty((0, 0)))
    edge_rows = graph.select("src", "dst").collect()

    pairs = {(int(r["src"]), int(r["dst"])) for r in edge_rows}
    if fingers is not None:
        pairs |= {(int(r["src"]), int(r["dst"]))
                  for r in fingers.select("src", "dst").collect()}
    elif n > 1:
        order = sorted(range(n),
                       key=lambda i: (_py_md5_h60(str(int(ids[i]))),
                                      int(ids[i])))
        ranked = [int(ids[i]) for i in order]
        steps = [1 << i for i in range(max(1, math.ceil(math.log2(n))))]
        for r, src in enumerate(ranked):
            for st in steps:
                dst = ranked[(r + st) % n]
                if dst != src:
                    pairs.add((src, dst))
    # exact backstop over the FINAL pair set (r11, ADVICE r10): 16 bytes
    # per pair actually broadcast, fingers and derived ring included —
    # the pre-collect check above bounds the same quantity from counts
    # (its ring term n·⌈log₂ n⌉ is an upper bound on the derived pairs),
    # so the two estimates can no longer disagree about what they count
    est_mb = (mat.nbytes + ids.nbytes + 16 * len(pairs)) / 2**20
    if est_mb > broadcast_budget_mb:
        raise ValueError(
            f"index ~{est_mb:.0f} MB exceeds broadcast budget "
            f"{broadcast_budget_mb} MB — use graph_ann_search")
    adj: dict[int, list[int]] = {}
    for sA, dA in pairs:
        adj.setdefault(sA, []).append(dA)
    seeds = sorted(
        (int(i) for i in ids),
        key=lambda i: (_py_md5_h60(str(i)), i),
    )[:n_seeds]
    pos = {int(v): i for i, v in enumerate(ids)}
    bc = vecs.sparkSession.sparkContext.broadcast(
        (ids, mat, adj, seeds, pos))
    return ServingIndex(bc=bc, n=n, n_seeds=n_seeds)


def graph_ann_search_serving(vecs: DataFrame | ServingIndex,
                             graph: DataFrame | None = None,
                             queries: DataFrame | None = None,
                             k: int = 5, beam: int | None = None,
                             hops: int | None = None, n_seeds: int = 8,
                             fingers: DataFrame | None = None,
                             broadcast_budget_mb: int = 512,
                             id_col: str = "id", vec_col: str = "vec",
                             query_id_col: str = "query_id",
                             query_vec_col: str = "qvec") -> DataFrame:
    """SERVING-shaped beam search (VERDICT r8 task 6): one job, zero
    per-hop exchanges — for a LOADED graph index whose edges + vectors
    fit a broadcast budget.

    :func:`graph_ann_search` is breadth-synchronous: every hop is a
    keyed-join Spark job, right for offline batches of thousands of
    queries but useless interactively (measured 44 s for 64 queries at
    50k — all scheduling, not compute).  This path collects the index
    ONCE (ids, a packed float64 vector matrix, the CSR adjacency of
    k-NN ∪ navigation edges, the md5-ranked seed list), ships it to
    executors as a broadcast, and runs the ENTIRE walk for each query
    inside one ``mapInPandas`` pass over the query partitions — the
    plan is a single Python-map stage with no Exchange at all.

    BIT-IDENTICAL to ``graph_ann_search(early_stop=False)`` on the same
    index (pytest-pinned): same md5-smallest seeds, same
    ``max(4, ⌈log₂(n/n_seeds)⌉)`` hop default, same best-first frontier
    (beam best scored-but-unexpanded by ``(d2, id)``), same accumulated
    scored set, and the same FLOAT SEMANTICS — squared L2 accumulates
    left-to-right over the dimensions (``np.cumsum`` is the same
    sequential IEEE add chain as the Spark ``aggregate`` fold), so even
    distance ties resolve identically.  When ``fingers`` is None the
    Chord ring is derived driver-side by the exact
    :func:`navigation_edges` rule (rank by ``(md5_h60(id), id)``, rank
    r → r + 2^i mod n).

    Raises ``ValueError`` when the index exceeds
    ``broadcast_budget_mb`` — the caller's cue to use the hop-loop
    path; serving an index bigger than executor memory needs the
    distributed walk, not a bigger broadcast."""
    import math

    if isinstance(vecs, ServingIndex):
        prepared = vecs
        if queries is None:     # allow (index, queries) positionally
            queries = graph
    else:
        prepared = graph_serving_prepare(
            vecs, graph, fingers=fingers, n_seeds=n_seeds,
            broadcast_budget_mb=broadcast_budget_mb,
            id_col=id_col, vec_col=vec_col)
    n = prepared.n
    if n == 0:
        return queries.sparkSession.createDataFrame(
            [], "query_id long, id long, distance double")
    if hops is None:
        hops = max(4, math.ceil(
            math.log2(max(n / max(prepared.n_seeds, 1), 2))))
    if beam is None:
        beam = max(2 * k, 10)
    n_hops, n_beam, n_k = hops, beam, k
    bc = prepared.bc

    def walk(batches):
        import numpy as _np
        import pandas as _pd

        _ids, _mat, _adj, _seeds, _pos = bc.value

        def sq_dists(cand_ids, qv):
            rows_ = _mat[[_pos[c] for c in cand_ids]]
            diff = rows_ - qv
            # cumsum = the same left-to-right IEEE add chain as the
            # Spark aggregate fold — ties resolve identically
            return _np.cumsum(diff * diff, axis=1)[:, -1]

        for pdf in batches:
            out_q, out_i, out_d = [], [], []
            for qid, qv in zip(pdf[query_id_col], pdf[query_vec_col]):
                qv = _np.asarray(qv, dtype=_np.float64)
                scored: dict[int, float] = {}
                for c, d2 in zip(_seeds, sq_dists(_seeds, qv)):
                    scored[c] = float(d2)
                expanded: set[int] = set()
                for _ in range(n_hops):
                    frontier = sorted(
                        (c for c in scored if c not in expanded),
                        key=lambda c: (scored[c], c),
                    )[:n_beam]
                    if not frontier:
                        break
                    # d in _pos: the hop-loop path scores new candidates
                    # through an inner join with the vector table, so a
                    # dst without a vector (e.g. tombstoned) drops there
                    # — drop it here identically
                    new = {
                        d for c in frontier for d in _adj.get(c, ())
                        if d not in scored and d in _pos
                    }
                    expanded.update(frontier)
                    if new:
                        newl = sorted(new)
                        for c, d2 in zip(newl, sq_dists(newl, qv)):
                            scored[c] = float(d2)
                top = sorted(scored.items(),
                             key=lambda t: (t[1], t[0]))[:n_k]
                for c, d2 in top:
                    out_q.append(qid)
                    out_i.append(c)
                    out_d.append(math.sqrt(d2))
            yield _pd.DataFrame({"query_id": out_q, "id": out_i,
                                 "distance": out_d})

    q = queries.select(F.col(query_id_col).alias(query_id_col),
                       F.col(query_vec_col).cast("array<double>")
                       .alias(query_vec_col))
    return q.mapInPandas(
        walk, schema="query_id long, id long, distance double")


# --------------------------------------------------------------------------
# Persistence — save/load/append/delete-propagation/compaction, the same
# contract every other index family has (ann.ivf_*, pq.pq_*, sq.ivfsq_*).
# --------------------------------------------------------------------------

from dataclasses import dataclass


@dataclass
class GraphIndex:
    edges: "DataFrame"     # (src, dst, d2) — per-src top-k view
    vectors: "DataFrame"   # (id, vec array<double>)
    k: int
    # (src, dst) Chord fingers persisted at save/append time — pass to
    # graph_ann_search(fingers=...) to skip the per-query global rank.
    fingers: "DataFrame"


def knngraph_save(graph: DataFrame, vecs: DataFrame, path: str, k: int,
                  id_col: str = "id", vec_col: str = "vec") -> None:
    """Persist the graph index: ``{path}/edges`` (LOG-STRUCTURED: appends
    add candidate edge rows; every reader folds to per-src top-k, so a
    store with pending appends reads identically to a compacted one),
    ``{path}/vectors`` (needed to score future appends and beam
    searches), ``{path}/fingers`` (the :func:`navigation_edges` ring
    over the saved id set — computed ONCE here instead of per query
    batch; byte-identical to what the on-the-fly path would derive,
    since the fingers are a pure function of the id set),
    ``{path}/meta.json`` (k, enforced at read)."""
    from .maintenance import write_meta

    spark = graph.sparkSession
    v = vecs.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    )
    graph.select("src", "dst", "d2").write.mode("overwrite") \
        .parquet(f"{path}/edges")
    v.write.mode("overwrite").parquet(f"{path}/vectors")
    navigation_edges(v.select("id")).write.mode("overwrite") \
        .parquet(f"{path}/fingers")
    write_meta(spark, f"{path}/meta.json", {"k": k})


def _rewrite_fingers(spark, path: str, ids: DataFrame) -> None:
    """Regenerate ``{path}/fingers`` from the CURRENT id set with
    ``maintenance.replace_table`` (``recover_compact_crash`` heals both
    windows at the next load).  Fingers are DERIVED data — a pure
    function of the id set — so regeneration, not incremental patching,
    is the consistency-preserving maintenance rule: every insert shifts
    the global mod-n ranks, and a stale ring would silently lose its
    O(log n) diameter guarantee."""
    from .maintenance import replace_table

    replace_table(spark, f"{path}/fingers", navigation_edges(ids).write)


def knngraph_load(spark, path: str) -> GraphIndex:
    """Reopen a saved graph index as its live view: the meta version
    check, then crash recovery per table
    (``maintenance.recover_compact_crash``, the ADVICE-r6 self-healing
    rule every ``*_load`` follows), tombstones anti-joined at BOTH edge
    endpoints and at the vector scan, pending append deltas folded by a
    per-(src, dst) min-d2 dedup THEN the per-src top-k window.  The
    dedup (ADVICE r7) is what makes a replayed-after-crash append
    harmless: identical delta rows collapse to one before they can
    occupy multiple top-k slots."""
    from ..functions.fsutil import fs_exists
    from .maintenance import read_meta, recover_compact_crash

    k = int(read_meta(spark, f"{path}/meta.json")["k"])
    for table in ("edges", "vectors", "fingers"):
        recover_compact_crash(spark, f"{path}/{table}")
    # defensive src!=dst: a self-edge in a hand-edited store must never
    # occupy a top-k slot
    edges = spark.read.parquet(f"{path}/edges") \
        .filter(F.col("src") != F.col("dst"))
    vectors = spark.read.parquet(f"{path}/vectors")
    fingers = spark.read.parquet(f"{path}/fingers").select("src", "dst")
    tomb = f"{path}/tombstones"
    if fs_exists(spark, tomb):
        dead = spark.read.parquet(tomb).select("id")
        vectors = vectors.join(dead, "id", "left_anti")
        edges = (
            edges.join(dead.select(F.col("id").alias("src")),
                       "src", "left_anti")
            .join(dead.select(F.col("id").alias("dst")), "dst", "left_anti")
        )
        # ring holes until the next compact regenerates — the same
        # graceful degradation the k-NN edges accept under tombstones
        fingers = (
            fingers.join(dead.select(F.col("id").alias("src")),
                         "src", "left_anti")
            .join(dead.select(F.col("id").alias("dst")), "dst", "left_anti")
        )
    # (src, dst) dedup BEFORE the top-k fold: a crash between an append's
    # edge and vector writes makes the replayed append re-emit the SAME
    # delta rows (the replay's beam is unaffected by the orphaned edges —
    # their endpoints have no vectors yet, so scoring drops them), and
    # without this fold duplicates would occupy multiple top-k slots.
    # min(d2) over byte-identical duplicates is a deterministic no-op; on
    # a hand-edited store it keeps the best distance.  Fixed-width triples
    # only; compaction materializes the folded form so steady-state loads
    # pay it on pending deltas alone.
    edges = edges.groupBy("src", "dst").agg(F.min("d2").alias("d2"))
    w = Window.partitionBy("src").orderBy(F.col("d2").asc(),
                                          F.col("dst").asc())
    folded = (
        edges.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= k)
        .select("src", "dst", "d2")
    )
    return GraphIndex(edges=folded, vectors=vectors, k=k, fingers=fingers)


def knngraph_append(spark, path: str, new_vecs: DataFrame,
                    id_col: str = "id", vec_col: str = "vec") -> None:
    """Admit a batch into the saved graph at O(batch) cost — the
    production ingest path (the graph analog of ``ann.ivf_append``):

    - each NEW node's neighbor list = its beam search over the EXISTING
      graph (the same query path users run, k = meta k) unioned with its
      exact neighbors WITHIN the batch (two md5 bucket families — the
      NN-descent init shape, batch-only);
    - existing nodes integrate the newcomers through the REVERSED beam
      edges appended as candidate deltas — the per-src top-k fold at
      read time admits a new node into an old node's list exactly when
      it beats the current kth neighbor.

    Everything appends; nothing rewrites.  Recall after many appends
    degrades gracefully (beam edges are approximate); compaction or a
    rebuild on the usual cadence restores the NN-descent-refined graph.

    Idempotent: ids already indexed are anti-joined out first (the
    ``ivf_sync_with_store`` rule), so an at-least-once replay of a
    COMMITTED append re-admits nothing — without the guard, a replayed
    batch would find ITSELF in the index at distance 0 and append
    permanent self-edges that the read-time fold would serve as rank-1
    neighbors.  A crash mid-sequence (ADVICE r7) is HEALED by replay:
    vectors land LAST as the guard's commit point, so any earlier crash
    leaves the batch unadmitted and the replay redoes every step.  The
    replay's candidate edges may differ from the lost attempt's (if the
    crash fell after the fingers rewrite, the replay searches a grown
    ring; the orphaned first-attempt edges point at vector-less ids and
    drop at scoring) — harmless by the log-structure invariant: every
    appended row carries a TRUE (src, dst, d2) distance and
    ``knngraph_load`` folds the best k per src over the candidate union
    (byte-identical duplicates collapse in its (src, dst) min-d2 dedup).
    Writing vectors FIRST was rejected twice over: it would let the
    same crash LOSE the batch's edges forever AND leave the ring
    permanently stale (the satisfied guard would skip the replay).

    Cost, honestly: the batch side is O(batch × beam work), and corpus
    TEXT/vectors are joined only where the beam touches them — but the
    per-call fixed cost scans the fixed-width edge/id tables once (the
    load's top-k fold and the hops-default count), plus ONE
    ``navigation_edges`` rank to regenerate ``{path}/fingers`` for the
    grown id set (the range exchange an on-the-fly ring costs every
    search of an in-memory graph — paid once here, after the edge write,
    so every FUTURE query batch reads the ring instead of re-deriving
    it).  Compaction
    cadence bounds the fold."""
    idx = knngraph_load(spark, path)
    nv = new_vecs.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("vec"),
    ).join(idx.vectors.select("id"), "id", "left_anti") \
        .localCheckpoint(eager=True)
    if nv.isEmpty():
        return
    qs = nv.select(F.col("id").alias("query_id"),
                   F.col("vec").alias("qvec"))
    beam = graph_ann_search(idx.vectors, idx.edges, qs, k=idx.k,
                            beam=2 * idx.k, fingers=idx.fingers)
    new_edges = beam.select(
        F.col("query_id").alias("src"), F.col("id").alias("dst"),
        (F.col("distance") * F.col("distance")).alias("d2"),
    )
    rev_edges = new_edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst"), "d2"
    )
    n_batch = nv.count()
    batch_edges = None
    if n_batch >= 2:
        kb = min(idx.k, n_batch - 1)
        init = bucket_pairs_init(nv, max(2 * kb, 16))
        batch_edges = _topk_edges(init, nv, kb)
    all_new = new_edges.union(rev_edges)
    if batch_edges is not None:
        all_new = all_new.union(batch_edges)
    # Write order (r8 self-review): edges → fingers → VECTORS LAST.  The
    # vectors append is the replay guard's commit point, so everything
    # that must be consistent with an admitted batch lands before it — a
    # crash anywhere earlier leaves the batch unadmitted and the replay
    # redoes all three steps.  (vectors-before-fingers had a permanent
    # failure mode: crash between them → guard satisfied → replay no-ops
    # → the ring never learns the batch ids.)  A replay after a
    # mid-sequence crash may append DIFFERENT-but-valid candidate rows
    # than the lost attempt (the ring it searches through can differ),
    # which is harmless by the log-structure invariant: every edge row
    # carries a TRUE (src, dst, d2) distance and the read fold keeps the
    # best k per src over the candidate union — extra true candidates
    # can only help; byte-identical duplicates collapse in the fold.
    all_new.write.mode("append").parquet(f"{path}/edges")
    # fingers cover the grown id set (old survivors ∪ batch) — identical
    # to what an on-the-fly navigation_edges over the post-append load
    # would compute, so loaded-index searches stay bit-identical while
    # skipping the per-batch global rank
    _rewrite_fingers(spark, path,
                     idx.vectors.select("id").union(nv.select("id")))
    nv.write.mode("append").parquet(f"{path}/vectors")


def bucket_pairs_init(v: DataFrame, bucket_size: int,
                      n: int | None = None) -> DataFrame:
    """Two-family md5 bucket candidate pairs over ``(id, vec)`` — THE
    NN-descent init (the builder and the append path's batch seeding
    share this single implementation, so salts and bucket sizing can
    never diverge).  ``n`` skips the count when the caller has it."""
    if n is None:
        n = v.count()
    n_buckets = max(n // bucket_size, 1)

    def fam(salt: str) -> DataFrame:
        bk = (_md5_h60(F.concat(F.lit(salt), F.col("id").cast("string")))
              % n_buckets).alias("bk")
        b = v.select("id", bk)
        return (
            b.alias("a").join(b.alias("b"), "bk")
            .select(F.col("a.id").alias("src"), F.col("b.id").alias("dst"))
            .filter(F.col("src") != F.col("dst"))
        )

    return fam("i0:").union(fam("i1:")).distinct()


def knngraph_sync_deletes(spark, store, path: str,
                          id_col: str = "id") -> int:
    """Propagate store DELETES as id-only tombstones — same contract as
    ``ann.ivf_sync_deletes``: the load filters both edge endpoints, the
    compact removes physically."""
    idx = knngraph_load(spark, path)
    gone = idx.vectors.select("id").join(
        store.df().select(F.col(id_col).alias("id")), "id", "left_anti"
    ).localCheckpoint(eager=True)
    n = gone.count()
    if n:
        gone.write.mode("append").parquet(f"{path}/tombstones")
    return n


def knngraph_compact_saved(spark, path: str,
                           target_partitions: int = 32) -> None:
    """Fold pending edge deltas to the exact per-src top-k, drop
    tombstoned nodes physically from both tables, clear the tombstones —
    ``maintenance.replace_table`` per table
    (``maintenance.recover_compact_crash`` heals every window; a crash
    between the swap and the tombstone clear re-applies an already-
    folded filter, a no-op)."""
    from ..functions.fsutil import fs_exists, fs_rmtree
    from .maintenance import replace_table

    # knngraph_load already ran recover_compact_crash on all tables —
    # the load IS the recovery point for this function
    idx = knngraph_load(spark, path)
    # fingers FIRST: REGENERATE from the surviving ids (not just fold) —
    # heals the tombstone holes the load-time endpoint filter leaves in
    # the ring, restoring the full O(log n) diameter guarantee.  Must run
    # before the vectors swap below: idx holds the PRE-swap file listing
    # (the maintenance.py reader caveat), and the survivor id set is
    # identical either side of the swap.
    _rewrite_fingers(spark, path, idx.vectors.select("id"))
    for name, df in (("edges", idx.edges), ("vectors", idx.vectors)):
        replace_table(spark, f"{path}/{name}",
                      df.repartition(target_partitions).write)
    if fs_exists(spark, f"{path}/tombstones"):
        fs_rmtree(spark, f"{path}/tombstones")
