"""Positional inverted index + exact phrase search — the classic
retrieval primitive BM25/TF-IDF can't answer (term ADJACENCY), and the
textbook showcase for expressing index lookups as keyed joins.

Phrase match = the first term at position p, the second at p + 1, … —
so a k-term phrase is k−1 equi-joins on ``(id, pos)`` after shifting
each term's postings left by its phrase offset.  Every join input is
pre-filtered to ONE term's postings (the selective-term stream an
inverted index exists to provide), so the joins carry only matching
ids/positions — never the corpus.

Scale shape: the token explode happens at the scan; each postings
stream shuffles ``(id, pos)`` longs keyed by id; a stored index
(``invindex_save`` lands postings partitioned by ``pmod(xxhash64(term),
B)``) turns the scan into a partition-pruned read — Catalyst constant-
folds ``pmod(xxhash64(lit(term)), B)`` at plan time, so the pruning
shows up as a literal ``bucket = N`` PartitionFilter (plan-pinned by
``tests/test_plans.py``).  100 TB phrase search is then k partition-
pruned scans + k−1 keyed joins.

Persistence parity (VERDICT r7 task 2): ``invindex_save / load /
append / sync_deletes / compact_saved`` — the same lifecycle contract
as ``ann.ivf_*`` / ``sq.ivfsq_*`` / ``knngraph_*``.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def build_positional_index(docs: DataFrame, text_col: str,
                           id_col: str,
                           tokenize_mode: str = "space") -> DataFrame:
    """``(term, id, pos)`` postings — lowercased tokens, 0-based
    positions.  ``invindex_save`` lands these partitioned by
    ``pmod(xxhash64(term), B)`` for pruned lookups at scale.
    ``tokenize_mode`` (r8): ``"regex"`` uses the shared cross-engine
    word pattern — positions then index WORDS, so a phrase matches
    across punctuation; default unchanged."""
    from ..functions.tokenize import tokens_col

    return docs.select(
        F.col(id_col).alias("id"),
        F.posexplode(tokens_col(F.lower(F.col(text_col)), tokenize_mode))
        .alias("pos", "term"),
    ).select("term", "id", "pos")


def _phrase_terms(phrase: str, tokenize_mode: str = "space") -> list[str]:
    from ..functions.tokenize import tokens_py

    terms = [t for t in tokens_py(phrase.lower(), tokenize_mode) if t]
    if not terms:
        raise ValueError("phrase_search requires a non-empty phrase")
    return terms


def _phrase_join(stream_for_term, terms: list[str]) -> DataFrame:
    """The k−1 adjacency equi-joins, shared by the corpus-scan and the
    loaded-index paths: ``stream_for_term(t)`` yields that term's
    ``(id, pos)`` postings stream."""
    m = stream_for_term(terms[0])
    for i, t in enumerate(terms[1:], start=1):
        nxt = stream_for_term(t).select(
            "id", (F.col("pos") - i).alias("pos"))
        m = m.join(nxt, ["id", "pos"])
    return (
        m.groupBy("id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
        .orderBy("id")
    )


def phrase_search(docs: DataFrame, phrase: str, text_col: str,
                  id_col: str, tokenize_mode: str = "space") -> DataFrame:
    """Exact phrase match over the corpus: ``(id, n_matches)`` for every
    document containing the token sequence, ordered by id.  Counts
    overlapping occurrences (a match may start at every position).
    Single-term phrases degenerate to postings counting.  The phrase
    tokenizes with the SAME ``tokenize_mode`` as the corpus."""
    terms = _phrase_terms(phrase, tokenize_mode)
    idx = build_positional_index(docs, text_col, id_col, tokenize_mode)
    return _phrase_join(
        lambda t: idx.filter(F.col("term") == t).select("id", "pos"),
        terms,
    )


def render_phrase_search_sql(phrase: str,
                             tokenize_mode: str = "space",
                             text_sql: str = "lower(text)") -> str:
    """DuckDB oracle — identical tokenization, positions, and join
    semantics over ``documents``.  ``tokenize_mode="regex"`` uses the
    shared cross-engine pattern on BOTH the corpus and the phrase;
    ``text_sql`` lets the oracle index a derived text expression."""
    from ..functions.tokenize import TOKEN_REGEX, tokens_py

    if tokenize_mode == "space":
        toks_sql = f"string_split({text_sql}, ' ')"
    else:
        toks_sql = f"regexp_extract_all({text_sql}, '{TOKEN_REGEX}')"
    terms = [t for t in tokens_py(phrase.lower(), tokenize_mode) if t]
    lit0 = terms[0].replace("'", "''")
    joins = []
    for i, t in enumerate(terms[1:], start=1):
        lt = t.replace("'", "''")
        joins.append(
            f"JOIN (SELECT id, pos - {i} AS pos FROM postings "
            f"WHERE term = '{lt}') t{i} USING (id, pos)"
        )
    return f"""
WITH postings AS (
  SELECT doc_id AS id, u.i - 1 AS pos, toks[u.i] AS term
  FROM (SELECT doc_id, {toks_sql} AS toks
        FROM documents) b,
       unnest(range(1, len(b.toks) + 1)) AS u(i)
),
m AS (
  SELECT id, pos FROM postings WHERE term = '{lit0}'
)
SELECT m.id, CAST(count(*) AS BIGINT) AS n_matches
FROM m {' '.join(joins)}
GROUP BY m.id ORDER BY m.id
"""


# --------------------------------------------------------------------------
# Persistence — save/load/append/delete-propagation/compaction, the same
# lifecycle contract as every other index family (ann.ivf_*, pq.pq_*,
# sq.ivfsq_*, knngraph_*).  VERDICT r7 task 2: the inverted index was the
# one family without persistence parity.
# --------------------------------------------------------------------------


@dataclass
class InvIndex:
    postings: "DataFrame"   # (term, id, pos, bucket) — bucket-partitioned
    docids: "DataFrame"     # (id) — the append replay guard
    doclens: "DataFrame"    # (id, dl) — BM25 lengths
    # (gen, n_docs, total_toks) — one EXACT partial per save/append
    # batch (disjoint id sets, so their sums are the corpus scalars);
    # O(#gens) rows, so serving reads these instead of aggregating the
    # whole doclens table per query.  Pending tombstones invalidate the
    # totals → consumers fall back to the doclens aggregate; compact
    # rewrites one folded gen.
    dlstats: "DataFrame"
    n_buckets: int
    tokenize_mode: str = "space"   # pinned at save; appends/queries follow
    has_tombstones: bool = False   # pending deletes → dlstats totals stale


def _bucket(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _doclens(docs: DataFrame, text_col: str, id_col: str,
             tokenize_mode: str) -> DataFrame:
    """(id, dl) — token counts under the store's pinned tokenizer, the
    exact ``size(tokens_col(lower(text)))`` long the corpus-scan BM25
    computes, so the indexed ranking reproduces it bit-for-bit.  Empty
    and all-stopword docs keep a row (BM25's n_docs counts them)."""
    from ..functions.tokenize import tokens_col

    return docs.select(
        F.col(id_col).alias("id"),
        F.size(tokens_col(F.lower(F.col(text_col)), tokenize_mode))
        .cast("long").alias("dl"),
    )


def _dlstats_row(dl: DataFrame, gen: str) -> DataFrame:
    """One exact (gen, n_docs, total_toks) partial for a doclens batch —
    deterministic for a given batch, so crash replays rewrite
    byte-identical rows a full-row dropDuplicates collapses."""
    return dl.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.coalesce(F.sum("dl").cast("long"), F.lit(0)).alias("total_toks"),
    ).select(F.lit(gen).alias("gen"), "n_docs", "total_toks")


def _dl_stats_frame(idx: "InvIndex", dl: DataFrame) -> DataFrame:
    """The 1-row corpus scalars (n_docs, total_toks) for BM25 — from the
    O(#gens) dlstats table when no tombstones are pending (identical
    values by construction: exact per-batch partials over disjoint id
    sets), else the full doclens aggregate.  At corpus scale this turns
    a per-query full-table aggregate into a read of a few metadata rows
    (r12, guide §1.2)."""
    if not idx.has_tombstones:
        return idx.dlstats.dropDuplicates().agg(
            F.coalesce(F.sum("n_docs").cast("long"), F.lit(0))
            .alias("n_docs"),
            F.coalesce(F.sum("total_toks").cast("long"), F.lit(0))
            .alias("total_toks"),
        )
    return dl.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("dl").cast("long").alias("total_toks"),
    )


def invindex_save(docs: DataFrame, text_col: str, id_col: str,
                  path: str, n_buckets: int = 64,
                  tokenize_mode: str = "space") -> None:
    """Persist the positional index: ``{path}/postings`` partitioned by
    ``bucket = pmod(xxhash64(term), n_buckets)`` — a term lookup then
    prunes to ONE parquet partition via Catalyst's constant-folded
    ``bucket = N`` literal — plus ``{path}/docids`` (the indexed-id
    table the append replay guard anti-joins), ``{path}/doclens`` (BM25
    lengths), ``{path}/dlstats`` (per-batch corpus scalars) and
    ``{path}/meta.json`` (n_buckets and tokenize_mode, written by
    ``maintenance.write_meta`` and version-checked at load).  Postings
    sort within partitions by ``(term, id)`` so the parquet row-group
    min/max stats carry tight term ranges — the pushed ``term = t`` /
    ``term IN (…)`` filters then skip row groups physically, not just
    rows."""
    from .maintenance import write_meta

    spark = docs.sparkSession
    p = build_positional_index(docs, text_col, id_col, tokenize_mode) \
        .withColumn("bucket", _bucket(F.col("term"), n_buckets))
    # repartition on the partition column so each bucket directory is
    # written by few tasks (one file per bucket, not n_tasks slivers)
    p.repartition(n_buckets, "bucket") \
        .sortWithinPartitions("term", "id") \
        .write.partitionBy("bucket") \
        .mode("overwrite").parquet(f"{path}/postings")
    dl = _doclens(docs, text_col, id_col, tokenize_mode)
    dl.write.mode("overwrite").parquet(f"{path}/doclens")
    _dlstats_row(dl, "g0").write.mode("overwrite") \
        .parquet(f"{path}/dlstats")
    docs.select(F.col(id_col).alias("id")).distinct() \
        .write.mode("overwrite").parquet(f"{path}/docids")
    write_meta(spark, f"{path}/meta.json",
               {"n_buckets": n_buckets, "tokenize_mode": tokenize_mode})


def invindex_load(spark, path: str) -> InvIndex:
    """Reopen a saved index as its live view: the format check, then
    crash recovery (the ``recover_compact_crash`` rule every ``*_load``
    follows), tombstones anti-joined at the postings, docids and doclens
    scans.  A store whose ``meta.json`` is missing or carries another
    ``format_version`` raises ``ValueError`` (``maintenance.read_meta``)
    before anything is touched.
    Pending append duplicates (the crash-torn replay window, see
    ``invindex_append``) are NOT folded here — the term-filtered search
    path dedups its tiny per-term streams, and
    ``invindex_compact_saved`` removes duplicates physically."""
    from ..functions.fsutil import fs_exists
    from .maintenance import read_meta, recover_compact_crash

    meta = read_meta(spark, f"{path}/meta.json")
    for table in ("postings", "docids", "doclens", "dlstats", "tombstones"):
        recover_compact_crash(spark, f"{path}/{table}")
    # explicit schemas: a store saved from an EMPTY corpus (the
    # streaming-ingest bootstrap) has no part files to infer from
    postings = spark.read.schema("term string, id long, pos int, "
                                 "bucket int").parquet(f"{path}/postings")
    docids = spark.read.schema("id long").parquet(f"{path}/docids")
    doclens = spark.read.schema("id long, dl long") \
        .parquet(f"{path}/doclens")
    dlstats = spark.read.schema("gen string, n_docs long, "
                                "total_toks long").parquet(f"{path}/dlstats")
    tomb = f"{path}/tombstones"
    has_tombstones = False
    if fs_exists(spark, tomb):
        dead = spark.read.parquet(tomb).select("id")
        # the anti-join may be vacuous (resurrections emptied the
        # table); only a NON-EMPTY pending set makes the dlstats
        # totals stale
        has_tombstones = not dead.isEmpty()
        postings = postings.join(dead, "id", "left_anti")
        docids = docids.join(dead, "id", "left_anti")
        doclens = doclens.join(dead, "id", "left_anti")
    return InvIndex(postings=postings, docids=docids, doclens=doclens,
                    dlstats=dlstats, n_buckets=int(meta["n_buckets"]),
                    tokenize_mode=meta["tokenize_mode"],
                    has_tombstones=has_tombstones)


def invindex_append(spark, path: str, docs: DataFrame, text_col: str,
                    id_col: str) -> int:
    """Admit a batch at O(batch) cost: tokenize ONLY the new docs and
    append their postings to the bucket-partitioned store, then mark the
    ids in ``docids``.  Returns the number of docs admitted.

    Idempotent: already-indexed ids anti-join out first.  Write order —
    postings BEFORE docids — follows the knngraph_append rule: a crash
    between them is HEALED by replay (the guard sees unmarked ids,
    re-derives byte-identical postings — they are a pure function of
    the doc text — and re-appends them), at the cost of duplicate
    posting rows in the crash window; the search path dedups its
    term-filtered streams and compaction removes duplicates physically.
    Marking docids FIRST would instead LOSE the batch's postings
    forever (the guard would skip the replay).

    Re-admission under a previously TOMBSTONED id (r11, ADVICE r10)
    rewrites the tombstones minus the fresh ids — resurfacing the doc's
    original postings/doclens rather than appending rows the tombstone
    anti-join would hide until the next compact; resurrected ids are
    excluded from the appends (``maintenance.tombstones_resurrect_ids``
    documents the same-content contract on reused ids)."""
    from .maintenance import tombstones_resurrect_ids

    idx = invindex_load(spark, path)
    fresh = docs.select(F.col(id_col).alias("id"),
                        F.col(text_col).alias("__text")) \
        .join(idx.docids, "id", "left_anti") \
        .localCheckpoint(eager=True)
    n = fresh.count()
    if n == 0:
        return 0
    if tombstones_resurrect_ids(spark, f"{path}/tombstones",
                                fresh.select("id")):
        raw_ids = spark.read.schema("id long").parquet(f"{path}/docids")
        fresh = fresh.join(raw_ids, "id", "left_anti") \
            .localCheckpoint(eager=True)
        if fresh.isEmpty():
            return n  # every fresh doc was a resurrection
    p = build_positional_index(fresh, "__text", "id", idx.tokenize_mode) \
        .withColumn("bucket", _bucket(F.col("term"), idx.n_buckets))
    p.repartition(idx.n_buckets, "bucket") \
        .sortWithinPartitions("term", "id") \
        .write.partitionBy("bucket") \
        .mode("append").parquet(f"{path}/postings")
    dl = _doclens(fresh, "__text", "id", idx.tokenize_mode)
    dl.write.mode("append").parquet(f"{path}/doclens")
    # gen = docids count BEFORE this batch commits: deterministic across
    # crash replays (docids writes LAST, so a replayed attempt sees the
    # same count and rewrites a byte-identical row the read-side
    # dropDuplicates collapses — totals never double-count), strictly
    # increasing across committed appends (fresh > 0 here), so distinct
    # batches never share a gen.
    n_prior = spark.read.schema("id long") \
        .parquet(f"{path}/docids").count()
    _dlstats_row(dl, f"g{n_prior}").write.mode("append") \
        .parquet(f"{path}/dlstats")
    fresh.select("id").write.mode("append").parquet(f"{path}/docids")
    return n


def invindex_sync_deletes(spark, store, path: str,
                          id_col: str = "id") -> int:
    """Propagate store DELETES as id-only tombstones — the load filters,
    ``invindex_compact_saved`` removes physically.  Same contract as
    ``ann.ivf_sync_deletes``."""
    idx = invindex_load(spark, path)
    gone = idx.docids.select("id").join(
        store.df().select(F.col(id_col).alias("id")), "id", "left_anti"
    ).localCheckpoint(eager=True)
    n = gone.count()
    if n:
        gone.write.mode("append").parquet(f"{path}/tombstones")
    return n


def invindex_compact_saved(spark, path: str,
                           target_partitions: int = 64) -> None:
    """Fold tombstones and crash-window duplicate postings physically and
    rewrite every table with ``maintenance.replace_table``
    (``recover_compact_crash`` heals every window, via the next load)."""
    from ..functions.fsutil import fs_exists, fs_rmtree
    from .maintenance import replace_table

    idx = invindex_load(spark, path)  # load IS the recovery point
    clean_posts = idx.postings.dropDuplicates(["term", "id", "pos"])
    clean_dl = idx.doclens.distinct()
    rewrites = [
        ("postings",
         clean_posts.repartition(target_partitions, "bucket")
         .sortWithinPartitions("term", "id"),
         "bucket"),
        ("docids", idx.docids.distinct().repartition(8), None),
        # one folded gen from the tombstone-filtered doclens.  MUST
        # rewrite before doclens: its plan reads the doclens dir lazily,
        # so it has to execute before that table's swap renames the
        # source files away
        ("dlstats", _dlstats_row(clean_dl, "g0"), None),
        ("doclens", clean_dl.repartition(8), None),
    ]
    for name, df, part_col in rewrites:
        w = df.write.partitionBy(part_col) if part_col else df.write
        replace_table(spark, f"{path}/{name}", w)
    if fs_exists(spark, f"{path}/tombstones"):
        fs_rmtree(spark, f"{path}/tombstones")


def phrase_search_indexed(idx: InvIndex, phrase: str) -> DataFrame:
    """Exact phrase match THROUGH a loaded index — same output contract
    as :func:`phrase_search` (``(id, n_matches)`` ordered by id), but
    each term's postings come from a partition-pruned parquet read:
    ``bucket = pmod(xxhash64('term'), B)`` constant-folds to a literal
    PartitionFilter, so a k-term phrase scans k buckets of the store,
    never the corpus (plan-pinned by tests/test_plans.py).

    Each term stream is ``.distinct()``-ed — byte-identical duplicate
    rows from a crash-torn append replay collapse before the adjacency
    joins, so counts never inflate (the streams are tiny: one term's
    postings)."""
    terms = _phrase_terms(phrase, idx.tokenize_mode)
    B = idx.n_buckets

    def stream(t: str) -> DataFrame:
        return (
            idx.postings
            .filter((F.col("bucket") == _bucket(F.lit(t), B))
                    & (F.col("term") == t))
            .select("id", "pos")
            .distinct()
        )

    return _phrase_join(stream, terms)


_MAX_BATCH_QUERIES = 65_536
_MAX_BATCH_TERMS = 65_536


def _collect_query_batch(queries: DataFrame, what: str):
    """Materialize the SMALL query-set frame driver-side (it drives
    literal partition pruning and the broadcast fan-out), ceiling-
    guarded so a corpus-sized frame pasted in by mistake refuses loudly
    instead of collecting unboundedly."""
    rows = queries.limit(_MAX_BATCH_QUERIES + 1).collect()
    if len(rows) > _MAX_BATCH_QUERIES:
        raise ValueError(
            f"{what}: query batch exceeds the {_MAX_BATCH_QUERIES}-row "
            "serving ceiling — a query set is the SMALL side; shard "
            "larger batches across calls"
        )
    if not rows:
        raise ValueError(f"{what}: empty query batch")
    return rows


def _term_buckets(spark, terms: list[str], n_buckets: int) -> dict[str, int]:
    """Constant-fold ``pmod(xxhash64(t), B)`` for a literal term list in
    one tiny job, so the batch paths can prune the bucket-partitioned
    postings with a literal ``bucket IN (…)`` PartitionFilter (the
    batch analog of the single-query constant-folded ``bucket = N``)."""
    if len(terms) > _MAX_BATCH_TERMS:
        raise ValueError(
            f"batch term union {len(terms)} exceeds the "
            f"{_MAX_BATCH_TERMS} ceiling"
        )
    tdf = spark.createDataFrame([(t,) for t in terms], "t string")
    return {
        r.t: r.b
        for r in tdf.select(
            "t", _bucket(F.col("t"), n_buckets).alias("b")).collect()
    }


def _pruned_union_postings(idx: InvIndex, uniq: list[str]) -> DataFrame:
    """ONE postings read for the union of a batch's query terms: bucket
    IN (literal set) prunes partitions, term IN (literal set) pushes to
    the parquet scan — the whole batch amortizes a single ~u/B read of
    the store instead of q separate reads."""
    spark = idx.postings.sparkSession
    bmap = _term_buckets(spark, uniq, idx.n_buckets)
    return idx.postings.filter(
        F.col("bucket").isin(sorted(set(bmap.values())))
        & F.col("term").isin(uniq)
    )


def bm25_search_indexed_batch(idx: InvIndex, queries: DataFrame,
                              k: int = 10) -> DataFrame:
    """Batch-query BM25 through the loaded index (r12, VERDICT r11 task
    1 — the reference's own ``search`` is batch: an (m, dim) query
    matrix, vector_store.py:275): ``queries`` is a SMALL ``(query_id
    long, terms array<string>)`` frame, the result one ``(query_id, id,
    score_e4)`` top-k block per query, each row bit-identical to the
    single-query :func:`bm25_search_indexed` call (pytest-pinned; the
    scoring tail is ``tfidf.bm25_rank_batch``, position-pivoted with the
    same literal-order float discipline).

    Serving shape vs q single calls: ONE pruned postings read for the
    UNION of all queries' terms (literal ``bucket IN`` PartitionFilter +
    ``term IN`` pushed filter, ~u/B of the store for u union terms),
    the corpus scalars from the O(#gens) dlstats rows
    (``_dl_stats_frame``, as the single-query path), one broadcast of the tiny
    (query_id, qpos, term) fan-out, one window top-k per query — the
    per-query plan/scheduling overhead and the repeated doclens/stats
    reads amortize across the whole batch, which is the point of a
    distributed engine serving query batches at 100 TB."""
    from ..functions.tokenize import normalize_query_terms
    from .tfidf import bm25_rank_batch

    spark = idx.postings.sparkSession
    rows = _collect_query_batch(
        queries.select("query_id", "terms"), "bm25_search_indexed_batch")
    qplan = []
    for r in rows:
        lt = normalize_query_terms(list(r.terms), idx.tokenize_mode)
        if not lt:
            raise ValueError(
                "bm25_search_indexed_batch: query "
                f"{r.query_id} has no terms after normalization")
        qplan.append((r.query_id, lt))
    uniq = sorted({t for _, lt in qplan for t in lt})
    maxlen = max(len(lt) for _, lt in qplan)
    tf = (
        _pruned_union_postings(idx, uniq)
        .select("term", "id", "pos")
        .distinct()                      # crash-window append duplicates
        .groupBy("term", "id")
        .agg(F.count(F.lit(1)).alias("tf"))
        .select(F.col("term").alias("t"), "id", "tf")
    )
    dl = idx.doclens.select("id", "dl").distinct()
    stats = _dl_stats_frame(idx, dl)
    qterms = spark.createDataFrame(
        [(qid, i, t) for qid, lt in qplan for i, t in enumerate(lt)],
        "query_id long, qpos int, t string",
    )
    return bm25_rank_batch(tf, dl, stats, qterms, maxlen, k)


def phrase_search_indexed_batch(idx: InvIndex,
                                phrases: DataFrame) -> DataFrame:
    """Batch-query exact phrase search through the loaded index (r12,
    VERDICT r11 task 1): ``phrases`` is a SMALL ``(query_id long,
    phrase string)`` frame; output ``(query_id, id, n_matches)`` — per
    query, exactly the rows the single-query
    :func:`phrase_search_indexed` returns (pytest-pinned), ordered
    ``(query_id, id)``.

    Unlike the single path's k−1 adjacency self-joins, the batch form
    is ONE set-based plan shared by every phrase: the union of all
    phrases' terms reads once from the pruned postings store, joins to
    the broadcast ``(query_id, off, term)`` offsets, and a candidate
    start position matches when ALL ``qlen`` offsets are present —
    ``count(DISTINCT off) = qlen`` per ``(query_id, id, start)`` group,
    which is precisely the adjacency condition (term_i at start+i for
    every i).  Overlapping occurrences count, single-term phrases
    degenerate to postings counting — the single-path semantics."""
    spark = idx.postings.sparkSession
    rows = _collect_query_batch(
        phrases.select("query_id", "phrase"),
        "phrase_search_indexed_batch")
    qplan = [(r.query_id, _phrase_terms(r.phrase, idx.tokenize_mode))
             for r in rows]
    uniq = sorted({t for _, ts in qplan for t in ts})
    posts = (
        _pruned_union_postings(idx, uniq)
        .select("term", "id", "pos")
        .distinct()                      # crash-window append duplicates
    )
    qoff = spark.createDataFrame(
        [(qid, i, t) for qid, ts in qplan for i, t in enumerate(ts)],
        "query_id long, off int, term string",
    )
    qlen = spark.createDataFrame(
        [(qid, len(ts)) for qid, ts in qplan],
        "query_id long, qlen long",
    )
    j = posts.join(F.broadcast(qoff), "term").select(
        "query_id", "off", "id", (F.col("pos") - F.col("off")).alias("start")
    ).filter(F.col("start") >= 0)
    g = j.groupBy("query_id", "id", "start").agg(
        F.countDistinct("off").alias("nm"))
    return (
        g.join(F.broadcast(qlen), "query_id")
        .filter(F.col("nm") == F.col("qlen"))
        .groupBy("query_id", "id")
        .agg(F.count(F.lit(1)).cast("long").alias("n_matches"))
        .orderBy("query_id", "id")
    )


def render_phrase_batch_sql(queries: list[tuple[int, str]],
                            tokenize_mode: str = "space",
                            text_sql: str = "lower(text)") -> str:
    """DuckDB oracle for ``phrase_search_indexed_batch`` — the corpus
    postings CTE of the single-query oracle plus the same offset-join /
    all-offsets-present condition over a VALUES query literal."""
    from ..functions.tokenize import TOKEN_REGEX

    if tokenize_mode == "space":
        toks_sql = f"string_split({text_sql}, ' ')"
    else:
        toks_sql = f"regexp_extract_all({text_sql}, '{TOKEN_REGEX}')"
    qplan = [(qid, _phrase_terms(p, tokenize_mode)) for qid, p in queries]
    qvals = ", ".join(
        f"({qid}, {i}, '" + t.replace("'", "''") + "')"
        for qid, ts in qplan for i, t in enumerate(ts)
    )
    uniq = sorted({t for _, ts in qplan for t in ts})
    lit = ", ".join("'" + t.replace("'", "''") + "'" for t in uniq)
    return f"""
WITH postings AS (
  SELECT doc_id AS id, u.i - 1 AS pos, toks[u.i] AS term
  FROM (SELECT doc_id, {toks_sql} AS toks
        FROM documents) b,
       unnest(range(1, len(b.toks) + 1)) AS u(i)
  WHERE toks[u.i] IN ({lit})
),
qoff(query_id, off, term) AS (VALUES {qvals}),
qlen AS (SELECT query_id, count(*) AS qlen FROM qoff GROUP BY query_id),
j AS (
  SELECT q.query_id, q.off, p.id, p.pos - q.off AS start
  FROM postings p JOIN qoff q USING (term)
  WHERE p.pos - q.off >= 0
),
g AS (
  SELECT query_id, id, start, count(DISTINCT off) AS nm
  FROM j GROUP BY query_id, id, start
)
SELECT CAST(g.query_id AS BIGINT) AS query_id, g.id,
       CAST(count(*) AS BIGINT) AS n_matches
FROM g JOIN qlen USING (query_id)
WHERE nm = qlen
GROUP BY g.query_id, g.id
ORDER BY query_id, id
"""


def bm25_search_indexed(idx: InvIndex, terms: list[str],
                        k: int = 10) -> DataFrame:
    """BM25 ranked retrieval THROUGH a loaded index — same output
    contract and bit-identical scores as ``tfidf.bm25_search`` (the two
    share ``tfidf.bm25_rank``, so the doubles and ties are expression-
    identical by construction), but the corpus text is never touched:

    - per-term tf comes from the term's partition-pruned postings read
      (the same constant-folded ``bucket = N`` literal the phrase path
      pins in tests/test_plans.py) — a q-term query scans q buckets of
      the postings store, ~q/B of it;
    - doc lengths and the two corpus scalars (n_docs, total_toks) come
      from ``{path}/doclens`` — 16 bytes/doc, written at save/append
      under the store's pinned tokenizer, tombstone-filtered at load so
      deletes drop out of the ranking AND the idf/avgdl statistics.

    At 100 TB this is the serving shape for lexical retrieval: the only
    full-table read is the per-doc long pair, ~1e-4 of the corpus bytes.
    Crash-window append duplicates collapse via the per-term
    ``(id, pos)`` distinct (tf) and the ``(id, dl)`` distinct (lengths)
    — replayed rows are byte-identical, so both are exact."""
    from .tfidf import bm25_rank

    from ..functions.tokenize import normalize_query_terms

    lterms = normalize_query_terms(terms, idx.tokenize_mode)
    if not lterms:
        raise ValueError("bm25_search_indexed requires query terms")
    B = idx.n_buckets

    tf = None
    # stream per UNIQUE term (the corpus-scan path's groupBy(id, t)
    # yields one tf row per distinct term too); bm25_rank still gets
    # the full lterms list so duplicate query terms pivot/sum exactly
    # like bm25_search
    for t in dict.fromkeys(lterms):
        s = (
            idx.postings
            .filter((F.col("bucket") == _bucket(F.lit(t), B))
                    & (F.col("term") == t))
            .select("id", "pos")
            .distinct()
            .groupBy("id")
            .agg(F.count(F.lit(1)).alias("tf"))
            .select("id", F.lit(t).alias("t"), "tf")
        )
        tf = s if tf is None else tf.unionByName(s)

    dl = idx.doclens.select("id", "dl").distinct()
    stats = _dl_stats_frame(idx, dl)
    return bm25_rank(tf, dl, stats, lterms, k)
