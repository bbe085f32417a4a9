"""Text featurization: the hashing-trick embedder (feature hashing /
"hashing vectorizer" — Weinberger et al. 2009, the public technique
behind scikit-learn's ``HashingVectorizer``).

Closes the text→vector gap: every similarity operator in this engine
(exact kNN, IVF, IVF-SQ8, PQ, cosine LSH) consumes an embedding column;
this module PRODUCES one from raw text with no model weights and no
external service — each token hashes to one of ``dim`` buckets with a
±1 sign (the signed sum keeps collisions unbiased), giving a sparse
integer vector whose cosine geometry tracks token overlap.

Everything is md5-derived and INTEGER-exact, so the whole pipeline —
embedding components AND a cosine top-k over them — is value-hashable
against a DuckDB re-derivation with zero float-reduction risk: dot
products and squared norms are exact integers; the only float op is one
``dot / sqrt(n1·n2)`` per pair, identical in both engines.

Plan shape: explode tokens → md5 in the projection (strings never
shuffle) → one partial-aggregated groupBy on (id, bucket).  The dense
form assembles the array JVM-side from the sparse rows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _md5_h60, _sql_hex2int


def _token_col(text_col: str) -> Column:
    # literal single-space split, matching the oracle's string_split
    return F.split(F.lower(F.col(text_col)), " ")


def hashing_embed_sparse(docs: DataFrame, text_col: str, id_col: str,
                         dim: int = 64) -> DataFrame:
    """Sparse integer embedding: ``(id, bucket, val)`` where ``bucket =
    md5₆₀(token) mod dim`` and ``val`` sums the token's ±1 sign (16th
    md5 hex digit parity).  Tokens hash inside the explode projection;
    the single shuffle is the (id, bucket) partial aggregate.  Zero
    rows are naturally absent (sparse)."""
    tok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(_token_col(text_col)).alias("t"),
    )
    h = _md5_h60(F.col("t"))
    sign = F.when(
        F.conv(F.substring(F.md5(F.col("t")), 16, 1), 16, 10)
        .cast("int") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        tok.select("id", (h % dim).cast("int").alias("bucket"),
                   sign.alias("s"))
        .groupBy("id", "bucket")
        .agg(F.sum("s").cast("long").alias("val"))
        .filter(F.col("val") != 0)
    )


def hashing_embed(docs: DataFrame, text_col: str, id_col: str,
                  dim: int = 64, normalize: bool = True) -> DataFrame:
    """Dense embedding ``(id, vec array<double>)`` ready for the ANN
    stack (``knn_search`` / ``ivf_build`` / ``ivfsq_build`` /
    ``pq_build``): the sparse rows pivot into a ``dim``-length array
    JVM-side (map lookup over a static index sequence — no UDF), L2-
    normalized by default so dot ≡ cosine."""
    sparse = hashing_embed_sparse(docs, text_col, id_col, dim)
    dense = (
        sparse.groupBy("id")
        .agg(
            F.map_from_entries(
                F.collect_list(F.struct("bucket", "val"))
            ).alias("m")
        )
        .select(
            "id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.element_at("m", i.cast("int")).cast("double"),
                    F.lit(0.0),
                ),
            ).alias("vec"),
        )
    )
    if not normalize:
        return dense
    norm = F.sqrt(
        F.aggregate(F.col("vec"), F.lit(0.0), lambda a, x: a + x * x)
    )
    return dense.select(
        "id",
        F.when(norm == 0.0, F.col("vec"))
        .otherwise(F.transform(F.col("vec"), lambda x: x / norm))
        .alias("vec"),
    )


def hash_embed_selfsearch(docs: DataFrame, text_col: str, id_col: str,
                          query_id: int, k: int = 10,
                          dim: int = 64) -> DataFrame:
    """Cosine top-``k`` documents for one query document over the
    hashing embeddings, computed ENTIRELY in the exact integer domain:
    ``dot = Σ v_q·v_d`` (integer), ``cos = dot / sqrt(nq·nd)`` (one
    float op per candidate pair), ranked ``(cos desc, id)``.  Output
    ``(id, cos_e6)`` with the e6 quantization convention.

    Plan: sparse query rows broadcast; the bucket join touches only
    docs sharing ≥ 1 non-zero bucket with the query (an inverted-index
    probe, not a corpus scan at high dim); norms come from the same
    sparse aggregate via exchange reuse."""
    sparse = hashing_embed_sparse(docs, text_col, id_col, dim)
    norms = sparse.groupBy("id").agg(
        F.sum(F.col("val") * F.col("val")).alias("nsq")
    )
    q = sparse.filter(F.col("id") == query_id).select(
        F.col("bucket"), F.col("val").alias("qval")
    )
    qn = norms.filter(F.col("id") == query_id).select(
        F.col("nsq").alias("qnsq")
    )
    dots = (
        sparse.join(F.broadcast(q), "bucket")
        .groupBy("id")
        .agg(F.sum(F.col("val") * F.col("qval")).alias("dot"))
    )
    cos = F.col("dot") / F.sqrt(
        (F.col("nsq") * F.col("qnsq")).cast("double")
    )
    return (
        dots.join(norms, "id")
        .join(F.broadcast(qn))
        .filter(F.col("id") != query_id)
        .select(
            "id",
            cos.alias("__cos"),
            F.floor(cos * 1e6 + F.lit(0.5)).cast("long").alias("cos_e6"),
        )
        .orderBy(F.col("__cos").desc(), F.col("id").asc())
        .limit(k)
        .drop("__cos")
    )


def _char_trigrams(tok: Column) -> Column:
    # char 3-grams; tokens shorter than 3 chars hash as themselves
    return F.when(F.length(tok) < 3, F.array(tok)).otherwise(
        F.transform(
            F.sequence(F.lit(1), F.length(tok) - 2),
            lambda i: tok.substr(i, F.lit(3)),
        )
    )


def _token_vectors(tok_df: DataFrame, tok_col: str, dim: int,
                   out_val: str) -> DataFrame:
    """Per-TOKEN signed-hash vector over char trigrams: every row of
    ``tok_df`` explodes into its trigrams, each hashing to ``md5₆₀(g) mod
    dim`` with a ±1 sign (16th md5 hex digit parity), summed per (row,
    bucket).  Subword features, so near-identical tokens ("merge" /
    "merges") share most buckets — the property MaxSim needs."""
    g = F.explode(_char_trigrams(F.col(tok_col))).alias("g")
    keys = [c for c in tok_df.columns]
    ex = tok_df.select(*keys, g)
    h = _md5_h60(F.col("g"))
    sign = F.when(
        F.conv(F.substring(F.md5(F.col("g")), 16, 1), 16, 10)
        .cast("int") % 2 == 0,
        F.lit(1),
    ).otherwise(F.lit(-1))
    return (
        ex.select(*keys, (h % dim).cast("int").alias("bucket"),
                  sign.alias("s"))
        .groupBy(*keys, "bucket")
        .agg(F.sum("s").cast("long").alias(out_val))
        .filter(F.col(out_val) != 0)
    )


def maxsim_search(docs: DataFrame, terms: list[str], text_col: str,
                  id_col: str, k: int = 10, dim: int = 16) -> DataFrame:
    """Late-interaction retrieval (the ColBERT MaxSim operator, Khattab &
    Zaharia 2020) over model-free subword hash vectors: every DISTINCT
    document token and every query term embeds as a signed trigram-hash
    vector (integer components), and

        ``score(doc) = Σ_{q term} max(0, max_{doc token} ⟨v_q, v_t⟩)``

    — each query term independently finds its best-matching document
    token (token-level alignment, what distinguishes late interaction
    from the single-vector cosine of ``hash_embed_selfsearch``).  The 0
    floor IS the exact max over all doc tokens whenever some token
    shares no bucket with the term (dot 0), i.e. essentially always.

    Everything is INTEGER-exact — trigram hashing, dots, maxes, the
    final sum — so the ranking value-hashes against the DuckDB oracle
    with no float anywhere.

    Plan: doc tokens explode at the scan; the bucket join against the
    broadcast query vectors touches only (doc-token, term) pairs sharing
    ≥ 1 bucket (inverted-index probe); two partial-agg groupBys (dot,
    then max/sum) both partition by id.  Returns ``(id, score)`` top-k
    ranked ``(score DESC, id ASC)``."""
    spark = docs.sparkSession
    dtok = docs.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.array_distinct(F.split(F.lower(F.col(text_col)), " "))
        ).alias("tok"),
    )
    dvec = _token_vectors(dtok, "tok", dim, "val")
    qdf = spark.createDataFrame([(t.lower(),) for t in terms], "qt string")
    qvec = _token_vectors(qdf, "qt", dim, "qval")
    dots = (
        dvec.join(F.broadcast(qvec), "bucket")
        .groupBy("id", "tok", "qt")
        .agg(F.sum(F.col("val") * F.col("qval")).alias("dot"))
    )
    per_term = dots.groupBy("id", "qt").agg(
        F.greatest(F.max("dot"), F.lit(0).cast("long")).alias("mx")
    )
    scores = per_term.groupBy("id").agg(F.sum("mx").alias("score"))
    return (
        scores.orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


def render_maxsim_sql(terms: list[str], k: int = 10, dim: int = 16) -> str:
    """DuckDB oracle for ``maxsim_search`` — identical trigram/bucket/sign
    derivation, integer dots/maxes/sums, same (score desc, id) rank."""
    lit_terms = ", ".join("'" + t.lower().replace("'", "''") + "'"
                          for t in terms)
    tri = ("CASE WHEN length(tok) < 3 THEN [tok] "
           "ELSE list_transform(range(1, length(tok) - 1), "
           "i -> substr(tok, i, 3)) END")
    qtri = tri.replace("tok", "qt")
    return f"""
WITH dtok AS (
  SELECT doc_id AS id,
         unnest(list_distinct(string_split(lower(text), ' '))) AS tok
  FROM documents
),
dgram AS (
  SELECT id, tok, md5(unnest({tri})) AS hx FROM dtok
),
dvec AS (
  SELECT id, tok,
         CAST({_sql_hex2int('hx', 1, 15)} % {dim} AS INTEGER) AS bucket,
         CAST(sum(CASE WHEN {_sql_hex2int('hx', 16, 1)} % 2 = 0
                       THEN 1 ELSE -1 END) AS BIGINT) AS val
  FROM dgram GROUP BY id, tok, bucket
  HAVING sum(CASE WHEN {_sql_hex2int('hx', 16, 1)} % 2 = 0
                  THEN 1 ELSE -1 END) <> 0
),
qtok AS (SELECT unnest([{lit_terms}]) AS qt),
qgram AS (SELECT qt, md5(unnest({qtri})) AS hx FROM qtok),
qvec AS (
  SELECT qt,
         CAST({_sql_hex2int('hx', 1, 15)} % {dim} AS INTEGER) AS bucket,
         CAST(sum(CASE WHEN {_sql_hex2int('hx', 16, 1)} % 2 = 0
                       THEN 1 ELSE -1 END) AS BIGINT) AS qval
  FROM qgram GROUP BY qt, bucket
  HAVING sum(CASE WHEN {_sql_hex2int('hx', 16, 1)} % 2 = 0
                  THEN 1 ELSE -1 END) <> 0
),
dots AS MATERIALIZED (
  SELECT d.id, d.tok, q.qt, sum(d.val * q.qval) AS dot
  FROM dvec d JOIN qvec q USING (bucket)
  GROUP BY d.id, d.tok, q.qt
),
per_term AS (
  SELECT id, qt, greatest(max(dot), 0) AS mx FROM dots GROUP BY id, qt
),
scores AS (SELECT id, CAST(sum(mx) AS BIGINT) AS score
           FROM per_term GROUP BY id)
SELECT id, score FROM scores ORDER BY score DESC, id LIMIT {k}
"""


def render_hash_embed_sql(dim: int = 64) -> str:
    """DuckDB oracle for ``hashing_embed_sparse`` over ``documents`` —
    the identical md5 bucket/sign derivation, pure integers."""
    return f"""
WITH tok AS (
  SELECT doc_id AS id, md5(unnest(string_split(lower(text), ' '))) AS hx
  FROM documents
)
SELECT id,
       CAST({_sql_hex2int('hx', 1, 15)} % {dim} AS INTEGER) AS bucket,
       CAST(sum(CASE WHEN {_sql_hex2int('hx', 16, 1)} % 2 = 0
                     THEN 1 ELSE -1 END) AS BIGINT) AS val
FROM tok
GROUP BY id, bucket
HAVING sum(CASE WHEN {_sql_hex2int('hx', 16, 1)} % 2 = 0
                THEN 1 ELSE -1 END) <> 0
ORDER BY id, bucket
"""


def render_selfsearch_sql(query_id: int, k: int = 10,
                          dim: int = 64) -> str:
    """DuckDB oracle for ``hash_embed_selfsearch`` — integer dot/norms,
    one float division, same (cos desc, id) ranking."""
    return f"""
WITH tok AS (
  SELECT doc_id AS id, md5(unnest(string_split(lower(text), ' '))) AS hx
  FROM documents
),
sp AS (
  SELECT id,
         CAST({_sql_hex2int('hx', 1, 15)} % {dim} AS INTEGER) AS bucket,
         CAST(sum(CASE WHEN {_sql_hex2int('hx', 16, 1)} % 2 = 0
                       THEN 1 ELSE -1 END) AS BIGINT) AS val
  FROM tok GROUP BY id, bucket
  HAVING sum(CASE WHEN {_sql_hex2int('hx', 16, 1)} % 2 = 0
                  THEN 1 ELSE -1 END) <> 0
),
norms AS (SELECT id, sum(val * val) AS nsq FROM sp GROUP BY id),
q AS (SELECT bucket, val AS qval FROM sp WHERE id = {query_id}),
qn AS (SELECT nsq AS qnsq FROM norms WHERE id = {query_id}),
dots AS MATERIALIZED (SELECT sp.id, sum(sp.val * q.qval) AS dot
         FROM sp JOIN q USING (bucket) GROUP BY sp.id)
SELECT id,
       CAST(floor(dot / sqrt(CAST(norms.nsq * qn.qnsq AS DOUBLE))
                  * 1e6 + 0.5) AS BIGINT) AS cos_e6
FROM dots JOIN norms USING (id), qn
WHERE id <> {query_id}
ORDER BY dot / sqrt(CAST(norms.nsq * qn.qnsq AS DOUBLE)) DESC, id
LIMIT {k}
"""


_MAX_MMR_CANDIDATES = 4096


def mmr_rerank(docs: DataFrame, terms: list[str], text_col: str,
               id_col: str, n_candidates: int = 30, k: int = 8,
               dim: int = 16, rel_weight: int = 10) -> DataFrame:
    """Maximal Marginal Relevance diversity re-ranking (Carbonell &
    Goldstein 1998) over hashing-trick embeddings:

        pick argmax_c  w·rel(c) − max_{s ∈ selected} ⟨v_c, v_s⟩

    k times, starting from the most relevant candidate.  The classical
    λ ∈ (0, 1) mix appears here as the INTEGER weight ``w =
    rel_weight`` (λ = w/(w+1) up to scale), which keeps relevance,
    penalties and every argmax in exact integer arithmetic — ties break
    on id ASC.  The default w = 10 balances the two terms for raw
    signed-hash dots, where a candidate-candidate self-Gram entry is
    ~O(doc length) while a short query's relevance dot is ~O(query
    length).

    Two-stage shape, the standard production rerank topology:

    1. DISTRIBUTED candidate retrieval: query terms embed to a sparse
       signed-hash vector, the bucket inverted-index probe scores
       ``rel = ⟨v_q, v_d⟩`` (integer dot) for every doc sharing ≥ 1
       bucket, top-``n_candidates`` by ``(rel DESC, id)``.  At 100 TB
       this is the same broadcast-probe plan as
       ``hash_embed_selfsearch`` — no corpus collect.
    2. DRIVER rerank: MMR is inherently sequential in k (each pick
       changes every remaining score), so the ``n_candidates × dim``
       integer matrix (bounded: ≤ 4096 candidates enforced) comes to
       the driver and the k-step loop runs in NumPy — the same
       bounded-small-side pattern as the PQ codebook collect.

    Returns ``(rnk, id, rel, penalty, mmr)`` — all BIGINT, rank 1..k,
    ``penalty = max dot to previously-selected`` (0 for rank 1),
    ``mmr = rel_weight·rel − penalty``."""
    import numpy as np

    if n_candidates > _MAX_MMR_CANDIDATES:
        raise ValueError(
            f"n_candidates {n_candidates} exceeds the driver rerank "
            f"ceiling {_MAX_MMR_CANDIDATES}"
        )
    if rel_weight < 1:
        raise ValueError("rel_weight must be a positive integer")
    spark = docs.sparkSession
    sparse = hashing_embed_sparse(docs, text_col, id_col, dim)
    qdoc = spark.createDataFrame(
        [(0, " ".join(t.lower() for t in terms))], "id long, text string"
    )
    qvec = hashing_embed_sparse(qdoc, "text", "id", dim).select(
        "bucket", F.col("val").alias("qval")
    )
    dots = (
        sparse.join(F.broadcast(qvec), "bucket")
        .groupBy("id")
        .agg(F.sum(F.col("val") * F.col("qval")).cast("long").alias("rel"))
    )
    cand = dots.orderBy(F.col("rel").desc(), F.col("id").asc()) \
               .limit(n_candidates)
    cand_rows = cand.collect()
    ids = [r.id for r in cand_rows]
    rel = {r.id: r.rel for r in cand_rows}
    vec_rows = sparse.join(
        F.broadcast(cand.select("id")), "id"
    ).collect()
    V = np.zeros((len(ids), dim), dtype=np.int64)
    pos = {i: p for p, i in enumerate(ids)}
    for r in vec_rows:
        V[pos[r.id], r.bucket] = r.val
    sims = V @ V.T  # integer Gram matrix of the candidate set

    selected: list[int] = []
    out = []
    remaining = sorted(ids)
    for rnk in range(1, min(k, len(ids)) + 1):
        best = None
        for c in remaining:
            pen = int(max(sims[pos[c], pos[s]] for s in selected)) \
                if selected else 0
            key = (-(rel_weight * rel[c] - pen), c)
            if best is None or key < best[0]:
                best = (key, c, pen)
        _, c, pen = best
        out.append((rnk, c, int(rel[c]), pen,
                    rel_weight * int(rel[c]) - pen))
        selected.append(c)
        remaining.remove(c)
    return spark.createDataFrame(
        out, "rnk long, id long, rel long, penalty long, mmr long"
    ).orderBy("rnk")


def render_mmr_sql(terms: list[str], n_candidates: int = 30, k: int = 8,
                   dim: int = 16, rel_weight: int = 10) -> str:
    """DuckDB oracle for ``mmr_rerank`` — identical candidate retrieval,
    then the k sequential argmax steps UNROLLED as chained CTEs (MMR's
    loop-carried dependence expressed as k stages; each ``sel_i`` is the
    selected prefix, each ``pick_i`` one argmax with the same
    ``(mmr DESC, id)`` tie-break)."""
    qtext = " ".join(t.lower() for t in terms).replace("'", "''")
    stages = []
    w = rel_weight
    picks = ["SELECT CAST(1 AS BIGINT) AS rnk, id, rel, "
             "CAST(0 AS BIGINT) AS penalty, "
             f"{w} * rel AS mmr FROM pick_1"]
    stages.append(
        "pick_1 AS MATERIALIZED "
        "(SELECT id, rel FROM cand ORDER BY rel DESC, id LIMIT 1)"
    )
    stages.append("sel_1 AS MATERIALIZED (SELECT id FROM pick_1)")
    for i in range(2, k + 1):
        stages.append(f"""p_{i} AS MATERIALIZED (
  SELECT c.id, c.rel, max(s.dot) AS pen
  FROM cand c JOIN simsd s ON s.ia = c.id
  WHERE s.ib IN (SELECT id FROM sel_{i-1})
    AND c.id NOT IN (SELECT id FROM sel_{i-1})
  GROUP BY c.id, c.rel
)""")
        stages.append(
            f"pick_{i} AS MATERIALIZED (SELECT id, rel, pen FROM p_{i} "
            f"ORDER BY {w} * rel - pen DESC, id LIMIT 1)"
        )
        stages.append(
            f"sel_{i} AS MATERIALIZED (SELECT id FROM sel_{i-1} "
            f"UNION ALL SELECT id FROM pick_{i})"
        )
        picks.append(
            f"SELECT CAST({i} AS BIGINT) AS rnk, id, rel, "
            f"CAST(pen AS BIGINT) AS penalty, "
            f"{w} * rel - pen AS mmr FROM pick_{i}"
        )
    body = ",\n".join(stages)
    union = "\nUNION ALL\n".join(picks)
    return f"""
WITH tok AS (
  SELECT doc_id AS id, unnest(string_split(lower(text), ' ')) AS t
  FROM documents
),
sparse AS MATERIALIZED (
  SELECT id,
         CAST({_sql_hex2int('md5(t)', 1, 15)} % {dim} AS INTEGER) AS bucket,
         CAST(sum(CASE WHEN {_sql_hex2int('md5(t)', 16, 1)} % 2 = 0
                       THEN 1 ELSE -1 END) AS BIGINT) AS val
  FROM tok GROUP BY id, bucket
  HAVING sum(CASE WHEN {_sql_hex2int('md5(t)', 16, 1)} % 2 = 0
             THEN 1 ELSE -1 END) <> 0
),
qtok AS (SELECT unnest(string_split('{qtext}', ' ')) AS t),
qvec AS (
  SELECT CAST({_sql_hex2int('md5(t)', 1, 15)} % {dim} AS INTEGER) AS bucket,
         CAST(sum(CASE WHEN {_sql_hex2int('md5(t)', 16, 1)} % 2 = 0
                       THEN 1 ELSE -1 END) AS BIGINT) AS qval
  FROM qtok GROUP BY bucket
  HAVING sum(CASE WHEN {_sql_hex2int('md5(t)', 16, 1)} % 2 = 0
             THEN 1 ELSE -1 END) <> 0
),
dots AS MATERIALIZED (
  SELECT s.id, CAST(sum(s.val * q.qval) AS BIGINT) AS rel
  FROM sparse s JOIN qvec q USING (bucket) GROUP BY s.id
),
cand AS MATERIALIZED (SELECT id, rel FROM dots ORDER BY rel DESC, id LIMIT {n_candidates}),
cvec AS MATERIALIZED (SELECT s.* FROM sparse s WHERE s.id IN (SELECT id FROM cand)),
sims AS MATERIALIZED (
  SELECT a.id AS ia, b.id AS ib, CAST(sum(a.val * b.val) AS BIGINT) AS dot
  FROM cvec a JOIN cvec b USING (bucket) GROUP BY a.id, b.id
),
simsd AS MATERIALIZED (
  SELECT a.id AS ia, b.id AS ib, coalesce(s.dot, 0) AS dot
  FROM cand a CROSS JOIN cand b
  LEFT JOIN sims s ON s.ia = a.id AND s.ib = b.id
),
{body}
SELECT * FROM (
{union}
) ORDER BY rnk
"""


def parentdoc_search(docs: DataFrame, terms: list[str], text_col: str,
                     id_col: str, k: int = 10, dim: int = 16,
                     chunk_tokens: int = 32, stride: int = 24) -> DataFrame:
    """Parent-document retrieval (the standard RAG indexing pattern:
    score fine-grained CHUNKS, return the best-scoring parent doc):
    every ``chunk_tokens``-token window at ``stride`` offsets embeds via
    the additive hashing trick, scores against the broadcast query
    vector as an integer dot, and each document keeps its best chunk:

        score(doc) = max_{chunk} ⟨v_q, Σ_{tok ∈ chunk} v_tok⟩

    Integer end to end (hash components, dots, the max), so the full
    ranking value-hashes.  Returns ``(id, best_start, score)`` ranked
    ``(score DESC, id)`` — ``best_start`` is the 1-based token offset of
    the winning chunk (smallest such offset on ties), which is exactly
    what a RAG consumer needs to fetch the passage.

    Plan: chunks explode as (id, start, token-hash) rows AT THE SCAN;
    the broadcast bucket join touches only bucket-sharing rows; two
    partial aggs (dot per chunk, max per doc) both keyed by id."""
    spark = docs.sparkSession
    toks = F.split(F.lower(F.col(text_col)), " ")
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(toks), F.lit(1)), F.lit(stride)
    )
    ch = docs.select(
        F.col(id_col).alias("id"), toks.alias("toks"),
        F.explode(starts).alias("start"),
    ).select(
        "id", "start",
        F.explode(F.slice("toks", F.col("start"), chunk_tokens)).alias("t"),
    )
    from .dedup import _md5_h60

    sign = F.when(
        F.conv(F.substring(F.md5(F.col("t")), 16, 1), 16, 10)
        .cast("int") % 2 == 0, F.lit(1)).otherwise(F.lit(-1))
    tokvec = ch.select(
        "id", "start",
        (_md5_h60(F.col("t")) % dim).cast("int").alias("bucket"),
        sign.alias("s"),
    )
    qdoc = spark.createDataFrame(
        [(0, " ".join(t.lower() for t in terms))], "id long, text string"
    )
    qvec = hashing_embed_sparse(qdoc, "text", "id", dim).select(
        "bucket", F.col("val").alias("qval")
    )
    # additive embedding: dot(q, chunk) = Σ_tok qval[bucket(tok)]·sign —
    # no per-chunk vector ever materializes
    chunk_scores = (
        tokvec.join(F.broadcast(qvec), "bucket")
        .groupBy("id", "start")
        .agg(F.sum(F.col("s") * F.col("qval")).cast("long").alias("cscore"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("id").orderBy(
        F.col("cscore").desc(), F.col("start").asc()
    )
    best = (
        chunk_scores.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("id", F.col("start").cast("long").alias("best_start"),
                F.col("cscore").alias("score"))
    )
    return (
        best.orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


def render_parentdoc_sql(terms: list[str], k: int = 10, dim: int = 16,
                         chunk_tokens: int = 32, stride: int = 24) -> str:
    """DuckDB oracle for ``parentdoc_search`` — identical chunking,
    hashing and integer scoring; QUALIFY picks the same best chunk."""
    qtext = " ".join(t.lower() for t in terms).replace("'", "''")
    return f"""
WITH base AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS toks FROM documents
),
ch AS (
  SELECT id, i AS start,
         unnest(list_slice(toks, i, i + {chunk_tokens} - 1)) AS t
  FROM base, unnest(range(1, greatest(len(toks), 1) + 1, {stride})) AS u(i)
),
tokv AS (
  SELECT id, start,
         CAST({{h60}} % {dim} AS INTEGER) AS bucket,
         CASE WHEN {{sgn}} % 2 = 0 THEN 1 ELSE -1 END AS s
  FROM ch
),
qtok AS (SELECT unnest(string_split('{qtext}', ' ')) AS t),
qvec AS (
  SELECT CAST({{h60}} % {dim} AS INTEGER) AS bucket,
         CAST(sum(CASE WHEN {{sgn}} % 2 = 0 THEN 1 ELSE -1 END) AS BIGINT)
           AS qval
  FROM qtok GROUP BY bucket
  HAVING sum(CASE WHEN {{sgn}} % 2 = 0 THEN 1 ELSE -1 END) <> 0
),
cs AS (
  SELECT tokv.id, tokv.start,
         CAST(sum(tokv.s * qvec.qval) AS BIGINT) AS cscore
  FROM tokv JOIN qvec USING (bucket)
  GROUP BY tokv.id, tokv.start
),
best AS (
  SELECT id, CAST(start AS BIGINT) AS best_start, cscore AS score
  FROM cs
  QUALIFY row_number() OVER (PARTITION BY id
                             ORDER BY cscore DESC, start) = 1
)
SELECT id, best_start, score FROM best
ORDER BY score DESC, id LIMIT {k}
""".replace("{h60}", _sql_hex2int("md5(t)", 1, 15)) \
   .replace("{sgn}", _sql_hex2int("md5(t)", 16, 1))


# --------------------------------------------------------------------------
# MaxSim serving index (r10) — the late-interaction analog of the
# inverted-index BM25 path: persist the token-vector VOCAB and the
# token→doc postings once, then serve MaxSim queries without ever
# re-tokenizing or re-embedding the corpus.  Same lifecycle contract as
# every other index family (invindex_*, ann.ivf_*, pq_*, sq.ivfsq_*,
# knngraph_*): save / load / append / sync_deletes / compact.
# --------------------------------------------------------------------------

from dataclasses import dataclass


@dataclass
class MaxSimIndex:
    tokvecs: "DataFrame"    # (tok, bucket, val) — the distinct-token vocab
    postings: "DataFrame"   # (tok, id, pbk) — pbk-partitioned token→doc map
    docids: "DataFrame"     # (id) — the append replay guard
    n_buckets: int
    dim: int
    # PLAID-style token-cell layer (r12, VERDICT r11 task 4, opt-in at
    # save via n_token_cells): token vectors cluster into cells, a
    # SECOND postings copy partitions by cell, and per-(cell, bucket)
    # component bounds let a query PROVE whole cells dot ≤ 0 against a
    # term — those cells' postings are never read (the pbk layout
    # hash-scatters semantically similar tokens, so its per-token prune
    # degenerates on realistic derived vocabularies).  ``gen`` rows in
    # cellstats are per-save/append partials (max/min at read).
    tokcells: "DataFrame | None" = None       # (tok, cell)
    postings_cell: "DataFrame | None" = None  # (tok, id, cell)
    cellstats: "DataFrame | None" = None      # (cell, bucket, gen,
    #                                             max_val, min_val)
    centroids: "DataFrame | None" = None      # (cell, c array<double>)
    n_token_cells: int = 0


def _maxsim_doc_tokens(docs: DataFrame, text_col: str,
                       id_col: str) -> DataFrame:
    """(id, tok) over DISTINCT doc tokens — the exact projection
    ``maxsim_search`` scores (its per-doc max is over distinct tokens)."""
    return docs.select(
        F.col(id_col).alias("id"),
        F.explode(F.array_distinct(_token_col(text_col))).alias("tok"),
    )


def _tok_pbk(col, n_buckets: int):
    return F.pmod(F.xxhash64(col), F.lit(n_buckets)).cast("int")


def _dense_tokvecs(tv: DataFrame, dim: int) -> DataFrame:
    """(tok, arr) — the sparse (tok, bucket, val) rows pivoted into a
    ``dim``-length double array JVM-side (same shape as hashing_embed's
    densify; no UDF)."""
    return (
        tv.groupBy("tok")
        .agg(F.map_from_entries(
            F.collect_list(F.struct("bucket", "val"))).alias("m"))
        .select(
            "tok",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.element_at("m", i.cast("int")).cast("double"),
                    F.lit(0.0)),
            ).alias("arr"),
        )
    )


def _fit_token_cells(tv: DataFrame, dim: int, n_token_cells: int,
                     seed: int):
    """Cluster the vocab's token vectors (seeded KMeans over the
    densified integers) → (tokcells (tok, cell), centroids (cell, c)).
    Any assignment keeps the pruned search EXACT (bounds come from the
    actual per-cell stats); clustering only decides how well positive
    tokens CONCENTRATE — i.e. how much gets pruned."""
    from pyspark.ml.clustering import KMeans
    from pyspark.ml.functions import array_to_vector

    spark = tv.sparkSession
    dense = _dense_tokvecs(tv, dim)
    ml = dense.select("tok", array_to_vector(F.col("arr"))
                      .alias("features"))
    k = min(n_token_cells, ml.count())
    model = KMeans(k=int(k), seed=seed, maxIter=20,
                   featuresCol="features").fit(ml)
    tokcells = model.transform(ml).select(
        "tok", F.col("prediction").cast("int").alias("cell"))
    centroids = spark.createDataFrame(
        [(i, [float(x) for x in c])
         for i, c in enumerate(model.clusterCenters())],
        "cell int, c array<double>",
    )
    return tokcells, centroids


def _cellstats_rows(tv: DataFrame, tokcells: DataFrame,
                    gen: str) -> DataFrame:
    """Per-(cell, bucket) component bounds over a token-vector batch:
    with ``mx = max val`` and ``mn = min val``, any query's dot against
    any token in the cell is ≤ Σ_b (qval_b > 0 ? qval_b·mx_b :
    qval_b·mn_b) — integer-exact, so a cell whose bound is ≤ 0 can be
    skipped WITHOUT approximation (the 0-floor already discards
    non-positive dots).  ``gen`` rows are per-batch partials (max/min
    at read), batch-deterministic for crash-replay dedup."""
    return (
        tv.join(tokcells, "tok")
        .groupBy("cell", "bucket")
        .agg(F.max("val").alias("max_val"), F.min("val").alias("min_val"))
        .select("cell", "bucket", F.lit(gen).alias("gen"),
                "max_val", "min_val")
    )


def maxsim_index_save(docs: DataFrame, text_col: str, id_col: str,
                      path: str, dim: int = 16,
                      n_buckets: int = 64,
                      n_token_cells: int | None = None,
                      cell_seed: int = 42) -> None:
    """Persist the MaxSim serving state: ``{path}/tokvecs`` (the signed
    trigram-hash vector of every DISTINCT corpus token — vocab-sized,
    corpus-size-independent), ``{path}/postings`` (the (tok, id) map,
    partitioned by ``pbk = pmod(xxhash64(tok), n_buckets)`` so the
    winner-token join can prune via dynamic partition pruning),
    ``{path}/docids`` (the append replay guard) and ``meta.json``
    (dim + n_buckets, enforced at read).

    ``n_token_cells`` (r12, opt-in): also persist the PLAID-style
    token-cell layer — ``tokcells`` (seeded KMeans over the token
    vectors), ``postings_cell`` (a second (tok, id) copy partitioned by
    CELL), ``cellstats`` (per-(cell, bucket) max/min components — the
    provable skip bound) and ``centroids`` (for assigning appended
    tokens).  See :func:`maxsim_search_indexed_pruned`."""
    from .maintenance import write_meta

    spark = docs.sparkSession
    dtok = _maxsim_doc_tokens(docs, text_col, id_col)
    vocab = dtok.select("tok").distinct()
    _token_vectors(vocab, "tok", dim, "val") \
        .write.mode("overwrite").parquet(f"{path}/tokvecs")
    p = dtok.select("tok", "id").distinct() \
        .withColumn("pbk", _tok_pbk(F.col("tok"), n_buckets))
    p.repartition(n_buckets, "pbk").write.partitionBy("pbk") \
        .mode("overwrite").parquet(f"{path}/postings")
    if n_token_cells:
        tv = spark.read.schema("tok string, bucket int, val long") \
            .parquet(f"{path}/tokvecs")
        tokcells, centroids = _fit_token_cells(tv, dim, n_token_cells,
                                               cell_seed)
        tokcells.repartition(8).write.mode("overwrite") \
            .parquet(f"{path}/tokcells")
        centroids.coalesce(1).write.mode("overwrite") \
            .parquet(f"{path}/centroids")
        tc = spark.read.schema("tok string, cell int") \
            .parquet(f"{path}/tokcells")
        p.select("tok", "id").join(tc, "tok") \
            .repartition(max(8, n_token_cells // 4), "cell") \
            .write.partitionBy("cell") \
            .mode("overwrite").parquet(f"{path}/postings_cell")
        _cellstats_rows(tv, tc, "g0").repartition(1) \
            .write.mode("overwrite").parquet(f"{path}/cellstats")
    docs.select(F.col(id_col).alias("id")).distinct() \
        .write.mode("overwrite").parquet(f"{path}/docids")
    write_meta(spark, f"{path}/meta.json",
               {"dim": dim, "n_buckets": n_buckets,
                "n_token_cells": int(n_token_cells or 0)})


def maxsim_index_load(spark, path: str) -> MaxSimIndex:
    """Reopen the saved state as its live view: crash recovery first,
    id tombstones anti-joined at the postings/docids scans.  Crash-
    window duplicate rows (see ``maxsim_index_append``) are byte-
    identical and collapse at the search path's distincts;
    ``maxsim_index_compact_saved`` removes them physically."""
    from ..functions.fsutil import fs_exists
    from .maintenance import read_meta, recover_compact_crash

    meta = read_meta(spark, f"{path}/meta.json")
    for tbl in ("tokvecs", "postings", "docids", "tombstones",
                "tokcells", "postings_cell", "cellstats", "centroids"):
        recover_compact_crash(spark, f"{path}/{tbl}")
    tokvecs = spark.read.schema("tok string, bucket int, val long") \
        .parquet(f"{path}/tokvecs")
    postings = spark.read.schema("tok string, id long, pbk int") \
        .parquet(f"{path}/postings")
    docids = spark.read.schema("id long").parquet(f"{path}/docids")
    n_token_cells = int(meta["n_token_cells"])
    tokcells = postings_cell = cellstats = centroids = None
    if n_token_cells:
        tokcells = spark.read.schema("tok string, cell int") \
            .parquet(f"{path}/tokcells")
        postings_cell = spark.read.schema(
            "tok string, id long, cell int") \
            .parquet(f"{path}/postings_cell")
        cellstats = spark.read.schema(
            "cell int, bucket int, gen string, max_val long, "
            "min_val long").parquet(f"{path}/cellstats")
        centroids = spark.read.schema("cell int, c array<double>") \
            .parquet(f"{path}/centroids")
    tomb = f"{path}/tombstones"
    if fs_exists(spark, tomb):
        dead = spark.read.parquet(tomb).select("id")
        postings = postings.join(dead, "id", "left_anti")
        docids = docids.join(dead, "id", "left_anti")
        if postings_cell is not None:
            postings_cell = postings_cell.join(dead, "id", "left_anti")
    return MaxSimIndex(tokvecs=tokvecs, postings=postings, docids=docids,
                       n_buckets=int(meta["n_buckets"]),
                       dim=int(meta["dim"]),
                       tokcells=tokcells, postings_cell=postings_cell,
                       cellstats=cellstats, centroids=centroids,
                       n_token_cells=n_token_cells)


def maxsim_index_append(spark, path: str, docs: DataFrame, text_col: str,
                        id_col: str) -> int:
    """Admit a batch at O(batch) cost: tokenize ONLY the new docs,
    append their postings, and append token vectors for UNSEEN tokens
    only (a token's vector is a pure function of the token, so the
    vocab anti-join keeps tokvecs one-row-per-(tok, bucket)).  Returns
    the number of docs admitted.

    Idempotent by the docids guard; write order (tokvecs → postings →
    docids LAST) follows the ``invindex_append`` rule: a crash between
    them is healed by replay at the cost of byte-identical duplicate
    rows in the window — the search path's distincts absorb them, the
    compact removes them physically.  Marking docids first would lose
    the batch forever.

    Re-admission under a previously TOMBSTONED id (r11, ADVICE r10)
    rewrites the tombstone table minus the fresh ids, resurfacing the
    doc's original postings immediately — before this the doc passed
    the (tombstone-filtered) guard, appended rows, and stayed silently
    unsearchable until the next physical compact.  Resurrected ids are
    then excluded from the appends (their rows already exist; see
    ``maintenance.tombstones_resurrect_ids`` for the same-content
    contract on reused ids)."""
    from .maintenance import tombstones_resurrect_ids

    idx = maxsim_index_load(spark, path)
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
    dtok = _maxsim_doc_tokens(fresh, "__text", "id")
    new_vocab = dtok.select("tok").distinct() \
        .join(idx.tokvecs.select("tok").distinct(), "tok", "left_anti") \
        .localCheckpoint(eager=True)
    _token_vectors(new_vocab, "tok", idx.dim, "val") \
        .write.mode("append").parquet(f"{path}/tokvecs")
    p = dtok.select("tok", "id").distinct() \
        .withColumn("pbk", _tok_pbk(F.col("tok"), idx.n_buckets))
    p.repartition(idx.n_buckets, "pbk").write.partitionBy("pbk") \
        .mode("append").parquet(f"{path}/postings")
    if idx.tokcells is not None:
        # extend the token-cell layer: UNSEEN tokens assign to their
        # nearest centroid (a layout choice — exactness lives in the
        # cellstats bounds, which gain a batch gen row covering the new
        # tokens' components), and ALL fresh postings land in the
        # cell-partitioned copy.  gen = raw docids count before this
        # batch commits: deterministic across crash replays (docids
        # writes LAST), strictly increasing across committed appends.
        n_prior = spark.read.schema("id long") \
            .parquet(f"{path}/docids").count()
        gen = f"g{n_prior}"
        # new-token detection keys on TOKCELLS, not tokvecs: a crash
        # between the tokvecs write above and the tokcells write below
        # must still assign those tokens on replay (anti-joining
        # tokvecs there would see them as "seen" and strand them
        # cell-less — invisible to the pruned read)
        tc0 = spark.read.schema("tok string, cell int") \
            .parquet(f"{path}/tokcells")
        cell_new = dtok.select("tok").distinct() \
            .join(tc0.select("tok"), "tok", "left_anti") \
            .localCheckpoint(eager=True)
        new_tv = _token_vectors(cell_new, "tok", idx.dim, "val")
        if not cell_new.isEmpty():
            dense = _dense_tokvecs(new_tv, idx.dim)
            d2 = F.aggregate(
                F.zip_with(F.col("arr"), F.col("c"),
                           lambda a, b: (a - b) * (a - b)),
                F.lit(0.0), lambda a, x: a + x)
            assign = (
                dense.crossJoin(F.broadcast(idx.centroids))
                .select("tok", F.struct(d2.alias("d"),
                                        F.col("cell").alias("cell"))
                        .alias("dc"))
                .groupBy("tok")
                .agg(F.min("dc").alias("dc"))
                .select("tok", F.col("dc.cell").alias("cell"))
            )
            assign.repartition(8).write.mode("append") \
                .parquet(f"{path}/tokcells")
            _cellstats_rows(new_tv, assign, gen).repartition(1) \
                .write.mode("append").parquet(f"{path}/cellstats")
        tc = spark.read.schema("tok string, cell int") \
            .parquet(f"{path}/tokcells")
        p.select("tok", "id").join(tc, "tok") \
            .repartition(8, "cell").write.partitionBy("cell") \
            .mode("append").parquet(f"{path}/postings_cell")
    fresh.select("id").write.mode("append").parquet(f"{path}/docids")
    return n


def maxsim_index_sync_deletes(spark, store, path: str,
                              id_col: str = "id") -> int:
    """Propagate store DELETES as id-only tombstones — the load
    filters, the compact removes physically (vocab vectors stay: they
    are token facts, not doc facts).  Same contract as
    ``invindex_sync_deletes``."""
    idx = maxsim_index_load(spark, path)
    gone = idx.docids.select("id").join(
        store.df().select(F.col(id_col).alias("id")), "id", "left_anti"
    ).localCheckpoint(eager=True)
    n = gone.count()
    if n:
        gone.write.mode("append").parquet(f"{path}/tombstones")
    return n


def maxsim_index_compact_saved(spark, path: str,
                               target_partitions: int = 32) -> None:
    """Fold tombstones and crash-window duplicates physically;
    ``maintenance.replace_table`` per table (recovery runs on every
    load)."""
    from ..functions.fsutil import fs_exists, fs_rmtree
    from .maintenance import replace_table

    idx = maxsim_index_load(spark, path)  # load IS the recovery point
    rewrites = []
    if idx.tokcells is not None:
        # cell-layer rewrites run FIRST: cellstats' plan reads the
        # tokvecs/tokcells dirs lazily, so it must execute before those
        # tables' own swaps rename the source files away (the invindex
        # dlstats rule)
        clean_tc = idx.tokcells.dropDuplicates(["tok"])
        rewrites += [
            ("cellstats",
             _cellstats_rows(
                 idx.tokvecs.dropDuplicates(["tok", "bucket"]),
                 clean_tc, "g0").repartition(1),
             None),
            ("postings_cell",
             idx.postings_cell.dropDuplicates(["tok", "id"])
             .repartition(8, "cell"),
             "cell"),
            ("tokcells", clean_tc.repartition(8), None),
        ]
    rewrites += [
        ("tokvecs",
         idx.tokvecs.dropDuplicates(["tok", "bucket"]).repartition(8),
         None),
        ("postings",
         idx.postings.dropDuplicates(["tok", "id"])
         .repartition(target_partitions, "pbk"),
         "pbk"),
        ("docids", idx.docids.distinct().repartition(8), None),
    ]
    for name, df, part_col in rewrites:
        w = df.write.partitionBy(part_col) if part_col else df.write
        replace_table(spark, f"{path}/{name}", w)
    if fs_exists(spark, f"{path}/tombstones"):
        fs_rmtree(spark, f"{path}/tombstones")


def maxsim_search_indexed(idx: MaxSimIndex, terms: list[str],
                          k: int = 10) -> DataFrame:
    """Late-interaction MaxSim THROUGH the saved index — BIT-IDENTICAL
    to :func:`maxsim_search` on the same corpus (integer scores, same
    ``(score DESC, id ASC)`` rank; pytest-pinned), but the corpus text
    is never touched:

    - per-(token, term) dots compute over the VOCAB table (corpus-size
      -independent — the whole point of late-interaction serving: the
      token vectors are corpus facts, re-derived per query by the scan
      path but read once here);
    - only tokens with a POSITIVE dot join to the postings map (a
      non-positive dot can never move a doc's score past the 0 floor),
      carrying their ``pbk`` so the pbk-partitioned read can prune
      dynamically;
    - the 0-floor membership rule is reproduced exactly: docs whose
      tokens share ≥ 1 hash bucket with some term but win nothing
      still appear with score 0 (one postings semi-join), so even the
      fewer-than-k-positives tail ranks identically to the scan path.

    Serving cost: one vocab scan + the matching slice of a fixed-width
    (tok, id) table — at 100 TB the corpus text is the thing you
    cannot afford to rescan per query, and it never appears in this
    plan (plan-pinned: no ``documents`` scan).  Crash-window duplicate
    rows collapse at the three distincts."""
    spark = idx.postings.sparkSession
    qdf = spark.createDataFrame([(t.lower(),) for t in terms],
                                "qt string")
    qvec = _token_vectors(qdf, "qt", idx.dim, "qval")
    dots = (
        idx.tokvecs.distinct()
        .join(F.broadcast(qvec), "bucket")
        .groupBy("tok", "qt")
        .agg(F.sum(F.col("val") * F.col("qval")).alias("dot"))
    )
    posts = idx.postings.select("pbk", "tok", "id").distinct()
    pos = dots.filter(F.col("dot") > 0) \
        .withColumn("pbk", _tok_pbk(F.col("tok"), idx.n_buckets))
    per_term = (
        posts.join(pos, ["pbk", "tok"])
        .groupBy("id", "qt")
        .agg(F.max("dot").alias("mx"))
    )
    s = per_term.groupBy("id").agg(F.sum("mx").alias("score"))
    any_tok = dots.select("tok").distinct() \
        .withColumn("pbk", _tok_pbk(F.col("tok"), idx.n_buckets))
    docs_any = posts.join(any_tok, ["pbk", "tok"], "left_semi") \
        .select("id").distinct()
    return (
        docs_any.join(s, "id", "left")
        .select("id",
                F.coalesce(F.col("score"), F.lit(0).cast("long"))
                .alias("score"))
        .orderBy(F.col("score").desc(), F.col("id").asc())
        .limit(k)
    )


def maxsim_search_indexed_pruned(idx: MaxSimIndex, terms: list[str],
                                 k: int = 10,
                                 counters: dict | None = None,
                                 cells_per_term: int | None = None
                                 ) -> DataFrame:
    """MaxSim through the saved index with PLAID-style centroid-gated
    postings pruning (Santhanam et al. 2022's cell-gating idea,
    re-expressed as a PROVABLE bound so the result stays EXACT — r12,
    VERDICT r11 task 4), bit-identical to
    :func:`maxsim_search_indexed` (same oracle):

    - per (query term, token cell), the integer bound
      ``Σ_b qval_b>0 ? qval_b·max_val_b : qval_b·min_val_b`` (cellstats)
      is ≥ the term's dot against EVERY token in the cell; a cell bound
      ≤ 0 means no token in it can contribute (the 0-floor already
      discards non-positive dots) — those cells' postings are never
      read.  The pbk layout can't do this: xxhash scatters the
      morphologically-similar tokens that share trigram mass with a
      query term across ALL buckets, so its per-token prune reads ~the
      whole postings table on realistic derived vocabularies (the r11
      1M point's honest worst case);
    - the postings read prunes to the surviving cells via a literal
      ``cell IN`` PartitionFilter over the cell-partitioned copy;
    - positive-token dots and the per-(doc, term) max/sum are the
      UNCHANGED exact pipeline — every positive token's cell survives
      (its dot ≤ its cell's bound), so scores are identical;
    - the 0-floor MEMBERSHIP tail (docs that share a hash bucket but
      win nothing, surfaced with score 0) is the one thing the pruned
      read cannot see; whenever fewer than ``k`` docs score positive,
      the query falls back to the full read — top-k EXACTNESS is
      therefore unconditional, and the fallback is the same degenerate
      regime where pruning had nothing to win anyway.

    Stores saved without ``n_token_cells`` serve via the full read.
    ``counters`` receives ``n_cells_alive`` / ``n_cells_total`` /
    ``fallback`` for the smoke/tests.

    ``cells_per_term`` (optional) switches to the BOUNDED regime —
    PLAID's actual serving shape: each term reads only its
    ``cells_per_term`` highest-bound cells (ties break cell ASC), so
    the postings read is O(q · cells_per_term / n_cells) of the store
    regardless of how many tiny hash-collision dots are technically
    positive.  This drops small positive contributions and is therefore
    APPROXIMATE — rankings carry a measured recall gate
    (tools/maxsim_serving_smoke.py records recall@k vs the exact serve;
    the registered bounded query asserts it in-plan), not the exact
    contract.  The exact 0-gate regime above remains the default: its
    skip power grows with ``dim`` (fewer collision-positives), the
    bounded regime is the honest 100 TB path at small dims."""
    spark = idx.postings.sparkSession

    def note(**kw):
        if counters is not None:
            counters.update(kw)

    if idx.tokcells is None:
        note(fallback="no_cell_layer")
        return maxsim_search_indexed(idx, terms, k)
    qdf = spark.createDataFrame([(t.lower(),) for t in terms],
                                "qt string")
    qvec = _token_vectors(qdf, "qt", idx.dim, "qval")
    cs = (
        idx.cellstats.dropDuplicates()   # crash-replay gen rows
        .groupBy("cell", "bucket")
        .agg(F.max("max_val").alias("mx"), F.min("min_val").alias("mn"))
    )
    ub = (
        cs.join(F.broadcast(qvec), "bucket")
        .groupBy("cell", "qt")
        .agg(F.sum(F.when(F.col("qval") > 0,
                          F.col("qval") * F.col("mx"))
                   .otherwise(F.col("qval") * F.col("mn")))
             .alias("ub"))
    )
    pos_cells = ub.filter(F.col("ub") > 0)
    if cells_per_term is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("qt").orderBy(
            F.col("ub").desc(), F.col("cell").asc())
        pos_cells = pos_cells.withColumn(
            "__rn", F.row_number().over(w)) \
            .filter(F.col("__rn") <= cells_per_term)
    alive = sorted(r.cell for r in pos_cells
                   .select("cell").distinct().collect())
    note(n_cells_alive=len(alive), n_cells_total=idx.n_token_cells,
         alive_cells=alive)
    if not alive:
        # no cell can produce a positive dot: every doc would score 0 —
        # the pure-membership regime; serve it via the full read
        note(fallback="no_positive_cells")
        return maxsim_search_indexed(idx, terms, k)
    dots = (
        idx.tokvecs.distinct()
        .join(F.broadcast(qvec), "bucket")
        .groupBy("tok", "qt")
        .agg(F.sum(F.col("val") * F.col("qval")).alias("dot"))
    )
    pos = dots.filter(F.col("dot") > 0)
    posts = idx.postings_cell.filter(F.col("cell").isin(alive)) \
        .select("tok", "id").distinct()
    per_term = (
        posts.join(pos, "tok")
        .groupBy("id", "qt")
        .agg(F.max("dot").alias("mx"))
    )
    s = per_term.groupBy("id").agg(F.sum("mx").alias("score"))
    # one distributed execution (TakeOrderedAndProject), k rows to the
    # driver — both the result and the exactness gate: fewer than k
    # positive-scoring docs means the full path's 0-score membership
    # tail could enter the top-k, so serve that regime via the full
    # read instead
    top = s.orderBy(F.col("score").desc(), F.col("id").asc()) \
        .limit(k).collect()
    if len(top) < k:
        note(fallback="membership_tail")
        return maxsim_search_indexed(idx, terms, k)
    note(fallback=None)
    return spark.createDataFrame([(r.id, r.score) for r in top],
                                 "id long, score long")


_MAX_MAXSIM_BATCH = 65_536


def maxsim_search_indexed_batch(idx: MaxSimIndex, queries: DataFrame,
                                k: int = 10) -> DataFrame:
    """Batch-query MaxSim through the saved index (r12, VERDICT r11
    task 1): ``queries`` is a SMALL ``(query_id long, terms
    array<string>)`` frame; output one ``(query_id, id, score)`` top-k
    block per query, each row bit-identical to the single-query
    :func:`maxsim_search_indexed` call (pytest-pinned — all-integer
    scores, so no float-order discipline is even needed), ordered
    ``(query_id, score DESC, id)``.

    Serving shape vs q single calls: the VOCAB table scans ONCE for all
    queries (its dots fan out per (query_id, term) through one
    broadcast of the tiny query-term vectors), the postings map reads
    once for the union of winning tokens, and the per-query top-k is a
    window partitioned by query_id — per-plan overhead and the repeated
    vocab scans amortize across the batch.  Query-term DUPLICATES keep
    the single-path semantics (the per-(query, term) trigram vectors
    sum over duplicate rows, scaling qval by multiplicity, exactly as
    the single path's createDataFrame does)."""
    from pyspark.sql import Window

    spark = idx.postings.sparkSession
    rows = queries.select("query_id", "terms") \
        .limit(_MAX_MAXSIM_BATCH + 1).collect()
    if len(rows) > _MAX_MAXSIM_BATCH:
        raise ValueError(
            "maxsim_search_indexed_batch: query batch exceeds the "
            f"{_MAX_MAXSIM_BATCH}-row serving ceiling")
    if not rows:
        raise ValueError("maxsim_search_indexed_batch: empty query batch")
    pairs = [(r.query_id, t.lower()) for r in rows for t in r.terms]
    if not pairs:
        raise ValueError("maxsim_search_indexed_batch: no query terms")
    qdf = spark.createDataFrame(pairs, "query_id long, qt string")
    qvec = _token_vectors(qdf, "qt", idx.dim, "qval")
    dots = (
        idx.tokvecs.distinct()
        .join(F.broadcast(qvec), "bucket")
        .groupBy("query_id", "tok", "qt")
        .agg(F.sum(F.col("val") * F.col("qval")).alias("dot"))
    )
    posts = idx.postings.select("pbk", "tok", "id").distinct()
    pos = dots.filter(F.col("dot") > 0) \
        .withColumn("pbk", _tok_pbk(F.col("tok"), idx.n_buckets))
    per_term = (
        posts.join(pos, ["pbk", "tok"])
        .groupBy("query_id", "id", "qt")
        .agg(F.max("dot").alias("mx"))
    )
    s = per_term.groupBy("query_id", "id").agg(F.sum("mx").alias("score"))
    any_tok = dots.select("query_id", "tok").distinct() \
        .withColumn("pbk", _tok_pbk(F.col("tok"), idx.n_buckets))
    docs_any = posts.join(any_tok, ["pbk", "tok"]) \
        .select("query_id", "id").distinct()
    out = docs_any.join(s, ["query_id", "id"], "left").select(
        "query_id", "id",
        F.coalesce(F.col("score"), F.lit(0).cast("long")).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("id").asc())
    return (
        out.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "id", "score")
        .orderBy("query_id", F.col("score").desc(), F.col("id").asc())
    )


def render_maxsim_batch_sql(queries: list[tuple[int, list[str]]],
                            k: int = 10, dim: int = 16) -> str:
    """DuckDB oracle for ``maxsim_search_indexed_batch`` — the
    single-query corpus-scan oracle generalized with the query set as a
    VALUES literal and a per-query window top-k.  All-integer scores;
    query-term duplicates enter the VALUES list once per occurrence so
    their trigram signs sum with the same multiplicity."""
    tri = ("CASE WHEN length(tok) < 3 THEN [tok] "
           "ELSE list_transform(range(1, length(tok) - 1), "
           "i -> substr(tok, i, 3)) END")
    qtri = tri.replace("tok", "qt")
    qvals = ", ".join(
        f"({qid}, '" + t.lower().replace("'", "''") + "')"
        for qid, terms in queries for t in terms
    )
    return f"""
WITH dtok AS (
  SELECT doc_id AS id,
         unnest(list_distinct(string_split(lower(text), ' '))) AS tok
  FROM documents
),
dgram AS (
  SELECT id, tok, md5(unnest({tri})) AS hx FROM dtok
),
dvec AS (
  SELECT id, tok,
         CAST({_sql_hex2int('hx', 1, 15)} % {dim} AS INTEGER) AS bucket,
         CAST(sum(CASE WHEN {_sql_hex2int('hx', 16, 1)} % 2 = 0
                       THEN 1 ELSE -1 END) AS BIGINT) AS val
  FROM dgram GROUP BY id, tok, bucket
  HAVING sum(CASE WHEN {_sql_hex2int('hx', 16, 1)} % 2 = 0
                  THEN 1 ELSE -1 END) <> 0
),
qtok(query_id, qt) AS (VALUES {qvals}),
qgram AS (SELECT query_id, qt, md5(unnest({qtri})) AS hx FROM qtok),
qvec AS (
  SELECT query_id, qt,
         CAST({_sql_hex2int('hx', 1, 15)} % {dim} AS INTEGER) AS bucket,
         CAST(sum(CASE WHEN {_sql_hex2int('hx', 16, 1)} % 2 = 0
                       THEN 1 ELSE -1 END) AS BIGINT) AS qval
  FROM qgram GROUP BY query_id, qt, bucket
  HAVING sum(CASE WHEN {_sql_hex2int('hx', 16, 1)} % 2 = 0
                  THEN 1 ELSE -1 END) <> 0
),
dots AS MATERIALIZED (
  SELECT q.query_id, d.id, d.tok, q.qt, sum(d.val * q.qval) AS dot
  FROM dvec d JOIN qvec q USING (bucket)
  GROUP BY q.query_id, d.id, d.tok, q.qt
),
per_term AS (
  SELECT query_id, id, qt, greatest(max(dot), 0) AS mx
  FROM dots GROUP BY query_id, id, qt
),
scores AS (SELECT query_id, id, CAST(sum(mx) AS BIGINT) AS score
           FROM per_term GROUP BY query_id, id)
SELECT CAST(query_id AS BIGINT) AS query_id, id, score FROM scores
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY score DESC, id) <= {k}
ORDER BY query_id, score DESC, id
"""
