"""TF-IDF over the documents table — pure DataFrame, oracle-exact.

Classic smooth-idf formulation, kept in exact rational/log arithmetic that
DuckDB reproduces bit-for-bit:

    tf(t, d)  = count of t in d
    idf(t)    = ln((N + 1) / (df(t) + 1)) + 1
    tfidf     = tf * idf

Plan shape: one explode (token, doc) → two partial-aggregating groupBys
(per-doc-term counts; document frequency) → broadcast-join the tiny df table
back.  No Python, no ML pipeline — at 100 TB the same plan holds with the
df table written out and broadcast per batch.  ``top_terms_per_doc`` adds
the WindowGroupLimit top-k so the output stays O(docs × k).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .topk import top_k_per_group


def term_frequencies(df: DataFrame, text_col: str, id_col: str,
                     tokenize_mode: str = "space") -> DataFrame:
    """(id, token, tf) — raw counts per document.  ``tokenize_mode``
    (r8): ``"regex"`` uses the shared cross-engine word pattern
    (``functions.tokenize``) so punctuation stops splitting vocabulary
    on real corpora; default unchanged."""
    from ..functions.tokenize import tokens_col

    return (
        df.select(
            F.col(id_col).alias("id"),
            F.explode(tokens_col(F.col(text_col), tokenize_mode))
            .alias("token"),
        )
        .groupBy("id", "token")
        .agg(F.count(F.lit(1)).alias("tf"))
    )


def tfidf(df: DataFrame, text_col: str, id_col: str,
          tokenize_mode: str = "space") -> DataFrame:
    """(id, token, tf, df_count, tfidf) for every (doc, term)."""
    n_docs = df.count()
    tf = term_frequencies(df, text_col, id_col, tokenize_mode)
    doc_freq = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df_count"))
    return tf.join(F.broadcast(doc_freq), "token").select(
        "id",
        "token",
        "tf",
        "df_count",
        F.round(
            F.col("tf")
            * (F.log((F.lit(float(n_docs + 1))) / (F.col("df_count") + 1)) + 1.0),
            6,
        ).alias("tfidf"),
    )


def top_terms_per_doc(df: DataFrame, text_col: str, id_col: str,
                      k: int = 3,
                      tokenize_mode: str = "space") -> DataFrame:
    """Top-k characteristic terms per doc by tfidf desc (token asc ties)."""
    scored = tfidf(df, text_col, id_col, tokenize_mode)
    return top_k_per_group(
        scored,
        ["id"],
        [F.col("tfidf").desc(), F.col("token").asc()],
        k,
        rank_col="rank",
    ).withColumn("rank", F.col("rank").cast("long")).orderBy("id", "rank")


TFIDF_TOP_TERMS_SQL_TEMPLATE = """
WITH tf AS (
  SELECT doc_id AS id, t.token, count(*) AS tf
  FROM documents, unnest(string_split(text, ' ')) AS t(token)
  GROUP BY 1, 2
),
df_t AS (SELECT token, count(*) AS df_count FROM tf GROUP BY token),
n AS (SELECT count(*) AS n_docs FROM documents),
scored AS (
  SELECT tf.id, tf.token, tf.tf, df_t.df_count,
         round(tf.tf * (ln((n.n_docs + 1.0) / (df_t.df_count + 1)) + 1.0), 6)
           AS tfidf
  FROM tf, df_t, n WHERE tf.token = df_t.token
),
r AS (
  SELECT id, token, tf, df_count, tfidf,
         CAST(row_number() OVER (PARTITION BY id ORDER BY tfidf DESC, token)
              AS BIGINT) AS rank
  FROM scored
)
SELECT id, token, tf, df_count, tfidf, rank
FROM r WHERE rank <= {k} ORDER BY id, rank
"""


def bm25_search(docs: DataFrame, terms: list[str], text_col: str,
                id_col: str, k: int = 10,
                tokenize_mode: str = "space") -> DataFrame:
    """BM25 ranked retrieval (Robertson & Zaragoza 2009; the Lucene
    ``k1 = 1.2, b = 0.75`` defaults) — the standard lexical ranking the
    RRF hybrid's plain term-frequency leg approximates.

    Determinism discipline (the engine's float laws): with k1 = 6/5 and
    b = 3/4 the whole tf saturation term is one exact-integer rational —

        tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
          = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)      (avgdl = T/N)

    where T = total corpus tokens, N = total docs; idf is the Lucene
    ``ln(1 + (N − df + ½)/(df + ½)) = ln((2N+2)/(2df+1))`` — a log of an
    exact integer ratio.  Per-term contributions are pivoted to columns
    and summed IN THE LITERAL TERM ORDER (no data-dependent reduction
    order), and the rank key is the e4-quantized score in BOTH engines,
    so the result value-hashes.

    Plan: the exploded token stream filters to the query terms AT THE
    SCAN (a handful of rows survive per doc); df and the two corpus
    scalars broadcast; one groupBy(id) pivot.  Returns ``(id,
    score_e4)`` top-k ranked ``(score_e4 DESC, id ASC)``.

    Query terms normalize through the SAME tokenizer as the corpus
    (``normalize_query_terms`` — ADVICE r9): a multi-token term splits
    here exactly as it does on the indexed path, keeping the two
    bit-identical for any query string."""
    from ..functions.tokenize import normalize_query_terms, tokens_col

    lterms = normalize_query_terms(terms, tokenize_mode)
    if not lterms:
        raise ValueError("bm25_search requires query terms")
    toks = tokens_col(F.lower(F.col(text_col)), tokenize_mode)
    base = docs.select(F.col(id_col).alias("id"), toks.alias("toks"))
    stats = base.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.size("toks")).cast("long").alias("total_toks"),
    )
    dl = base.select("id", F.size("toks").cast("long").alias("dl"))
    tf = (
        base.select("id", F.explode("toks").alias("t"))
        .filter(F.col("t").isin(lterms))
        .groupBy("id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
    )
    return bm25_rank(tf, dl, stats, lterms, k)


def bm25_rank(tf: DataFrame, dl: DataFrame, stats: DataFrame,
              lterms: list[str], k: int) -> DataFrame:
    """The BM25 scoring tail shared by the corpus-scan path above and
    the pruned-index path (``invindex.bm25_search_indexed``): given
    ``tf (id, t, tf)``, ``dl (id, dl)`` and the 1-row ``stats (n_docs,
    total_toks)``, rank with the exact-integer rational + literal-order
    pivot sum + e4 key.  One function so the two paths are
    expression-identical by construction (same doubles, same ties).
    ``tf`` must be the FULL stream of every query term: per-term document
    frequencies are counted from it."""
    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "t")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (2 * F.col("n_docs") + 2).cast("double")
        / (2 * F.col("df") + 1).cast("double")
    )
    num = (22 * F.col("tf") * F.col("total_toks")).cast("double")
    den = (
        10 * F.col("tf") * F.col("total_toks")
        + 3 * F.col("total_toks")
        + 9 * F.col("dl") * F.col("n_docs")
    ).cast("double")
    contrib = scored.select(
        "id", "t", ((idf * num) / den).alias("c")
    )
    # pivot to per-term columns, sum in literal order (fixed fp order)
    agg_cols = [
        F.coalesce(F.max(F.when(F.col("t") == t, F.col("c"))), F.lit(0.0))
        .alias(f"__c{i}")
        for i, t in enumerate(lterms)
    ]
    pivoted = contrib.groupBy("id").agg(*agg_cols)
    score = F.col("__c0")
    for i in range(1, len(lterms)):
        score = score + F.col(f"__c{i}")
    return (
        pivoted.select(
            "id",
            F.floor(score * 1e4 + F.lit(0.5)).cast("long").alias("score_e4"),
        )
        .orderBy(F.col("score_e4").desc(), F.col("id").asc())
        .limit(k)
    )


def bm25_rank_batch(tf: DataFrame, dl: DataFrame, stats: DataFrame,
                    qterms: DataFrame, maxlen: int, k: int) -> DataFrame:
    """Batch-query BM25 scoring tail (r12, VERDICT r11 task 1): given
    the same ``tf (id, t, tf)`` / ``dl`` / ``stats`` inputs as
    :func:`bm25_rank` plus a SMALL query-set frame ``qterms (query_id,
    qpos, t)`` (one row per query-term POSITION — duplicates within a
    query occupy distinct positions, exactly like the single-query
    literal list), rank every query in ONE plan: per-term contributions
    compute once over the shared tf stream, broadcast-join to the query
    positions, and each ``(query_id, id)`` group pivots per POSITION and
    sums ``((__c0 + __c1) + …)`` — the identical literal-order float
    discipline as ``bm25_rank``, with ``qpos`` standing in for the term
    index, so a batch row is bit-identical to the single-query call for
    that query (pytest-pinned).  ``maxlen`` = the longest query's term
    count (positions past a query's length coalesce to exact 0.0, an
    IEEE no-op on the nonnegative contributions).

    Top-k per query is a ``row_number`` window partitioned by
    ``query_id`` over the same ``(score_e4 DESC, id ASC)`` key the
    single path sorts by — at scale each query's candidate list is its
    partition, so q queries fan out across the cluster instead of
    serializing q driver round-trips.  Output ``(query_id, id,
    score_e4)`` ordered ``(query_id, score_e4 DESC, id)``."""
    from pyspark.sql import Window

    dfreq = tf.groupBy("t").agg(F.count(F.lit(1)).alias("df"))
    scored = (
        tf.join(F.broadcast(dfreq), "t")
        .join(dl, "id")
        .crossJoin(F.broadcast(stats))
    )
    idf = F.log(
        (2 * F.col("n_docs") + 2).cast("double")
        / (2 * F.col("df") + 1).cast("double")
    )
    num = (22 * F.col("tf") * F.col("total_toks")).cast("double")
    den = (
        10 * F.col("tf") * F.col("total_toks")
        + 3 * F.col("total_toks")
        + 9 * F.col("dl") * F.col("n_docs")
    ).cast("double")
    contrib = scored.select("id", "t", ((idf * num) / den).alias("c"))
    j = contrib.join(F.broadcast(qterms), "t") \
        .select("query_id", "qpos", "id", "c")
    agg_cols = [
        F.coalesce(F.max(F.when(F.col("qpos") == i, F.col("c"))),
                   F.lit(0.0)).alias(f"__c{i}")
        for i in range(maxlen)
    ]
    pivoted = j.groupBy("query_id", "id").agg(*agg_cols)
    score = F.col("__c0")
    for i in range(1, maxlen):
        score = score + F.col(f"__c{i}")
    r = pivoted.select(
        "query_id", "id",
        F.floor(score * 1e4 + F.lit(0.5)).cast("long").alias("score_e4"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score_e4").desc(), F.col("id").asc())
    return (
        r.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= k)
        .select("query_id", "id", "score_e4")
        .orderBy("query_id", F.col("score_e4").desc(), F.col("id").asc())
    )


def render_bm25_batch_sql(queries: list[tuple[int, list[str]]],
                          k: int = 10,
                          tokenize_mode: str = "space",
                          text_sql: str = "lower(text)") -> str:
    """DuckDB oracle for the batch BM25 forms — the single-query oracle
    generalized with the query set as a VALUES literal and the pivot
    indexed by query-term POSITION (identical per-position coalesce
    columns, identical literal-order sum, e4 key, per-query window)."""
    from ..functions.tokenize import TOKEN_REGEX, normalize_query_terms

    if tokenize_mode == "space":
        toks_sql = f"string_split({text_sql}, ' ')"
    else:
        toks_sql = f"regexp_extract_all({text_sql}, '{TOKEN_REGEX}')"
    qplan = [(qid, normalize_query_terms(terms, tokenize_mode))
             for qid, terms in queries]
    maxlen = max(len(lt) for _, lt in qplan)
    uniq = sorted({t for _, lt in qplan for t in lt})
    lit = ", ".join("'" + t.replace("'", "''") + "'" for t in uniq)
    qvals = ", ".join(
        f"({qid}, {i}, '" + t.replace("'", "''") + "')"
        for qid, lt in qplan for i, t in enumerate(lt)
    )
    pivot_cols = ",\n         ".join(
        f"coalesce(max(CASE WHEN qpos = {i} THEN c END), 0.0) AS __c{i}"
        for i in range(maxlen)
    )
    score = " + ".join(f"__c{i}" for i in range(maxlen))
    return f"""
WITH base AS (
  SELECT doc_id AS id, {toks_sql} AS toks FROM documents
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(toks)) AS BIGINT) AS total_toks
  FROM base
),
dl AS (SELECT id, CAST(len(toks) AS BIGINT) AS dl FROM base),
tf AS (
  SELECT id, t, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT id, unnest(toks) AS t FROM base)
  WHERE t IN ({lit})
  GROUP BY id, t
),
dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
contrib AS (
  SELECT tf.id, tf.t,
         ln(CAST(2 * s.n_docs + 2 AS DOUBLE)
            / CAST(2 * dfreq.df + 1 AS DOUBLE))
         * CAST(22 * tf.tf * s.total_toks AS DOUBLE)
         / CAST(10 * tf.tf * s.total_toks + 3 * s.total_toks
                + 9 * dl.dl * s.n_docs AS DOUBLE) AS c
  FROM tf JOIN dfreq USING (t) JOIN dl USING (id), stats s
),
qterms(query_id, qpos, t) AS (VALUES {qvals}),
j AS (
  SELECT q.query_id, q.qpos, c.id, c.c
  FROM contrib c JOIN qterms q USING (t)
),
pivoted AS (
  SELECT query_id, id,
         {pivot_cols}
  FROM j GROUP BY query_id, id
),
r AS (
  SELECT query_id, id,
         CAST(floor(({score}) * 1e4 + 0.5) AS BIGINT) AS score_e4
  FROM pivoted
)
SELECT CAST(query_id AS BIGINT) AS query_id, id, score_e4
FROM r
QUALIFY row_number() OVER (PARTITION BY query_id
                           ORDER BY score_e4 DESC, id) <= {k}
ORDER BY query_id, score_e4 DESC, id
"""


def render_bm25_sql(terms: list[str], k: int = 10,
                    tokenize_mode: str = "space",
                    text_sql: str = "lower(text)") -> str:
    """DuckDB oracle for ``bm25_search`` — identical integer rational,
    identical idf log argument, identical literal-order sum and e4 rank
    key.  ``tokenize_mode="regex"`` tokenizes with the shared
    cross-engine ``[A-Za-z0-9]+`` pattern (functions/tokenize.py);
    ``text_sql`` lets a caller rank over a derived text expression
    (e.g. a deterministically punctuated view) instead of the raw
    column."""
    from ..functions.tokenize import TOKEN_REGEX

    if tokenize_mode == "space":
        toks_sql = f"string_split({text_sql}, ' ')"
    else:
        toks_sql = f"regexp_extract_all({text_sql}, '{TOKEN_REGEX}')"
    from ..functions.tokenize import normalize_query_terms

    lterms = normalize_query_terms(terms, tokenize_mode)
    lit = ", ".join("'" + t.replace("'", "''") + "'" for t in lterms)
    pivot_cols = ",\n         ".join(
        f"coalesce(max(CASE WHEN t = '{t}' THEN c END), 0.0) AS __c{i}"
        for i, t in enumerate(lterms)
    )
    score = " + ".join(f"__c{i}" for i in range(len(lterms)))
    return f"""
WITH base AS (
  SELECT doc_id AS id, {toks_sql} AS toks FROM documents
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(len(toks)) AS BIGINT) AS total_toks
  FROM base
),
dl AS (SELECT id, CAST(len(toks) AS BIGINT) AS dl FROM base),
tf AS (
  SELECT id, t, CAST(count(*) AS BIGINT) AS tf
  FROM (SELECT id, unnest(toks) AS t FROM base)
  WHERE t IN ({lit})
  GROUP BY id, t
),
dfreq AS (SELECT t, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY t),
contrib AS (
  SELECT tf.id, tf.t,
         ln(CAST(2 * s.n_docs + 2 AS DOUBLE)
            / CAST(2 * dfreq.df + 1 AS DOUBLE))
         * CAST(22 * tf.tf * s.total_toks AS DOUBLE)
         / CAST(10 * tf.tf * s.total_toks + 3 * s.total_toks
                + 9 * dl.dl * s.n_docs AS DOUBLE) AS c
  FROM tf JOIN dfreq USING (t) JOIN dl USING (id), stats s
),
pivoted AS (
  SELECT id,
         {pivot_cols}
  FROM contrib GROUP BY id
)
SELECT id,
       CAST(floor(({score}) * 1e4 + 0.5) AS BIGINT) AS score_e4
FROM pivoted
ORDER BY score_e4 DESC, id
LIMIT {k}
"""
