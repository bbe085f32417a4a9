"""The end-to-end training-data cleaning pipeline — the north-star use case
composed from the engine's own operators, as one declarative plan:

1. exact dedup        — keep the min-id representative of identical texts
2. near-dup removal   — drop the higher id of every n-gram-Jaccard pair
                        ≥ threshold (greedy-by-id, deterministic)
3. quality filter     — distinct-token ratio and punctuation bounds
4. language filter    — keep docs whose labeled lang is in the allow-list
5. summary            — per-language stats of the surviving corpus

Every stage is a DataFrame transformation (no Python), so Catalyst fuses
filters, pushes projections, and the near-dup anti-join broadcasts its tiny
pair list.  The full pipeline is SQL-expressible and oracle-checked end to
end — each stage was proven individually, this proves the composition.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources import load_table
from .dedup import exact_dedup, ngram_jaccard_pairs


def clean_corpus(spark: SparkSession, sf_dir: str,
                 jaccard_threshold: float = 0.5,
                 min_distinct_ratio: float = 0.3,
                 max_punct_ratio: float = 0.2,
                 langs: tuple[str, ...] = ("en", "de", "es", "fr"),
                 decontam_bench: DataFrame | None = None,
                 decontam_n: int = 8,
                 decontam_threshold: float = 0.5) -> DataFrame:
    """Surviving corpus after the full cleaning cascade: ``(doc_id, lang,
    n_tokens)`` of every kept doc.

    ``decontam_bench`` (a ``(doc_id, text)`` benchmark table) inserts a
    decontamination stage after near-dup removal: docs containing ≥
    ``decontam_threshold`` of any benchmark doc's ``decontam_n``-grams are
    dropped (``dedup.decontaminate``).  Default off — the registered
    oracle-checked query covers the base cascade; the stage is proven by
    its own oracle-replicated tests."""
    docs = load_table(spark, sf_dir, "documents")

    # 1. exact dedup: keep rows that are their own canonical representative
    canon = exact_dedup(docs, "text", "doc_id").filter(
        F.col("id") == F.col("canonical_id")
    ).select(F.col("id").alias("doc_id"))
    kept = docs.join(canon, "doc_id", "left_semi")

    # 2. near-dup removal: drop id_b of every qualifying pair (greedy by
    # id).  Pairs are computed on the POST-exact-dedup set: identical texts
    # have identical shingle sets, so any pair through a dropped duplicate
    # also exists through its canonical representative — same final result,
    # and exact-dup groups no longer inflate the shingle self-join
    # quadratically.
    near = ngram_jaccard_pairs(kept, "text", "doc_id",
                               threshold=jaccard_threshold)
    drop = near.select(F.col("id_b").alias("doc_id")).distinct()
    kept = kept.join(F.broadcast(drop), "doc_id", "left_anti")

    # 2b. optional benchmark decontamination (training/eval overlap)
    if decontam_bench is not None:
        from .dedup import decontaminate

        kept = decontaminate(
            kept, decontam_bench, n=decontam_n,
            threshold=decontam_threshold,
            corpus_text="text", corpus_id="doc_id",
            bench_text="text", bench_id="doc_id",
        )

    # 3. quality: distinct-token ratio + punctuation density bounds
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    punct_ratio = (
        F.length("text")
        - F.length(F.regexp_replace("text", "[^A-Za-z0-9 ]", ""))
    ).cast("double") / F.length("text")
    kept = kept.filter(
        (distinct_ratio >= min_distinct_ratio) & (punct_ratio <= max_punct_ratio)
    )

    # 4. language allow-list
    kept = kept.filter(F.col("lang").isin(list(langs)))

    return kept.select(
        "doc_id", "lang", n_tokens.cast("long").alias("n_tokens")
    ).orderBy("doc_id")


def clean_corpus_summary(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """Per-language stats of the cleaned corpus: ``(lang, n_docs,
    total_tokens)`` plus an ALL row."""
    kept = clean_corpus(spark, sf_dir, **kw)
    per_lang = kept.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    total = kept.agg(
        F.lit("ALL").alias("lang"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )
    return per_lang.unionByName(total).orderBy("lang")


CLEAN_CORPUS_SQL = """
WITH canon AS (
  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
),
toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM documents
         WHERE doc_id IN (SELECT doc_id FROM canon)),
sh AS (SELECT DISTINCT doc_id, array_to_string(list_slice(t, i, i + 2), ' ') AS shingle
       FROM toks, unnest(range(1, len(t) - 1)) AS r(i)),
sizes AS (SELECT doc_id, count(*) AS sz FROM sh GROUP BY doc_id),
inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS c
          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
neardrop AS (
  SELECT DISTINCT id_b AS doc_id
  FROM inter
  JOIN sizes sa ON sa.doc_id = id_a
  JOIN sizes sb ON sb.doc_id = id_b
  WHERE CAST(c AS DOUBLE) / (sa.sz + sb.sz - c) >= {threshold}
),
kept AS (
  SELECT d.doc_id, d.lang, len(string_split(d.text, ' ')) AS n_tokens
  FROM documents d
  WHERE d.doc_id IN (SELECT doc_id FROM canon)
    AND d.doc_id NOT IN (SELECT doc_id FROM neardrop)
    AND CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
        / len(string_split(d.text, ' ')) >= {min_distinct}
    AND CAST(length(d.text) - length(regexp_replace(d.text, '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        / length(d.text) <= {max_punct}
    AND d.lang IN {langs}
)
"""

CLEAN_CORPUS_DOCS_SQL = (
    CLEAN_CORPUS_SQL
    + "SELECT doc_id, lang, CAST(n_tokens AS BIGINT) AS n_tokens "
      "FROM kept ORDER BY doc_id"
)

CLEAN_CORPUS_SUMMARY_SQL = (
    CLEAN_CORPUS_SQL
    + """
SELECT lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM kept GROUP BY lang
UNION ALL
SELECT 'ALL' AS lang, count(*) AS n_docs,
       CAST(sum(n_tokens) AS BIGINT) AS total_tokens FROM kept
ORDER BY lang
"""
)


def render_clean_corpus_sql(summary: bool,
                            jaccard_threshold: float = 0.5,
                            min_distinct_ratio: float = 0.3,
                            max_punct_ratio: float = 0.2,
                            langs: tuple[str, ...] = ("en", "de", "es", "fr")) -> str:
    tmpl = CLEAN_CORPUS_SUMMARY_SQL if summary else CLEAN_CORPUS_DOCS_SQL
    return tmpl.format(
        threshold=jaccard_threshold,
        min_distinct=min_distinct_ratio,
        max_punct=max_punct_ratio,
        langs="(" + ", ".join(f"'{lang}'" for lang in langs) + ")",
    )


def clean_corpus_v2_stage_counts(spark: SparkSession, sf_dir: str,
                                 jaccard_threshold: float = 0.5,
                                 min_distinct_ratio: float = 0.3,
                                 max_punct_ratio: float = 0.2,
                                 langs: tuple[str, ...] = ("en", "de", "es",
                                                           "fr"),
                                 substring_window: int = 8,
                                 semantic_cells: int | None = None,
                                 semantic_threshold: float = 0.8) -> DataFrame:
    """The r8 capstone: the FULL dedup family threaded into one cleaning
    cascade (VERDICT r7 task 6), graded by its per-stage survivor counts
    ``(stage, n_docs)``:

    0_input → 1_exact (exact dedup) → 2_neardup (n-gram Jaccard) →
    3_substring (drop ``flag_dup_heavy`` docs — Lee et al. substring
    profile over the surviving set) → 4_quality → 5_lang → 6_semantic
    (SemDeDup over each surviving doc's embedding where one exists —
    docs without embeddings pass through), plus a ``7_semantic_cells``
    row carrying the DERIVED SemDeDup cell count.

    ``semantic_cells=None`` (default, VERDICT r8 task 1) auto-scales the
    SemDeDup cluster count with the embedded-survivor count
    (``clamp(ceil(n / 4096), 8, 65536)`` — see
    :func:`..operators.dedup.semantic_dedup`), so at 100× data the
    within-cell compare sets stay bounded instead of growing 100× inside
    a fixed 8 cells.  The derived count is emitted as the
    ``7_semantic_cells`` row and value-hashed by the oracle (which
    replicates the clamp formula over the same survivor count), so a
    drift in the auto-scale rule or in any upstream stage count flips
    the hash.

    Every stage count is an exact integer the DuckDB oracle replicates —
    except 6_semantic, whose k-means is not SQL-expressible: on this
    corpus the oracle asserts it equals 5_lang because no natural
    embedding pair reaches cosine 0.8 (measured max 0.60 at all three
    scales — the same invariant ``semantic_dedup_map`` is built on, and
    THAT query proves the stage drops real near-dups when they exist).
    A semantic stage that wrongly dropped anything here flips the count.

    Scale shape: each stage is the same plan its standalone operator
    runs (digest groupBy, shingle self-join with broadcast drop list,
    span-hash aggs, codegen filters, k-means assign + cell prune);
    stages compose as anti-joins on (doc_id) — fixed-width keys only.

    Each stage's decision set (the doc_ids it keeps or drops — longs
    only, never text) is eagerly checkpointed the moment it is derived
    (VERDICT r8 task 2): without this, the seven stage-count branches
    PLUS semantic_dedup's internal row-count/skew-probe actions each
    re-derived the whole upstream chain, so the expensive stage-2
    shingle self-join and stage-3 window explode executed 4-6× per
    call.  With the checkpoints every heavy stage runs EXACTLY ONCE and
    every downstream branch is a documents scan + semi/anti joins on
    fixed-width ids (measured at sf1: wall 115 s → ~45 s, shuffle
    2.5 GB → well under the r8 target; SCALE.md, round-9 operators —
    the smoke script that measured it is in git history).
    Values are unchanged — the sets are deterministic, checkpointing
    only pins where they materialize."""
    from ..operators.dedup import (
        exact_dedup,
        ngram_jaccard_pairs,
        semantic_dedup,
        substring_dedup_stats,
    )

    docs = load_table(spark, sf_dir, "documents")

    canon = exact_dedup(docs, "text", "doc_id").filter(
        F.col("id") == F.col("canonical_id")
    ).select(F.col("id").alias("doc_id")).localCheckpoint(eager=True)
    kept1 = docs.join(canon, "doc_id", "left_semi")

    near = ngram_jaccard_pairs(kept1, "text", "doc_id",
                               threshold=jaccard_threshold)
    drop = near.select(F.col("id_b").alias("doc_id")).distinct() \
        .localCheckpoint(eager=True)
    kept2 = kept1.join(F.broadcast(drop), "doc_id", "left_anti")

    sub = substring_dedup_stats(kept2, "text", "doc_id",
                                window=substring_window)
    heavy = sub.filter(F.col("flag_dup_heavy")) \
        .select(F.col("id").alias("doc_id")).localCheckpoint(eager=True)
    kept3 = kept2.join(F.broadcast(heavy), "doc_id", "left_anti")

    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    distinct_ratio = F.size(F.array_distinct(toks)).cast("double") / n_tokens
    punct_ratio = (
        F.length("text")
        - F.length(F.regexp_replace("text", "[^A-Za-z0-9 ]", ""))
    ).cast("double") / F.length("text")
    kept4 = kept3.filter(
        (distinct_ratio >= min_distinct_ratio)
        & (punct_ratio <= max_punct_ratio)
    )
    kept5 = kept4.filter(F.col("lang").isin(list(langs)))

    emb = load_table(spark, sf_dir, "embeddings")
    # checkpoint the embedded-survivor projection too: semantic_dedup
    # runs 3 internal actions (row count, k-means fit sample, skew
    # probe) plus the final job over it — each would otherwise replay
    # the kept5 chain's regex-ratio filters over the full text column
    with_vec = kept5.join(
        emb.select(F.col("vec_id").alias("doc_id"),
                   F.col("embedding").cast("array<double>").alias("vec")),
        "doc_id",
    ).select("doc_id", "vec").localCheckpoint(eager=True)
    sem_stats: dict = {}
    sem = semantic_dedup(with_vec, "doc_id", "vec",
                         n_cells=semantic_cells,
                         threshold=semantic_threshold,
                         stats=sem_stats)
    sem_drop = sem.filter(~F.col("keep")) \
        .select(F.col("id").alias("doc_id")).localCheckpoint(eager=True)
    kept6 = kept5.join(F.broadcast(sem_drop), "doc_id", "left_anti")

    stages = [
        ("0_input", docs), ("1_exact", kept1), ("2_neardup", kept2),
        ("3_substring", kept3), ("4_quality", kept4), ("5_lang", kept5),
        ("6_semantic", kept6),
    ]
    out = None
    for name, df in stages:
        c = df.agg(F.lit(name).alias("stage"),
                   F.count(F.lit(1)).cast("long").alias("n_docs"))
        out = c if out is None else out.unionByName(c)
    spark = docs.sparkSession
    cells_row = spark.range(1).select(
        F.lit("7_semantic_cells").alias("stage"),
        F.lit(int(sem_stats["n_cells"])).cast("long").alias("n_docs"),
    )
    return out.unionByName(cells_row).orderBy("stage")


CLEAN_CORPUS_V2_SQL = (
    CLEAN_CORPUS_SQL
    + """,
-- v2 inserts the substring drop BETWEEN neardup and quality, so the
-- span profile is computed over the POST-NEARDUP set k2 (= canon minus
-- neardrop) — duplication counts corpus-wide over exactly the rows the
-- Spark stage sees.  (The base template's `kept` is unused here; its
-- CTEs canon/neardrop are what v2 builds on.)
k2 AS (SELECT doc_id FROM canon WHERE doc_id NOT IN
         (SELECT doc_id FROM neardrop)),
w2 AS (
  SELECT k.doc_id AS id,
         md5(array_to_string(list_slice(t2.toks, u.i, u.i + {window} - 1),
                             ' ')) AS h
  FROM k2 k
  JOIN (SELECT doc_id, string_split(lower(text), ' ') AS toks
        FROM documents) t2 ON t2.doc_id = k.doc_id,
       unnest(range(1, greatest(len(t2.toks) - {window} + 2, 1))) AS u(i)
),
pd2 AS (SELECT id, h, count(*) AS c FROM w2 GROUP BY id, h),
g2 AS (SELECT h, sum(c) AS occ FROM pd2 GROUP BY h),
heavy AS (
  SELECT id FROM (
    SELECT pd2.id, sum(pd2.c) AS n_spans,
           sum(CASE WHEN g2.occ >= 2 THEN pd2.c ELSE 0 END) AS n_dup
    FROM pd2 JOIN g2 USING (h) GROUP BY pd2.id
  ) WHERE n_spans > 0 AND 5 * n_dup >= n_spans
),
k3 AS (SELECT doc_id FROM k2 WHERE doc_id NOT IN (SELECT id FROM heavy)),
k4 AS (
  SELECT d.doc_id, d.lang FROM documents d
  JOIN k3 ON k3.doc_id = d.doc_id
  WHERE CAST(len(list_distinct(string_split(d.text, ' '))) AS DOUBLE)
        / len(string_split(d.text, ' ')) >= {min_distinct}
    AND CAST(length(d.text) - length(regexp_replace(d.text,
             '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        / length(d.text) <= {max_punct}
),
k5 AS (SELECT doc_id FROM k4 WHERE lang IN {langs})
SELECT * FROM (
  SELECT '0_input' AS stage, CAST(count(*) AS BIGINT) AS n_docs
  FROM documents
  UNION ALL SELECT '1_exact', CAST(count(*) AS BIGINT) FROM canon
  UNION ALL SELECT '2_neardup', CAST(count(*) AS BIGINT) FROM k2
  UNION ALL SELECT '3_substring', CAST(count(*) AS BIGINT) FROM k3
  UNION ALL SELECT '4_quality', CAST(count(*) AS BIGINT) FROM k4
  UNION ALL SELECT '5_lang', CAST(count(*) AS BIGINT) FROM k5
  -- semantic drops nothing on this corpus: max natural embedding cosine
  -- 0.60 << 0.8 (the semantic_dedup_map invariant)
  UNION ALL SELECT '6_semantic', CAST(count(*) AS BIGINT) FROM k5
  -- the auto-scaled SemDeDup cell count: clamp(ceil(n_embedded/4096),
  -- 8, 65536) over the stage-5 survivors that have embeddings — the
  -- exact clamp formula semantic_dedup derives when n_cells=None
  UNION ALL SELECT '7_semantic_cells',
    LEAST(GREATEST(CAST(ceil(CAST(count(*) AS DOUBLE) / 4096.0)
                        AS BIGINT), 8), 65536)
  FROM k5 JOIN embeddings e ON e.vec_id = k5.doc_id
) ORDER BY stage
"""
)


def render_clean_corpus_v2_sql(jaccard_threshold: float = 0.5,
                               min_distinct_ratio: float = 0.3,
                               max_punct_ratio: float = 0.2,
                               langs: tuple[str, ...] = ("en", "de", "es",
                                                         "fr"),
                               substring_window: int = 8) -> str:
    return CLEAN_CORPUS_V2_SQL.format(
        threshold=jaccard_threshold,
        min_distinct=min_distinct_ratio,
        max_punct=max_punct_ratio,
        langs="(" + ", ".join(f"'{lang}'" for lang in langs) + ")",
        window=substring_window,
    )


def clean_corpus_incremental_stage_counts(
        spark: SparkSession, sf_dir: str,
        jaccard_threshold: float = 0.5,
        min_distinct_ratio: float = 0.3,
        max_punct_ratio: float = 0.2,
        langs: tuple[str, ...] = ("en", "de", "es", "fr"),
        substring_window: int = 8,
        semantic_min_cosine: float = 0.4) -> DataFrame:
    """The INGEST form of the cleaning capstone (r9): a NEW shard
    (doc_id % 5 == 0) is admitted against the EXISTING corpus (the
    rest) with every heavy screen running at O(batch) through prepared
    dedup state — the shape a production pipeline actually runs when a
    crawl shard arrives, where ``clean_corpus_v2`` is the initial bulk
    clean.  Graded by per-stage batch-survivor counts ``(stage,
    n_docs)``:

    0_batch → 1_exact (digest vs corpus digests ∪ within-batch min-id)
    → 2_neardup (MinHash-LSH vs the PERSISTED corpus state —
    ``minhash_lsh_pairs_incremental_prepared``, only the batch is
    shingled/signed) → 3_substring (Lee-et-al span profile vs
    corpus ∪ batch through the persisted span state —
    ``substring_dedup_incremental``) → 4_quality → 5_lang →
    6_semantic (EXACT cosine admit vs the corpus embeddings —
    ``dedup.cosine_admit_blocked``; batch docs without embeddings pass
    through).

    Screen decisions are PER-DOC against the corpus (or the full
    batch, for the two self-dup screens), then AND-composed — so each
    decision set is computed once over the whole shard and the stage
    counts are pure set intersections (checkpointed as id lists, longs
    only).  That also makes every stage exactly SQL-expressible: the
    oracle recomputes each screen from the raw tables with the same
    predicate split (the state tables are pure functions of the
    corpus), including the semantic stage — a brute-force batch×corpus
    cosine join, exact because the Spark side is the exact blocked
    GEMM, no k-means anywhere.  ``semantic_min_cosine=0.4`` exercises
    REAL vs-corpus semantic drops on this corpus (natural cross-slice
    cosines reach 0.60; min |cos − τ| ≥ 1.1e-5 at all three scales, so
    the float64-GEMM vs SQL-sum ULP gap of ~1e-15 can never flip a
    decision); a production SemDeDup admit would run τ ≈ 0.95 — the
    knob is the caller's.

    In-query the two state tables are BUILT from the corpus first (the
    driver's self-contained-query contract, same as
    ``phrase_search_indexed`` / ``bm25_topk_indexed``); production
    builds them once and appends admitted batches
    (``minhash_corpus_state_append`` / ``substring_state_append`` —
    both green standalone queries)."""
    import shutil
    import tempfile

    from .dedup import (
        cosine_admit_blocked,
        minhash_corpus_state_build,
        minhash_lsh_pairs_incremental_prepared,
        substring_dedup_incremental,
        substring_state_build,
    )

    docs = load_table(spark, sf_dir, "documents")
    batch = docs.filter(F.col("doc_id") % 5 == 0)
    corpus = docs.filter(F.col("doc_id") % 5 != 0)

    mh_state = tempfile.mkdtemp(prefix="cci_mh_")
    minhash_corpus_state_build(corpus, mh_state, "text", "doc_id", n=3)
    ss_state = tempfile.mkdtemp(prefix="cci_ss_")
    substring_state_build(corpus, ss_state, "text", "doc_id",
                          window=substring_window)

    # 1_exact: batch digest present in the corpus, or a non-min-id
    # duplicate within the batch
    bd = batch.select("doc_id", F.md5("text").alias("digest"))
    cd = corpus.select(F.md5("text").alias("digest")).distinct()
    wmin = bd.groupBy("digest").agg(F.min("doc_id").alias("__mn"))
    keep_exact = (
        bd.join(cd, "digest", "left_anti")
        .join(wmin, "digest")
        .filter(F.col("doc_id") == F.col("__mn"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )

    # 2_neardup: batch vs the persisted MinHash state — O(batch)
    drop_near = (
        minhash_lsh_pairs_incremental_prepared(
            spark, mh_state, batch, "text", "doc_id",
            threshold=jaccard_threshold)
        .select(F.col("new_id").alias("doc_id")).distinct()
        .localCheckpoint(eager=True)
    )

    # 3_substring: span profile vs corpus ∪ batch through the state
    drop_sub = (
        substring_dedup_incremental(spark, ss_state, batch,
                                    "text", "doc_id")
        .filter(F.col("flag_dup_heavy"))
        .select(F.col("id").alias("doc_id"))
        .localCheckpoint(eager=True)
    )
    # both stateful screens are now eager id-list checkpoints — the
    # temp state trees are dead; remove them so a registered query
    # doesn't leak two directories per invocation (ADVICE r9).  mkdtemp
    # is driver-local by construction, so shutil is the right remover.
    shutil.rmtree(mh_state, ignore_errors=True)
    shutil.rmtree(ss_state, ignore_errors=True)

    # 4/5: stateless per-doc filters (same expressions as v2)
    toks = F.split(F.col("text"), " ")
    n_tokens = F.size(toks)
    distinct_ratio = (F.size(F.array_distinct(toks)).cast("double")
                      / n_tokens)
    punct_ratio = (
        F.length("text")
        - F.length(F.regexp_replace("text", "[^A-Za-z0-9 ]", ""))
    ).cast("double") / F.length("text")
    keep_quality = batch.filter(
        (distinct_ratio >= min_distinct_ratio)
        & (punct_ratio <= max_punct_ratio)
    ).select("doc_id")
    keep_lang = batch.filter(F.col("lang").isin(list(langs))) \
        .select("doc_id")

    # 6_semantic: exact cosine admit vs the corpus embeddings
    emb = load_table(spark, sf_dir, "embeddings")
    drop_sem = cosine_admit_blocked(
        emb.filter(F.col("vec_id") % 5 == 0),
        emb.filter(F.col("vec_id") % 5 != 0),
        "embedding", "vec_id", semantic_min_cosine,
    ).select(F.col("id").alias("doc_id")).localCheckpoint(eager=True)

    k1 = keep_exact
    k2 = k1.join(F.broadcast(drop_near), "doc_id", "left_anti")
    k3 = k2.join(F.broadcast(drop_sub), "doc_id", "left_anti")
    k4 = k3.join(keep_quality, "doc_id", "left_semi")
    k5 = k4.join(keep_lang, "doc_id", "left_semi")
    k6 = k5.join(F.broadcast(drop_sem), "doc_id", "left_anti")

    stages = [
        ("0_batch", batch), ("1_exact", k1), ("2_neardup", k2),
        ("3_substring", k3), ("4_quality", k4), ("5_lang", k5),
        ("6_semantic", k6),
    ]
    out = None
    for name, df in stages:
        c = df.agg(F.lit(name).alias("stage"),
                   F.count(F.lit(1)).cast("long").alias("n_docs"))
        out = c if out is None else out.unionByName(c)
    return out.orderBy("stage")


def render_clean_corpus_incremental_sql(
        jaccard_threshold: float = 0.5,
        min_distinct_ratio: float = 0.3,
        max_punct_ratio: float = 0.2,
        langs: tuple[str, ...] = ("en", "de", "es", "fr"),
        substring_window: int = 8,
        semantic_min_cosine: float = 0.4) -> str:
    """DuckDB oracle for ``clean_corpus_incremental_stage_counts`` —
    every screen recomputed from the raw tables over the same
    batch/corpus predicate split: the MinHash screen is the FULL
    incremental SQL (``render_minhash_incremental_sql`` — same md5
    permutations, banding and exact verify the persisted state
    reproduces), the substring screen the predicate-split full span
    profile, the semantic screen a brute-force batch×corpus cosine
    join.  Stage counts are then the same set intersections."""
    from .dedup import (
        render_minhash_incremental_sql,
        render_substring_stats_sql,
    )

    batch_pred = "doc_id % 5 = 0"
    corpus_pred = "doc_id % 5 <> 0"
    nd_sql = render_minhash_incremental_sql(
        batch_pred=batch_pred, corpus_pred=corpus_pred,
        n=3, threshold=jaccard_threshold,
        max_doc_freq=None, max_band_bucket=None,
    )
    sub_sql = render_substring_stats_sql(
        window=substring_window, out_predicate=f"d.{batch_pred}"
    )
    lang_list = "(" + ", ".join(f"'{lang}'" for lang in langs) + ")"
    return f"""
WITH batch AS (SELECT * FROM documents WHERE {batch_pred}),
k1 AS (
  SELECT b.doc_id FROM batch b
  WHERE md5(b.text) NOT IN
        (SELECT md5(text) FROM documents WHERE {corpus_pred})
    AND b.doc_id = (SELECT min(b2.doc_id) FROM batch b2
                    WHERE md5(b2.text) = md5(b.text))
),
neardrop AS (SELECT DISTINCT new_id AS doc_id FROM ({nd_sql}) nd),
subdrop AS (SELECT id AS doc_id FROM ({sub_sql}) ss
            WHERE ss.flag_dup_heavy),
k2 AS (SELECT doc_id FROM k1 WHERE doc_id NOT IN
         (SELECT doc_id FROM neardrop)),
k3 AS (SELECT doc_id FROM k2 WHERE doc_id NOT IN
         (SELECT doc_id FROM subdrop)),
k4 AS (
  SELECT b.doc_id FROM batch b JOIN k3 USING (doc_id)
  WHERE CAST(len(list_distinct(string_split(b.text, ' '))) AS DOUBLE)
        / len(string_split(b.text, ' ')) >= {min_distinct_ratio}
    AND CAST(length(b.text) - length(regexp_replace(b.text,
             '[^A-Za-z0-9 ]', '', 'g')) AS DOUBLE)
        / length(b.text) <= {max_punct_ratio}
),
k5 AS (
  SELECT b.doc_id FROM batch b JOIN k4 USING (doc_id)
  WHERE b.lang IN {lang_list}
),
bv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       FROM embeddings WHERE vec_id % 5 = 0),
cv AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
       FROM embeddings WHERE vec_id % 5 <> 0),
semdrop AS (
  SELECT DISTINCT b.vec_id AS doc_id
  FROM bv b JOIN cv c ON TRUE,
  LATERAL (SELECT sum(x.xa * x.xb) AS dot
           FROM (SELECT unnest(b.v) AS xa, unnest(c.v) AS xb) x) d,
  LATERAL (SELECT sqrt(sum(x.xa * x.xa)) AS n
           FROM (SELECT unnest(b.v) AS xa) x) na,
  LATERAL (SELECT sqrt(sum(x.xb * x.xb)) AS n
           FROM (SELECT unnest(c.v) AS xb) x) nb
  WHERE (CASE WHEN na.n * nb.n = 0 THEN 0.0
              ELSE d.dot / (na.n * nb.n) END) >= {semantic_min_cosine}
),
k6 AS (SELECT doc_id FROM k5 WHERE doc_id NOT IN
         (SELECT doc_id FROM semdrop))
SELECT * FROM (
  SELECT '0_batch' AS stage, CAST(count(*) AS BIGINT) AS n_docs FROM batch
  UNION ALL SELECT '1_exact', CAST(count(*) AS BIGINT) FROM k1
  UNION ALL SELECT '2_neardup', CAST(count(*) AS BIGINT) FROM k2
  UNION ALL SELECT '3_substring', CAST(count(*) AS BIGINT) FROM k3
  UNION ALL SELECT '4_quality', CAST(count(*) AS BIGINT) FROM k4
  UNION ALL SELECT '5_lang', CAST(count(*) AS BIGINT) FROM k5
  UNION ALL SELECT '6_semantic', CAST(count(*) AS BIGINT) FROM k6
) ORDER BY stage
"""


def _normalized_vec(col):
    v = F.transform(col, lambda x: x.cast("double"))
    n = F.sqrt(F.aggregate(v, F.lit(0.0), lambda a, x: a + x * x))
    return F.when(n == 0.0, v).otherwise(F.transform(v, lambda x: x / n))


class _EmbStateView:
    """store-shaped adapter over ``{root}/embeddings`` feeding
    ``ann.ivf_sync_with_store`` the NORMALIZED vectors (the index
    invariant the streaming screen pins)."""

    def __init__(self, spark, root):
        self._spark, self._root = spark, root

    def df(self):
        return self._spark.read.parquet(f"{self._root}/embeddings") \
            .select("id", _normalized_vec(F.col("vec")).alias("vec"))


def clean_corpus_states_build(spark: SparkSession, corpus_docs: DataFrame,
                              corpus_emb: DataFrame, root: str,
                              substring_window: int = 8,
                              semantic_index_cells: int | None = None
                              ) -> None:
    """Materialize ALL the cleaning-cascade state an ingest loop needs
    under one ``root``: ``{root}/minhash`` (band/shingle/size tables),
    ``{root}/substring`` (span-hash deltas), ``{root}/digests`` (the
    exact-dedup (id, md5) pairs), ``{root}/embeddings`` (the vs-corpus
    semantic screen's comparison set).  Built once from the initial
    clean corpus; :func:`clean_corpus_admit_batch` screens each
    arriving shard against it and appends the survivors, so the loop
    never rescans the corpus."""
    from .dedup import minhash_corpus_state_build, substring_state_build

    minhash_corpus_state_build(corpus_docs, f"{root}/minhash",
                               "text", "doc_id", n=3)
    substring_state_build(corpus_docs, f"{root}/substring",
                          "text", "doc_id", window=substring_window)
    corpus_docs.select(
        F.col("doc_id").alias("id"), F.md5("text").alias("digest")
    ).write.mode("overwrite").parquet(f"{root}/digests")
    corpus_emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    ).write.mode("overwrite").parquet(f"{root}/embeddings")
    if semantic_index_cells is not None:
        # the IVF tier for the semantic screen (cosine_admit_ivf): built
        # over NORMALIZED vectors so the centroid geometry matches the
        # cosine metric; admit_batch(semantic_screen="ivf") probes it
        # and the write-back syncs admitted vectors in at O(batch)
        from .ann import ivf_build, ivf_save

        ivf_save(ivf_build(
            _EmbStateView(spark, root).df(),
            id_col="id", vec_col="vec", n_cells=semantic_index_cells,
        ), f"{root}/ivf")


def clean_corpus_admit_batch(spark: SparkSession, root: str,
                             batch_docs: DataFrame,
                             batch_emb: DataFrame | None = None,
                             jaccard_threshold: float = 0.5,
                             min_distinct_ratio: float = 0.3,
                             max_punct_ratio: float = 0.2,
                             langs: tuple[str, ...] = ("en", "de", "es",
                                                       "fr"),
                             semantic_min_cosine: float = 0.4,
                             batch_id: int | str | None = None,
                             semantic_screen: str = "exact",
                             n_probes: int = 4,
                             stats: dict | None = None,
                             auto_refit_drift: float | None = None
                             ) -> tuple[DataFrame, list[tuple[str, int]]]:
    """ONE production ingest step: screen ``batch_docs`` (and their
    ``batch_emb`` embeddings, ``(vec_id, embedding)``) against the
    persisted cascade state at ``root``
    (:func:`clean_corpus_states_build`), then APPEND the survivors to
    every state table — so the NEXT shard is screened against
    corpus ∪ survivors with no corpus rescan, ever.  Returns
    ``(survivor ids DataFrame, [(stage, count), ...])``.

    Same screens and AND-composition as
    :func:`clean_corpus_incremental_stage_counts` (the registered,
    DuckDB-replicated query proves the decision semantics; this
    function adds the write-back half of the loop).

    Replay semantics (``batch_id``, reworked r10 — VERDICT r9 task 6 +
    ADVICE r9): without an id, a replayed already-admitted shard
    CONVERGES but returns no survivors — every row is rejected by its
    own stored copy (the streaming screens' convergence argument),
    which is wrong for an at-least-once caller that persists the
    RETURNED ids.  Pass a stable ``batch_id`` and the function runs a
    three-phase marker protocol under ``{root}/_admitted/<id>``:

    1. **Decide**: after the screens (state untouched), the survivor
       ids + stage counts land in the marker (``ids`` parquet,
       ``counts.json``), then ``_DECIDED`` is touched.  A crash
       anywhere before ``_DECIDED`` replays the full screens against
       the UNTOUCHED state — exact by determinism (and the gate is the
       LAST-written ``_DECIDED`` touch file, so a crash between the
       two decision artifacts can never wedge the replay on a partial
       marker — the ADVICE r9 gate bug).
    2. **Apply**: each state family lands in turn, each followed by an
       ``_applied_<family>`` touch file.  A replay after a crash at
       any inter-family gap finds ``_DECIDED``, skips the screens
       entirely (the decisions are already recorded — a re-screen
       against partially-appended state would self-reject), skips
       every ``_applied`` family, completes the rest, and returns the
       recorded result — no duplicate state rows, no state rebuild
       (the r9 contract required a full ``clean_corpus_states_build``
       here).  The replay must pass the same
       ``batch_docs``/``batch_emb`` (the at-least-once contract).
       The parquet-append families are EXACTLY-ONCE even across the
       gap between a family's job commit and its marker touch (r11,
       VERDICT r10 task 6): each delta stages under the batch marker
       and moves in via idempotent per-file renames
       (:func:`_exactly_once_append`), so the replay's re-run finds
       the files already in place and appends nothing — the r10
       protocol instead re-appended byte-identical duplicates there
       for the delta-aggregating readers to absorb until compaction.
       The ivf family's replay is a structural no-op through
       ``ivf_append_saved``'s index-id anti-join.
    3. **Commit**: ``_COMMITTED`` is touched LAST; a replay that finds
       it returns the recorded result without touching anything.

    Landing order per family follows each state's own crash discipline
    (the minhash delta moves verify-side tables before band rows; the
    substring delta is a pure delta append).

    DRIFT IN THE LOOP (r10): when the semantic IVF tier exists, the
    write-back's ``ivf`` family surfaces ``ann.ivf_append_saved``'s
    drift measurement into ``stats["ivf_drift"]``, and
    ``auto_refit_drift`` (a ratio threshold, e.g.
    ``ann.DRIFT_REFIT_RATIO``) makes the documented refit policy
    AUTOMATIC: when the admitted batch's drift ratio exceeds it, the
    tier rebuilds in place (``ivf_build`` at the stored cell count +
    ``ivf_save`` — sampled fit, bounded cost) so probe recall tracks a
    shifting ingest distribution without operator intervention;
    ``stats["ivf_refit"]`` records that it happened.  On a marker
    replay whose ivf family already applied, no new measurement exists
    and ``stats`` is left without the key."""
    import json as _json
    import time as _time
    from .dedup import (
        cosine_admit_blocked,
        minhash_lsh_pairs_incremental_prepared,
        substring_dedup_incremental,
    )

    from ..functions.fsutil import fs_exists

    marker = (f"{root}/_admitted/{batch_id}"
              if batch_id is not None else None)

    # r13 observability (guide §1): per-stage wall clocks land in
    # ``stats["stage_walls"]`` so the admit loop can be profiled without
    # an event log — measurement only, no behavior change
    _walls: dict[str, float] = {}
    if stats is not None:
        stats["stage_walls"] = _walls
    _t = _time.time()

    def _lap(name: str) -> None:
        nonlocal _t
        now = _time.time()
        _walls[name] = round(now - _t, 3)
        _t = now

    def _recorded():
        from ..functions.fsutil import fs_read_text as _fsr

        ids = spark.read.schema("doc_id long").parquet(f"{marker}/ids")
        recorded = _json.loads(_fsr(spark, f"{marker}/counts.json"))
        return ids, [(s, int(n)) for s, n in recorded]

    if marker is not None and fs_exists(spark, f"{marker}/_COMMITTED"):
        return _recorded()
    if marker is not None and fs_exists(spark, f"{marker}/_DECIDED"):
        # crash mid-write-back: decisions are on record — complete the
        # apply phase (skipping applied families), never re-screen
        k, counts = _recorded()
        k = k.localCheckpoint(eager=True)
        _admit_write_back(spark, root, marker, batch_docs, batch_emb, k,
                          stats=stats, auto_refit_drift=auto_refit_drift)
        return k, counts

    counts: list[tuple[str, int]] = []
    batch = batch_docs.localCheckpoint(eager=True)
    counts.append(("0_batch", batch.count()))
    _lap("0_batch")

    # 1_exact — vs stored digests ∪ within-batch min-id
    bd = batch.select("doc_id", F.md5("text").alias("digest"))
    stored = spark.read.parquet(f"{root}/digests").select("digest") \
        .distinct()
    wmin = bd.groupBy("digest").agg(F.min("doc_id").alias("__mn"))
    k = (
        bd.join(stored, "digest", "left_anti")
        .join(wmin, "digest")
        .filter(F.col("doc_id") == F.col("__mn"))
        .select("doc_id")
        .localCheckpoint(eager=True)
    )
    counts.append(("1_exact", k.count()))
    _lap("1_exact")

    # 2_neardup — vs the persisted MinHash state
    drop_near = minhash_lsh_pairs_incremental_prepared(
        spark, f"{root}/minhash", batch, "text", "doc_id",
        threshold=jaccard_threshold,
    ).select(F.col("new_id").alias("doc_id")).distinct()
    k = k.join(F.broadcast(drop_near), "doc_id", "left_anti") \
        .localCheckpoint(eager=True)
    counts.append(("2_neardup", k.count()))
    _lap("2_neardup")

    # 3_substring — span profile vs corpus ∪ batch through the state
    drop_sub = substring_dedup_incremental(
        spark, f"{root}/substring", batch, "text", "doc_id",
    ).filter(F.col("flag_dup_heavy")).select(F.col("id").alias("doc_id"))
    k = k.join(F.broadcast(drop_sub), "doc_id", "left_anti") \
        .localCheckpoint(eager=True)
    counts.append(("3_substring", k.count()))
    _lap("3_substring")

    # 4/5 — stateless filters
    toks = F.split(F.col("text"), " ")
    distinct_ratio = (F.size(F.array_distinct(toks)).cast("double")
                      / F.size(toks))
    punct_ratio = (
        F.length("text")
        - F.length(F.regexp_replace("text", "[^A-Za-z0-9 ]", ""))
    ).cast("double") / F.length("text")
    k = k.join(batch.filter(
        (distinct_ratio >= min_distinct_ratio)
        & (punct_ratio <= max_punct_ratio)
    ).select("doc_id"), "doc_id", "left_semi").localCheckpoint(eager=True)
    counts.append(("4_quality", k.count()))
    _lap("4_quality")
    k = k.join(batch.filter(F.col("lang").isin(list(langs)))
               .select("doc_id"), "doc_id", "left_semi") \
        .localCheckpoint(eager=True)
    counts.append(("5_lang", k.count()))
    _lap("5_lang")

    # 6_semantic — cosine admit vs the stored embedding set: "exact" =
    # the blocked batch×corpus GEMM (exact, O(batch·corpus) FLOPs);
    # "ivf" = the probe-pruned tier over {root}/ivf (requires
    # states_build(semantic_index_cells=...); probe-bound recall, the
    # 100 TB shape)
    bemb = None
    if batch_emb is not None:
        bemb = batch_emb.select(
            F.col("vec_id").alias("id"),
            F.col("embedding").cast("array<double>").alias("vec"),
        ).localCheckpoint(eager=True)
        if semantic_screen == "ivf":
            from .ann import cosine_admit_ivf, ivf_load

            drop_sem = cosine_admit_ivf(
                bemb.select("id", _normalized_vec(F.col("vec"))
                            .alias("vec")),
                ivf_load(spark, f"{root}/ivf"),
                "vec", "id", semantic_min_cosine, n_probes=n_probes,
            ).select(F.col("id").alias("doc_id"))
        else:
            corpus_vecs = spark.read.parquet(f"{root}/embeddings")
            drop_sem = cosine_admit_blocked(
                bemb.withColumnRenamed("id", "vec_id")
                    .withColumnRenamed("vec", "embedding"),
                corpus_vecs.withColumnRenamed("id", "vec_id")
                    .withColumnRenamed("vec", "embedding"),
                "embedding", "vec_id", semantic_min_cosine,
            ).select(F.col("id").alias("doc_id"))
        k = k.join(F.broadcast(drop_sem), "doc_id", "left_anti") \
            .localCheckpoint(eager=True)
    counts.append(("6_semantic", k.count()))
    _lap("6_semantic")

    # decision record FIRST (phase 1) — the screens above ran against
    # untouched state, so until _DECIDED lands a crash replays them
    # exactly; after it, replays skip straight to the apply phase
    if marker is not None:
        from ..functions.fsutil import fs_touch as _fst
        from ..functions.fsutil import fs_write_text as _fsw

        # r13 (guide §5/§6): the decision record is a tiny long-id list —
        # write ~one file per 5M survivors instead of one near-empty part
        # file per upstream partition, and write counts.json driver-side
        # (atomic tmp+rename): it is ONE json line, and the Spark job
        # that used to ship it through a coalesce(1) text write was pure
        # scheduling overhead in every shard admit.
        n_surv = int(counts[-1][1])
        k.coalesce(max(1, -(-n_surv // 5_000_000))) \
            .write.mode("overwrite").parquet(f"{marker}/ids")
        _fsw(spark, f"{marker}/counts.json", _json.dumps(counts))
        _fst(spark, f"{marker}/_DECIDED")
    # apply + commit (phases 2-3): the survivors join every state table
    # at O(batch), each family behind its own applied marker
    _lap("decide_marker")
    _admit_write_back(spark, root, marker, batch, batch_emb, k,
                      stats=stats, auto_refit_drift=auto_refit_drift)
    _lap("write_back")
    return k, counts


def _digests_delta(root: str, admitted: DataFrame):
    return [(admitted.select(
        F.col("doc_id").alias("id"), F.md5("text").alias("digest")
    ), f"{root}/digests")]


def _embeddings_delta(root: str, batch_emb: DataFrame, k: DataFrame):
    return [(batch_emb.select(
        F.col("vec_id").alias("id"),
        F.col("embedding").cast("array<double>").alias("vec"),
    ).join(k.select(F.col("doc_id").alias("id")), "id", "left_semi"),
        f"{root}/embeddings")]


def _exactly_once_append(spark, staging_root: str,
                         tables: list[tuple[DataFrame, str]]) -> None:
    """Append each ``(delta, dataset_dir)`` EXACTLY ONCE across crash
    replays (r11, VERDICT r10 task 6): the delta is first written to
    ``{staging_root}/<i>`` (skipped when that staged write already
    committed — the protocol-owned ``_STAGED`` marker, touched right
    after the write returns, is the commit record), then its part files
    MOVE into the dataset via atomic per-file renames, each skipped when
    the destination already exists.  Staged file names carry a
    per-attempt UUID, and a replay never re-stages a committed staging
    dir, so a crash at ANY point — mid-stage, mid-move, or between the
    last move and the family marker touch — replays to the same final
    file set with zero duplicate rows.  This closes the r10 residual
    double-append window (parquet job commit → marker touch) that
    previously relied on delta-aggregating/distinct readers to absorb
    byte-identical duplicates until compaction.

    The staged-commit check keys on our OWN ``_STAGED`` marker, not the
    committer's ``_SUCCESS`` (ADVICE r11): with
    ``mapreduce.fileoutputcommitter.marksuccessfuljobs=false`` no
    ``_SUCCESS`` is ever written, so a ``_SUCCESS``-keyed replay after a
    mid-move crash would re-stage fresh UUID part files and duplicate
    every already-moved row.  ``_SUCCESS``, when present, is still
    honored for staging dirs written before this protocol version."""
    from ..functions.fsutil import (
        fs_exists,
        fs_ls,
        fs_mkdirs,
        fs_rename,
        fs_rmtree,
        fs_touch,
    )

    for i, (delta, dataset_dir) in enumerate(tables):
        stage = f"{staging_root}/{i}"
        if not (fs_exists(spark, f"{stage}/_STAGED")
                or fs_exists(spark, f"{stage}/_SUCCESS")):
            fs_rmtree(spark, stage)  # torn previous attempt, if any
            delta.write.mode("overwrite").parquet(stage)
            fs_touch(spark, f"{stage}/_STAGED")
        fs_mkdirs(spark, dataset_dir)
        for name in fs_ls(spark, stage):
            if name.startswith(("_", ".")):
                continue
            dest = f"{dataset_dir}/{name}"
            if not fs_exists(spark, dest):
                fs_rename(spark, f"{stage}/{name}", dest)


def _admit_write_back(spark, root: str, marker: str | None,
                      batch_docs: DataFrame, batch_emb: DataFrame | None,
                      k: DataFrame, stats: dict | None = None,
                      auto_refit_drift: float | None = None) -> None:
    """Phases 2-3 of :func:`clean_corpus_admit_batch`'s marker protocol
    (r10): land the survivors in each state family in a fixed order,
    touching ``{marker}/_applied_<family>`` after each so a replay
    after a crash at any inter-family gap skips the completed families
    and finishes the rest; ``_COMMITTED`` lands last.  With
    ``marker=None`` (no ``batch_id``) each family appends directly and
    no marker is written or read, so a crashed call is not exactly-once
    on replay.

    The parquet-append families (minhash/substring/digests/embeddings)
    go through :func:`_exactly_once_append` (r11): their deltas stage
    under the batch marker and move in with idempotent per-file
    renames, so a crash between the append's job commit and the family
    marker touch no longer leaves duplicate state rows for the replay's
    re-append (the r10 protocol absorbed those via delta-aggregating
    readers until compaction; now they cannot occur).  The ivf family
    keeps its own exactly-once mechanism — ``ivf_append_saved``'s
    index-id anti-join makes its replay a structural no-op."""
    from .dedup import minhash_corpus_state_delta, substring_state_delta

    from ..functions.fsutil import fs_exists, fs_rmtree, fs_touch

    admitted = batch_docs.join(k, "doc_id", "left_semi") \
        .localCheckpoint(eager=True)
    # r13 (guide §6): size the per-batch state delta files by the batch,
    # not by upstream partition count — one file per ~50k admitted docs
    # (state rows per doc are O(shingles/doc) ≈ 100 at ~50 B/row, so a
    # full file lands in the 100-300 MB sweet spot at production batch
    # sizes).  Locally a few-hundred-doc shard appends ONE file per
    # family table instead of one near-empty part file per partition;
    # without this every future shard's state read (and the exactly-once
    # move loop's per-file renames) grows with accumulated file count —
    # the classic small-files spiral the appends were feeding.
    import math as _math

    _n_files = max(1, _math.ceil(admitted.count() / 50_000))

    def _sized(tables):
        return [(df.coalesce(_n_files), d) for df, d in tables]

    staged: list[tuple[str, object]] = [
        ("minhash", lambda: minhash_corpus_state_delta(
            spark, f"{root}/minhash", admitted, "text", "doc_id")),
        ("substring", lambda: substring_state_delta(
            spark, f"{root}/substring", admitted, "text", "doc_id")),
        ("digests", lambda: _digests_delta(root, admitted)),
    ]
    families: list[tuple[str, object]] = []
    if batch_emb is not None:
        staged.append(
            ("embeddings", lambda: _embeddings_delta(root, batch_emb, k)))
        if fs_exists(spark, f"{root}/ivf"):
            # keep the semantic IVF tier in sync at O(batch): the loop
            # KNOWS the admitted vectors, so the batch-form
            # ivf_append_saved assigns exactly them to the EXISTING
            # centroids — no store-diff scan of {root}/embeddings per
            # shard (r10; the store-diff ivf_sync_with_store remains
            # for callers without the batch in hand).  Surface the
            # drift measurement, optionally auto-refit.
            def _sync_ivf():
                from .ann import ivf_append_saved, ivf_build, ivf_save

                admitted_vecs = batch_emb.select(
                    F.col("vec_id").alias("id"),
                    _normalized_vec(F.col("embedding")).alias("vec"),
                ).join(k.select(F.col("doc_id").alias("id")), "id",
                       "left_semi")
                s: dict = {}
                ivf_append_saved(spark, f"{root}/ivf", admitted_vecs,
                                 stats=s)
                if stats is not None and s:
                    stats["ivf_drift"] = s
                if (auto_refit_drift is not None
                        and s.get("drift_ratio", 0.0) > auto_refit_drift):
                    n_cells = spark.read.parquet(
                        f"{root}/ivf/centroids").count()
                    ivf_save(ivf_build(
                        _EmbStateView(spark, root).df(),
                        id_col="id", vec_col="vec", n_cells=n_cells,
                    ), f"{root}/ivf")
                    if stats is not None:
                        stats["ivf_refit"] = True

            families.append(("ivf", _sync_ivf))
    for name, delta_fn in staged:
        if marker is not None and fs_exists(spark,
                                            f"{marker}/_applied_{name}"):
            # a crash between the touch and the staging rmtree leaves an
            # inert, fully-moved staging tree — clean it on the skip
            fs_rmtree(spark, f"{marker}/_staging_{name}")
            continue
        if marker is None:  # no batch_id: plain appends
            for df, dataset_dir in _sized(delta_fn()):
                df.write.mode("append").parquet(dataset_dir)
        else:
            staging = f"{marker}/_staging_{name}"
            _exactly_once_append(spark, staging, _sized(delta_fn()))
            fs_touch(spark, f"{marker}/_applied_{name}")
            fs_rmtree(spark, staging)  # after the touch: a crash between
            # leaves an inert (fully-moved) staging tree the next replay
            # skips via the marker; rmtree-first would let a replay
            # re-stage fresh UUID files and duplicate the moves
    for name, fn in families:
        if marker is not None and fs_exists(spark,
                                            f"{marker}/_applied_{name}"):
            continue
        fn()
        if marker is not None:
            fs_touch(spark, f"{marker}/_applied_{name}")
    if marker is not None:  # the commit point — touched LAST
        fs_touch(spark, f"{marker}/_COMMITTED")
