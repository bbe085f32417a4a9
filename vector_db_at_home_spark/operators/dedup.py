"""Deduplication operators for large-scale training-data pipelines.

Five strategies, all pure DataFrame plans (no Python in the hot path except
where noted), each designed so the shuffle volume stays proportional to the
candidate-pair set, not the full cross product:

- ``exact_dedup``          — hash-groupBy on content digest; one shuffle.
- ``ngram_jaccard_pairs``  — inverted shingle index self-join; exact Jaccard.
- ``minhash_lsh_pairs``    — MinHash signatures + banded LSH candidate
                             generation, verified with exact Jaccard.
- ``simhash_pairs``        — 64-bit SimHash + banded hamming candidates.
- ``cosine_topk_pairs``    — embedding near-dup by cosine, exact pairwise
                             (small-sf oracle baseline only).
- ``cosine_topk_pairs_blocked`` — the exact distributed path: block-GEMM
                             over cogrouped block pairs; no driver collect,
                             no full cartesian product.
- ``cosine_neardup_bucketed`` — the sub-quadratic near-dup path: multi-table
                             random-hyperplane LSH candidates + exact
                             re-rank (candidate volume ∝ colliding pairs).

Scale notes: the inverted-index join is the classic "similarity join via
prefix/inverted index" — at 100 TB add a document-frequency cap on shingles
(drop shingles appearing in > F docs; they only generate useless candidate
pairs) and salt hot shingles.  MinHash banding keeps candidate generation
sub-quadratic; band width trades recall vs candidates.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.distance import cosine_similarity


def _tokens(text_col: str) -> Column:
    return F.split(F.col(text_col), " ")


def _fan_out_small_input(df: DataFrame) -> DataFrame:
    """Fan a small input out to the cluster's parallelism BEFORE the
    shingle explode.  A corpus stored in fewer partitions than cores
    serializes the md5+explode on a handful of tasks (measured at sf0.1:
    the 1-partition documents table put 2×2.3 s of explode on one core —
    the dominant cost of the whole dedup query); repartitioning 5k doc
    rows costs ~nothing.  A LARGE corpus (≥ parallelism partitions) is
    left untouched — repartitioning it would shuffle every raw document,
    exactly what the hashed-shingle design avoids."""
    if df.isStreaming:  # .rdd is undefined for streaming plans
        return df
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def word_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3,
                  max_doc_freq: int | None = None) -> DataFrame:
    """Distinct word n-gram shingles per doc: ``(id, shingle)``.

    ``max_doc_freq`` drops shingles occurring in more than that many docs —
    the standard scale lever (a stop-shingle generates O(df^2) candidate
    pairs but almost never evidences a near-dup).  None = exact.
    """
    toks = _tokens(text_col)
    # guard: Spark sequence(1, 0) yields a DESCENDING [1, 0], not empty —
    # docs shorter than n shingles must produce an empty array explicitly
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    df = _fan_out_small_input(df)
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(starts, lambda i: F.concat_ws(" ", F.slice(toks, i, n)))
        ).alias("shingle"),
    ).distinct()
    if max_doc_freq is not None:
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(
            freq.filter(F.col("df") <= max_doc_freq).select("shingle"), "shingle"
        )
    return sh


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup via content digest: ``(id, canonical_id)`` mapping for
    every row, canonical = min id among identical texts.  One shuffle on the
    digest; at 100 TB hash first so the shuffle key is 32 bytes, not the
    document."""
    digests = df.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("digest")
    )
    canon = digests.groupBy("digest").agg(F.min("id").alias("canonical_id"))
    return digests.join(canon, "digest").select("id", "canonical_id")


def exact_dedup_stats(df: DataFrame, text_col: str) -> DataFrame:
    """One-row dedup summary: total rows, distinct texts, rows that would be
    dropped by exact dedup."""
    return df.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.countDistinct(F.col(text_col)).alias("n_distinct"),
        (F.count(F.lit(1)) - F.countDistinct(F.col(text_col))).alias("n_dup_rows"),
    )


def ngram_jaccard_pairs(df: DataFrame, text_col: str, id_col: str,
                        n: int = 3, threshold: float = 0.5,
                        max_doc_freq: int | None = None) -> DataFrame:
    """Exact n-gram Jaccard similarity join: pairs ``(id_a, id_b, jaccard)``
    with ``jaccard >= threshold`` and ``id_a < id_b``.

    Plan: distinct shingles → sizes per doc → inverted-index self-join on
    shingle (only co-occurring docs pair up) → count = |intersection| →
    ``J = inter / (|A| + |B| - inter)`` (exact rational, cross-engine safe).
    """
    sh = word_shingles(df, text_col, id_col, n, max_doc_freq)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    a = sh.select(F.col("id").alias("id_a"), "shingle")
    b = sh.select(F.col("id").alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sz_a = sizes.select(F.col("id").alias("id_a"), F.col("sz").alias("sz_a"))
    sz_b = sizes.select(F.col("id").alias("id_b"), F.col("sz").alias("sz_b"))
    jac = (
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    )
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .filter(jac >= threshold)
        .select("id_a", "id_b", F.round(jac, 6).alias("jaccard"))
        .orderBy("id_a", "id_b")
    )


NUM_PERM_DEFAULT = 64
BANDS_DEFAULT = 16  # 16 bands x 4 rows over 64 perms

# ---------------------------------------------------------------------------
# Cross-engine hashing: every hash below is md5-derived so the DuckDB oracle
# can compute the IDENTICAL integers (DuckDB has no xxhash64).  Spark uses
# conv(substr(md5(x), off, len), 16, 10); the SQL renderers emit an exact
# hex-digit fold for the same value.  All values are < 2^60, so BIGINT-safe
# in both engines.
# ---------------------------------------------------------------------------


def _md5_h60(col: Column) -> Column:
    """60-bit integer from the first 15 md5 hex digits."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


#: The four 32-bit quarters of one md5 pair into 6 Kirsch–Mitzenmacher
#: families.  A SINGLE ``h1 + i·h2`` family has strongly correlated minima
#: across slots (the element minimizing h1 with a small h2 wins every
#: slot), which collapses the 16 "independent" bands: measured banding
#: recall at J≈0.81 is ~0.90 versus the 0.9998 the independence formula
#: promises.  Six families over distinct quarter pairs restore ~0.997
#: (simulated AND measured at 200k docs) at the cost of zero extra md5
#: calls.  Bands (4 consecutive slots) stay within one family except where
#: they straddle a family boundary — at the default 64 perms / 16 bands the
#: family sizes are 11,11,11,11,10,10 (boundaries at slots 11,22,33,44,54),
#: so FOUR bands straddle two families; the recall simulation models the
#: actual slot→family layout, not an idealized aligned one.
_FAMILY_PAIRS = [
    ("h1", "h2"), ("h3", "h4"), ("h1", "h3"),
    ("h2", "h4"), ("h1", "h4"), ("h2", "h3"),
]


def _perm_specs(num_perm: int) -> list[tuple[str, str, int]]:
    """(quarter_a, quarter_b, multiplier) per signature slot — the single
    source of truth for BOTH the Spark aggregation and the DuckDB oracle
    renderer.  Values stay < 2^32·(1 + 11) < 2^36: BIGINT-exact in both
    engines."""
    n_fam = len(_FAMILY_PAIRS)
    per, extra = divmod(num_perm, n_fam)
    specs: list[tuple[str, str, int]] = []
    for f in range(n_fam):
        qa, qb = _FAMILY_PAIRS[f]
        for r in range(per + (1 if f < extra else 0)):
            specs.append((qa, qb, r + 1))
    return specs


def _sql_hex2int(expr: str, start: int, length: int) -> str:
    """DuckDB rendering of the same hex-digit→integer fold (exact integer
    arithmetic, bit-identical to Spark's conv)."""
    return (
        "list_reduce(list_prepend(CAST(0 AS BIGINT), "
        f"list_transform(range({start}, {start + length}), "
        f"i -> CAST(strpos('0123456789abcdef', substr({expr}, i, 1)) - 1 "
        "AS BIGINT))), (a, b) -> a * 16 + b)"
    )


def hashed_shingles(df: DataFrame, text_col: str, id_col: str, n: int = 3,
                    max_doc_freq: int | None = None) -> DataFrame:
    """Distinct word-n-gram shingles per doc, pre-hashed to integers:
    ``(id, h1, h2, h3, h4, h60)`` (four 32-bit quarters + a 60-bit
    identity hash) with ONE md5 per shingle instance.

    The shingle STRING never crosses a shuffle: hashing happens in the
    explode projection, the distinct and every downstream join carry
    24-byte integer rows.  ``max_doc_freq`` (the stop-shingle cap) is a
    window count over ``h60`` — same partitioning the distinct already
    produced, no extra join.  Exactly reproducible in DuckDB (md5 + hex
    fold), which is what makes the MinHash/SimHash oracles possible.
    """
    from pyspark.sql import Window

    toks = _tokens(text_col)
    starts = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    hx = _fan_out_small_input(df).select(
        F.col(id_col).alias("id"),
        F.explode(
            F.transform(
                starts, lambda i: F.md5(F.concat_ws(" ", F.slice(toks, i, n)))
            )
        ).alias("hx"),
    )
    hs = hx.select(
        "id",
        F.conv(F.substring("hx", 1, 8), 16, 10).cast("long").alias("h1"),
        F.conv(F.substring("hx", 9, 8), 16, 10).cast("long").alias("h2"),
        F.conv(F.substring("hx", 17, 8), 16, 10).cast("long").alias("h3"),
        F.conv(F.substring("hx", 25, 8), 16, 10).cast("long").alias("h4"),
        F.conv(F.substring("hx", 1, 15), 16, 10).cast("long").alias("h60"),
    )
    if max_doc_freq is not None:
        # ONE shuffle for distinct + doc-frequency cap: hash-partitioning by
        # h60 satisfies the distinct's clustered-distribution requirement
        # (h60 ⊆ the grouping keys) AND the window's partitioning — Spark
        # reuses the exchange for both.
        w = Window.partitionBy("h60")
        hs = (
            hs.repartition(F.col("h60"))
            .distinct()
            .withColumn("dfc", F.count(F.lit(1)).over(w))
            .filter(F.col("dfc") <= max_doc_freq)
            .drop("dfc")
        )
    else:
        hs = hs.distinct()
    return hs


def _band_key(rows: int) -> list[str]:
    """Join-key column names of a band row: the band index plus the band's
    ``rows`` raw signature slots.  Earlier rounds hashed the concatenated
    slots into a single ``bhash`` (md5 → 60-bit fold) to get a compact
    key; the hash buys nothing — equal slot tuples ⇔ equal hashes (modulo
    2⁻⁶⁰ false collisions), the slots are already fixed-width longs, and
    dropping the second md5 removes a string build + digest per (doc,
    band) from the hot aggregate AND the hex-fold from the DuckDB oracle.
    The join result is identical (strictly: the raw tuple has no false
    collisions at all)."""
    return ["band"] + [f"k{r}" for r in range(rows)]


def _signature_bands(sh: DataFrame, num_perm: int,
                     bands: int,
                     include_sz: bool = False) -> tuple[DataFrame, DataFrame]:
    """``(band_rows, sizes)`` from hashed shingles: signatures AND set
    sizes in ONE partial-aggregating groupBy (the verify stage needs
    |shingles(doc)| anyway, and a separate count pass would re-shuffle the
    whole set), then the band explode to ``(id, band, k0..k{rows-1})`` —
    raw slot longs, no re-hash (see ``_band_key``).

    Explored alternative (round 7, rejected): fusing the 64 ``min``
    buffers into ONE array buffer via an Arrow grouped-agg pandas UDF
    (``np.vstack(slot_arrays).min(axis=0)``).  Measured at 1M docs
    (tools/profile_minhash_1m.py): sig-only wall 22.3 s → 15.4 s — but
    the executed plan loses map-side partial aggregation entirely
    (``ArrowAggregatePython`` has no partial mode: EVERY shingle row
    crosses the doc-id exchange carrying a 64-long array, ~520 B/row vs
    one partially-agg'd row per doc per partition).  The local win is an
    artifact of local[32]'s in-memory shuffle; on a network-shuffle
    cluster the exchange inflates ~50× and a pathological long doc
    materializes its whole slot-set in one Arrow batch (the same
    unbounded-row OOM shape the round-4 collect_set verify fusion was
    rejected for).  At sf0.1 the whole signature stage is ~0.06 s on top
    of the shingle pass (tools/profile_minhash.py) — not the bottleneck.
    The 64-buffer expression form stays.

    ``include_sz=True`` (r12) additionally carries the doc's shingle-set
    size ``sz`` on every band row (+8 B/row through the band self-join)
    so the caller's verify tail never joins a separate sizes table:
    Catalyst column pruning rewrites the "shared" sizes branch of the
    ONE groupBy into its own ``partial_count``-only aggregate (measured
    in the r12 plan capture: a second full pass over the shingle
    exchange + an extra groupBy(id) shuffle + two join stages), so the
    documented sharing never actually happened at runtime.  The state
    writers keep ``include_sz=False`` — the persisted band-table format
    is unchanged."""
    rows = num_perm // bands
    agg_cols = [
        F.min(F.col(qa) + mult * F.col(qb)).alias(f"h{i}")
        for i, (qa, qb, mult) in enumerate(_perm_specs(num_perm))
    ] + [F.count(F.lit(1)).alias("sz")]
    sig_sz = sh.groupBy("id").agg(*agg_cols)
    sizes = sig_sz.select("id", "sz")
    band_rows = sig_sz.select(
        "id",
        *(["sz"] if include_sz else []),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        *[
                            F.col(f"h{b * rows + r}").alias(f"k{r}")
                            for r in range(rows)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bk"),
    ).select("id", *(["sz"] if include_sz else []),
             *[f"bk.{c}" for c in _band_key(rows)])
    return band_rows, sizes


def minhash_lsh_pairs(df: DataFrame, text_col: str, id_col: str,
                      n: int = 3, threshold: float = 0.5,
                      num_perm: int = NUM_PERM_DEFAULT,
                      bands: int = BANDS_DEFAULT,
                      max_doc_freq: int | None = None,
                      max_band_bucket: int | None = None) -> DataFrame:
    """Near-dup pairs via MinHash + banded LSH, verified with exact Jaccard.

    Candidate pairs come from equal band hashes (band = r consecutive
    signature slots, r = num_perm / bands); each candidate is then verified
    against the true shingle sets, so the output has NO false positives —
    LSH only bounds recall.  Shuffles: the shingle distinct, one id-keyed
    exchange shared by the signature aggregate and both verify sides, the
    band self-join, and the verify join.  The full cross product never
    forms.

    Scale levers (both replicated exactly by the DuckDB oracle):

    - ``max_doc_freq``: drop shingles present in more than that many docs
      (stop-shingles generate O(df²) candidates but almost never evidence a
      near-dup).
    - ``max_band_bucket``: skip band buckets holding more than that many
      docs — the hot-bucket guard: a viral boilerplate band would otherwise
      self-join quadratically.  Pairs in an oversized bucket are still found
      via their other ``bands-1`` bands unless they collide there too.

    Output: ``(id_a, id_b, jaccard_e6)`` with the verified Jaccard scaled to
    an integer (``floor(j*1e6 + 0.5)``) — cross-engine hash-stable.

    Explored alternative (round 4, rejected): folding the verify into the
    signature pass via ``collect_set(h60)`` + ``array_intersect`` on the
    candidate pairs — result-identical, one fewer aggregation and join
    stage, measured only ~7% faster at sf0.1 (6.1 vs 6.6 s).  Rejected
    because it materializes each doc's whole shingle set as ONE array row
    through the signature exchange: a pathological long doc becomes a
    single giant row (the classic executor-OOM shape), whereas the
    join-verify streams shingle rows and is robust to unbounded doc
    lengths — the safer 100 TB default for a 7% local win.
    """
    # hashed shingles feed both the signature pass and the exact-verify
    # pass.  No cache: the shingle subplan ends in exchanges (the h60
    # distinct shuffle inside ``hashed_shingles``, then the id-keyed
    # repartition below) that are IDENTICAL in every consumer path, so
    # exchange reuse serves all consumers from the same shuffle files.
    # Measured at sf0.1 (round 4-7): 6.3-6.7 s uncached vs 9.7-13.2 s
    # with a ``.cache()`` on the exploded table (block-manager writes of
    # the wide shingle rows cost more than the reuse saves), and nothing
    # pins executor memory after the query completes — the hygiene is
    # structural, not a caller contract.
    #
    # CAVEAT (measured): exchange-reuse canonicalization does NOT dedupe
    # subplans whose source is an InMemoryRelation — if ``df`` is a
    # ``.cache()``d DataFrame the shingle pipeline re-executes per consumer
    # (~1.3× wall/shuffle at 50k docs).  Pass a file-backed df (the shape a
    # production corpus has anyway); the scale smokes write their synthetic
    # corpus to parquet for exactly this reason.
    from pyspark.sql import Window

    sh = hashed_shingles(df, text_col, id_col, n, max_doc_freq)
    # ONE id-keyed exchange feeds all three shingle consumers (signature
    # aggregate, verify side a, verify side b) — r12, guide §2.3/§2.4.
    # Before it, each consumer re-read the h60 exchange and re-ran the
    # distinct + doc-frequency window per reference (2 × ~2.5 s CPU at
    # sf0.1), and one consumer even re-ran the md5 explode (AQE exchange
    # reuse missed one of the four identical subplans — r12 plan
    # capture).  The id exchange also carries 48 B raw shingle rows where
    # the signature path's partial-aggregate shuffle carried ~520 B rows
    # (64 min-buffers per doc per upstream partition, h60-partitioned so
    # a doc's shingles spread over most partitions and partial
    # aggregation barely reduced the row count): at corpus scale this is
    # ~8× fewer shuffle bytes, locally it halves the dedup stage count.
    sh = sh.repartition(F.col("id"))
    band_rows, _ = _signature_bands(sh, num_perm, bands, include_sz=True)
    key = _band_key(num_perm // bands)
    if max_band_bucket is not None:
        # hot-bucket guard as a window count — the window's band-key
        # partitioning is exactly the self-join key, so the exchange is
        # reused rather than adding an aggregate+join round trip
        wb = Window.partitionBy(*key)
        band_rows = (
            band_rows.withColumn("bucket_n", F.count(F.lit(1)).over(wb))
            .filter(F.col("bucket_n") <= max_band_bucket)
            .drop("bucket_n")
        )
    # sz rides the band rows (+8 B/row) so the verify tail needs no
    # separate sizes table: the "shared" sizes branch was rewritten by
    # column pruning into its own partial_count aggregate at runtime —
    # a second pass over the shingle exchange, one more groupBy(id)
    # shuffle and two result joins, all removed here (r12).
    a = band_rows.select(F.col("id").alias("id_a"),
                         F.col("sz").alias("sz_a"), *key)
    b = band_rows.select(F.col("id").alias("id_b"),
                         F.col("sz").alias("sz_b"), *key)
    candidates = (
        a.join(b, key)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", "sz_a", "sz_b")
        .distinct()
    )
    # exact-Jaccard verification restricted to candidates; shingle identity
    # is the 60-bit hash (cross-engine identical, so the oracle replicates
    # collisions too, in the 2^-60 event one occurs).  The h60 projection
    # keeps a no-op arithmetic dependency on h1..h4 (exact: the sum fits a
    # long and ``x + 0`` is the integer identity) so Catalyst cannot prune
    # the verify branch's copy of the shingle subtree down to (id, h60):
    # pruned, its exchanges canonicalize differently from the signature
    # branch's and the md5 explode + distinct + doc-frequency window all
    # re-execute for the verify side (r12 plan capture measured the
    # duplicate at ~5 s CPU / rep at sf0.1); un-pruned, every consumer
    # reads the ONE id-keyed exchange above.
    h60_full = (
        F.col("h60")
        + (F.col("h1") + F.col("h2") + F.col("h3") + F.col("h4")) * F.lit(0)
    ).alias("h60")
    sa = sh.select(F.col("id").alias("id_a"), h60_full)
    sb = sh.select(F.col("id").alias("id_b"), h60_full)
    inter = (
        candidates.join(sa, "id_a")
        .join(sb, ["id_b", "h60"])
        .groupBy("id_a", "id_b", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = (
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    )
    result = (
        inter.filter(jac >= threshold)
        .select(
            "id_a", "id_b",
            F.floor(jac * 1e6 + F.lit(0.5)).cast("long").alias("jaccard_e6"),
        )
        .orderBy("id_a", "id_b")
    )
    return result


def minhash_lsh_pairs_incremental(new_df: DataFrame, corpus_df: DataFrame,
                                  text_col: str, id_col: str,
                                  n: int = 3, threshold: float = 0.5,
                                  num_perm: int = NUM_PERM_DEFAULT,
                                  bands: int = BANDS_DEFAULT,
                                  max_doc_freq: int | None = None,
                                  max_band_bucket: int | None = None
                                  ) -> DataFrame:
    """Near-dups of a NEW batch against an EXISTING corpus:
    ``(new_id, corpus_id, jaccard_e6)`` — the production ingest shape.

    Re-running the self-join dedup to admit a 1 TB batch into a 100 TB
    corpus re-pairs the whole corpus; this joins the new batch's band
    hashes against the corpus's instead, so the corpus is scanned once and
    NEVER self-joined — candidate volume is only the cross-side band
    collisions.  At production scale, persist the corpus band table and
    shingle table once (both are pure column derivations, partitioned by
    band hash / shingle hash) and maintenance per accepted batch is an
    append.

    Semantics match ``minhash_lsh_pairs`` on the concatenated corpus,
    restricted to cross-side pairs: same signatures, banding and
    exact-Jaccard verification.  ``max_doc_freq`` measures shingle
    document frequency on the CORPUS (the side large enough to have
    stop-shingles) and drops hot shingles from BOTH sides, keeping the
    verified Jaccard consistent over the capped universe.
    ``max_band_bucket`` skips hot CORPUS band buckets.
    """
    from pyspark.sql import Window

    sh_new = hashed_shingles(new_df, text_col, id_col, n, None)
    sh_cor = hashed_shingles(corpus_df, text_col, id_col, n, None)
    if max_doc_freq is not None:
        hot = (
            sh_cor.groupBy("h60").agg(F.count(F.lit(1)).alias("dfc"))
            .filter(F.col("dfc") > max_doc_freq)
            .select("h60")
        )
        sh_new = sh_new.join(hot, "h60", "left_anti")
        sh_cor = sh_cor.join(hot, "h60", "left_anti")
    # r13 (VERDICT r12 task 4): the headline path's r12 fix, ported — one
    # explicit id-keyed exchange PER SIDE shared by that side's signature
    # aggregate and verify consumer (guide §2.3/§2.4; raw 48 B shingle
    # rows instead of ~520 B partial-agg signature buffers), sz riding
    # the band rows so the separate sizes subtrees and their two result
    # joins are gone, and the verify projections keeping the no-op
    # h1..h4 dependency so column pruning cannot de-canonicalize the
    # verify branch's copy of each exchange (see minhash_lsh_pairs).
    sh_new = sh_new.repartition(F.col("id"))
    sh_cor = sh_cor.repartition(F.col("id"))
    bn, _ = _signature_bands(sh_new, num_perm, bands, include_sz=True)
    bc, _ = _signature_bands(sh_cor, num_perm, bands, include_sz=True)
    key = _band_key(num_perm // bands)
    if max_band_bucket is not None:
        wb = Window.partitionBy(*key)
        bc = (
            bc.withColumn("bucket_n", F.count(F.lit(1)).over(wb))
            .filter(F.col("bucket_n") <= max_band_bucket)
            .drop("bucket_n")
        )
    candidates = (
        bn.select(F.col("id").alias("new_id"),
                  F.col("sz").alias("sz_a"), *key)
        .join(bc.select(F.col("id").alias("corpus_id"),
                        F.col("sz").alias("sz_b"), *key), key)
        .select("new_id", "corpus_id", "sz_a", "sz_b")
        .distinct()
    )
    h60_full = (
        F.col("h60")
        + (F.col("h1") + F.col("h2") + F.col("h3") + F.col("h4")) * F.lit(0)
    ).alias("h60")
    inter = (
        candidates.join(
            sh_new.select(F.col("id").alias("new_id"), h60_full), "new_id"
        )
        .join(
            sh_cor.select(F.col("id").alias("corpus_id"), h60_full),
            ["corpus_id", "h60"],
        )
        # sz_a/sz_b are functionally dependent on the ids, so grouping
        # semantics are unchanged
        .groupBy("new_id", "corpus_id", "sz_a", "sz_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    jac = (
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    )
    result = (
        inter.filter(jac >= threshold)
        .select(
            "new_id", "corpus_id",
            F.floor(jac * 1e6 + F.lit(0.5)).cast("long").alias("jaccard_e6"),
        )
        .orderBy("new_id", "corpus_id")
    )
    return result


def minhash_corpus_state_build(corpus_df: DataFrame, path: str,
                               text_col: str, id_col: str,
                               n: int = 3,
                               num_perm: int = NUM_PERM_DEFAULT,
                               bands: int = BANDS_DEFAULT,
                               max_doc_freq: int | None = None,
                               max_band_bucket: int | None = None) -> None:
    """Materialize the corpus-side MinHash state to ``path`` — the thing
    that makes batch ingest O(batch), not O(corpus).

    ``minhash_lsh_pairs_incremental`` is semantically the ingest shape but
    recomputes the corpus's shingles/signatures every batch (measured at
    1M docs: a 50k admit cost ≈ a full self-join dedup).  The production
    loop instead pays the corpus derivation ONCE:

    - ``{path}/shingles`` — capped ``(id, h60)`` (the verify side);
    - ``{path}/bands``    — post-bucket-cap ``(id, band, k0..k{r-1})``
      raw-slot band rows (``_band_key``);
    - ``{path}/sizes``    — ``(id, sz)`` capped shingle-set sizes;
    - ``{path}/hot``      — the stop-shingle ``h60`` list (so future
      batches drop the same shingles and Jaccard stays consistent);
    - ``{path}/meta.json`` — the parameters, enforced at read time.

    Per admitted batch, ``minhash_corpus_state_append`` appends the
    batch's rows to these tables — no corpus rescan anywhere.  Rebuild
    (re-evaluating caps) on your compaction cadence.
    """
    from pyspark.sql import Window

    from .maintenance import write_meta

    spark = corpus_df.sparkSession
    sh_all = hashed_shingles(corpus_df, text_col, id_col, n, None)
    # r13 (guide §1.2): the build fans ONE shingle derivation into four
    # separate ACTIONS (the hot-list write, then the bands / sizes /
    # shingles table writes) and exchange reuse does not span jobs — so
    # the md5 explode + distinct ran up to 4× per build.  Checkpoint the
    # hashed shingles once; every downstream job is then an aggregate or
    # broadcast anti-join over the materialized 48 B/row table.  Content
    # is unchanged (the checkpoint is plan-transparent), and the build is
    # the bulk one-time path where materializing the shingle set is the
    # cheaper side of the trade at any scale.
    sh_all = sh_all.localCheckpoint(eager=True)
    if max_doc_freq is not None:
        hot = (
            sh_all.groupBy("h60").agg(F.count(F.lit(1)).alias("dfc"))
            .filter(F.col("dfc") > max_doc_freq)
            .select("h60")
        )
    else:
        hot = spark.createDataFrame([], "h60 long")
    hot.write.mode("overwrite").parquet(f"{path}/hot")
    hot_r = spark.read.parquet(f"{path}/hot")
    sh = sh_all.join(F.broadcast(hot_r), "h60", "left_anti")
    band_rows, sizes = _signature_bands(sh, num_perm, bands)
    if max_band_bucket is not None:
        wb = Window.partitionBy(*_band_key(num_perm // bands))
        band_rows = (
            band_rows.withColumn("n", F.count(F.lit(1)).over(wb))
            .filter(F.col("n") <= max_band_bucket)
            .drop("n")
        )
    band_rows.write.mode("overwrite").parquet(f"{path}/bands")
    sizes.write.mode("overwrite").parquet(f"{path}/sizes")
    sh.select("id", "h60").write.mode("overwrite").parquet(f"{path}/shingles")
    write_meta(spark, f"{path}/meta.json",
               {"n": n, "num_perm": num_perm, "bands": bands,
                "max_doc_freq": max_doc_freq,
                "max_band_bucket": max_band_bucket})


#: The appended MinHash state tables ``minhash_corpus_state_compact``
#: rewrites (``hot`` and the meta are written once, at build).
_MINHASH_APPENDED = ("shingles", "sizes", "bands")


def _read_minhash_state(spark, path: str):
    """(meta, shingles, bands, sizes, hot) of a persisted state, after
    ``maintenance.recover_compact_crash`` heals each appended table (a
    crash inside ``minhash_corpus_state_compact``'s swap)."""
    from .maintenance import read_meta, recover_compact_crash

    meta = read_meta(spark, f"{path}/meta.json")
    for name in _MINHASH_APPENDED:
        recover_compact_crash(spark, f"{path}/{name}")
    return (
        meta,
        spark.read.parquet(f"{path}/shingles"),
        spark.read.parquet(f"{path}/bands"),
        spark.read.parquet(f"{path}/sizes"),
        spark.read.parquet(f"{path}/hot"),
    )


def minhash_lsh_pairs_incremental_prepared(spark, state_path: str,
                                           new_df: DataFrame,
                                           text_col: str, id_col: str,
                                           threshold: float = 0.5
                                           ) -> DataFrame:
    """``(new_id, corpus_id, jaccard_e6)`` of a new batch against the
    PERSISTED corpus state (``minhash_corpus_state_build``): only the
    batch is exploded/signed; the corpus contributes pre-computed band
    and shingle tables read from parquet.  Identical results to
    ``minhash_lsh_pairs_incremental`` on the same corpus/parameters
    (pytest-pinned); cost ∝ batch + band collisions."""
    meta, cor_sh, cor_bands, cor_sizes, hot = _read_minhash_state(
        spark, state_path)
    sh_new = hashed_shingles(new_df, text_col, id_col, meta["n"], None) \
        .join(F.broadcast(hot), "h60", "left_anti")
    # r13 (VERDICT r12 task 4): the headline path's fix applied to the
    # BATCH side — one id-keyed exchange shared by the batch's signature
    # aggregate and its verify consumer (guide §2.3/§2.4), sz riding the
    # batch band rows so the separate sz_new subtree and its result join
    # are gone, and the verify projection keeping the no-op h1..h4
    # dependency so pruning cannot de-canonicalize its copy of the
    # exchange (see minhash_lsh_pairs).  The CORPUS side reads persisted
    # parquet tables — no recomputed subtree exists there, and the state
    # layout is unchanged (sz_b still joins from {path}/sizes).
    sh_new = sh_new.repartition(F.col("id"))
    bn, _ = _signature_bands(sh_new, meta["num_perm"], meta["bands"],
                             include_sz=True)
    key = _band_key(meta["num_perm"] // meta["bands"])
    candidates = (
        bn.select(F.col("id").alias("new_id"),
                  F.col("sz").alias("sz_a"), *key)
        .join(cor_bands.select(F.col("id").alias("corpus_id"), *key), key)
        .select("new_id", "corpus_id", "sz_a")
        .distinct()
    )
    h60_full = (
        F.col("h60")
        + (F.col("h1") + F.col("h2") + F.col("h3") + F.col("h4")) * F.lit(0)
    ).alias("h60")
    inter = (
        candidates.join(
            sh_new.select(F.col("id").alias("new_id"), h60_full), "new_id"
        )
        .join(cor_sh.select(F.col("id").alias("corpus_id"), "h60"),
              ["corpus_id", "h60"])
        # sz_a is functionally dependent on new_id — grouping unchanged
        .groupBy("new_id", "corpus_id", "sz_a")
        # count DISTINCT h60, not rows: shingle sets are distinct per id in
        # a clean state (identical result), but a crash between a state
        # append and its replay marker can leave one batch's shingle rows
        # duplicated — distinct keeps the Jaccard exact under that window
        # instead of silently inflating it (rebuild = full recovery)
        .agg(F.count_distinct("h60").alias("inter"))
    )
    jac = (
        F.col("inter").cast("double")
        / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
    )
    return (
        inter.join(cor_sizes.select(F.col("id").alias("corpus_id"),
                                    F.col("sz").alias("sz_b")), "corpus_id")
        .filter(jac >= threshold)
        .select(
            "new_id", "corpus_id",
            F.floor(jac * 1e6 + F.lit(0.5)).cast("long").alias("jaccard_e6"),
        )
        .orderBy("new_id", "corpus_id")
    )


def minhash_corpus_state_append(spark, state_path: str,
                                admitted_df: DataFrame,
                                text_col: str, id_col: str) -> None:
    """Admit a batch into the persisted state: append its (hot-capped)
    shingles, band rows and sizes — no corpus rescan.  The stop-shingle
    and bucket caps stay as built (re-evaluated on rebuild, the standard
    compaction-cadence tradeoff).

    The three appends are not one atomic commit (plain parquet; a
    transactional table format would close this).  Writes are ordered so a
    mid-sequence failure degrades safely: shingles and sizes (the VERIFY
    side) land BEFORE bands (the candidate-GENERATING side) — a partial
    state can then only carry verify rows whose band rows never arrived
    (those docs miss future candidate generation until rebuild, surfaced
    by row-count drift), never band rows whose candidates silently vanish
    at the verify joins (ADVICE r4).  ``minhash_corpus_state_build`` is
    the recovery path for any suspected partial append.

    For EXACTLY-ONCE appends across crash replays use
    :func:`minhash_corpus_state_delta` with the admit loop's staged
    protocol (``pipeline._exactly_once_append``, r11)."""
    for df, dataset_dir in minhash_corpus_state_delta(
            spark, state_path, admitted_df, text_col, id_col):
        df.write.mode("append").parquet(dataset_dir)


def minhash_corpus_state_delta(spark, state_path: str,
                               admitted_df: DataFrame,
                               text_col: str, id_col: str
                               ) -> list[tuple[DataFrame, str]]:
    """The batch's state delta as ``(frame, dataset_dir)`` pairs in the
    safe write order (verify side before the candidate-generating
    bands — the ADVICE r4 ordering ``minhash_corpus_state_append``
    documents).  Deterministic in the state: the only state read is the
    frozen hot-shingle list, so recomputing the delta on a crash replay
    yields identical rows."""
    meta, _cs, _cb, _cz, hot = _read_minhash_state(spark, state_path)
    sh = hashed_shingles(admitted_df, text_col, id_col, meta["n"], None) \
        .join(F.broadcast(hot), "h60", "left_anti")
    # r13 (guide §1.2): the three delta tables are written by three
    # SEPARATE jobs, and exchange reuse does not span jobs — without a
    # checkpoint each write re-ran the batch's md5 explode + distinct +
    # hot anti-join (3× the shingle pass per admitted batch, measured in
    # the admit-loop profile).  The checkpoint is O(batch shingles) and
    # recomputing it on a crash replay yields identical rows, so the
    # delta determinism contract is unchanged.
    sh = sh.localCheckpoint(eager=True)
    band_rows, sizes = _signature_bands(sh, meta["num_perm"], meta["bands"])
    return [
        (sh.select("id", "h60"), f"{state_path}/shingles"),
        (sizes, f"{state_path}/sizes"),
        (band_rows, f"{state_path}/bands"),
    ]


def minhash_corpus_state_compact(spark, state_path: str,
                                 target_partitions: int = 32) -> None:
    """Rewrite the persisted state's three appended tables into
    ``target_partitions`` files each — the cheap ops middle path between
    per-batch appends (which accumulate small files) and a full
    ``minhash_corpus_state_build`` rebuild (which re-derives shingles and
    re-evaluates the frozen caps).  Pure rewrite: no recompute, hot list
    and meta untouched, content identical (pytest-pinned).  Each table
    goes through ``maintenance.replace_table``; ``recover_compact_crash``
    (run per table on every state read and here) heals both crash
    windows, so readers always find a complete state."""
    from .maintenance import recover_compact_crash, replace_table

    for name in _MINHASH_APPENDED:
        cur = f"{state_path}/{name}"
        recover_compact_crash(spark, cur)
        replace_table(spark, cur, spark.read.parquet(cur)
                      .repartition(target_partitions).write)


def _sql_hashed_shingle_cte(max_doc_freq: int | None, n: int = 3) -> str:
    """DuckDB CTEs producing the same distinct hashed shingle set
    ``(id, h1, h2, h3, h4, h60)`` as ``hashed_shingles`` (md5 at explode time,
    distinct on the integer tuple, window-count doc-frequency cap)."""
    base = f"""
toks AS (SELECT doc_id AS id, string_split(text, ' ') AS t FROM documents),
shx AS (SELECT id, md5(array_to_string(list_slice(t, i, i + {n - 1}), ' ')) AS hx
        FROM toks, unnest(range(1, len(t) - {n - 2})) AS r(i)),
sh0 AS (SELECT DISTINCT id, {_sql_hex2int('hx', 1, 8)} AS h1,
               {_sql_hex2int('hx', 9, 8)} AS h2,
               {_sql_hex2int('hx', 17, 8)} AS h3,
               {_sql_hex2int('hx', 25, 8)} AS h4,
               {_sql_hex2int('hx', 1, 15)} AS h60
        FROM shx)"""
    if max_doc_freq is None:
        return base + ",\nsh AS (SELECT * FROM sh0)"
    return base + f""",
sh AS (SELECT id, h1, h2, h3, h4, h60 FROM
         (SELECT sh0.*, count(*) OVER (PARTITION BY h60) AS dfc FROM sh0)
       WHERE dfc <= {max_doc_freq})"""


def render_minhash_lsh_sql(n: int = 3, threshold: float = 0.5,
                           num_perm: int = NUM_PERM_DEFAULT,
                           bands: int = BANDS_DEFAULT,
                           max_doc_freq: int | None = None,
                           max_band_bucket: int | None = None) -> str:
    """DuckDB oracle for ``minhash_lsh_pairs`` over the ``documents`` table —
    the exact same md5-derived permutations, banding, bucket cap and verify
    join, so the output matches the Spark plan value-for-value."""
    rows = num_perm // bands
    mins = ", ".join(
        f"min({qa} + {mult} * {qb}) AS h{i}"
        for i, (qa, qb, mult) in enumerate(_perm_specs(num_perm))
    )
    keys = ", ".join(f"k{r}" for r in range(rows))
    band_selects = " UNION ALL ".join(
        f"SELECT id, {b} AS band, "
        + ", ".join(f"h{b * rows + r} AS k{r}" for r in range(rows))
        + " FROM sig"
        for b in range(bands)
    )
    key_eq = " AND ".join(
        [f"a.band = b.band"] + [f"a.k{r} = b.k{r}" for r in range(rows)]
    )
    bucket_cap = ""
    bd_src = "bd0"
    if max_band_bucket is not None:
        bucket_cap = f""",
bd AS (SELECT id, band, {keys} FROM
         (SELECT bd0.*, count(*) OVER (PARTITION BY band, {keys}) AS bucket_n
          FROM bd0)
       WHERE bucket_n <= {max_band_bucket})"""
        bd_src = "bd"
    return f"""
WITH {_sql_hashed_shingle_cte(max_doc_freq, n)},
sig AS (SELECT id, {mins}, count(*) AS sz FROM sh GROUP BY id),
bd0 AS ({band_selects}){bucket_cap},
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
         FROM {bd_src} a JOIN {bd_src} b
           ON {key_eq} AND a.id < b.id),
inter AS (SELECT cand.id_a, cand.id_b, count(*) AS ic
          FROM cand
          JOIN sh sa ON sa.id = cand.id_a
          JOIN sh sb ON sb.id = cand.id_b AND sb.h60 = sa.h60
          GROUP BY cand.id_a, cand.id_b),
jac AS (SELECT id_a, id_b,
               CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) AS j
        FROM inter
        JOIN sig sa ON sa.id = id_a
        JOIN sig sb ON sb.id = id_b)
SELECT id_a, id_b, CAST(floor(j * 1000000 + 0.5) AS BIGINT) AS jaccard_e6
FROM jac WHERE j >= {threshold} ORDER BY id_a, id_b
"""


def render_minhash_incremental_sql(batch_pred: str, corpus_pred: str,
                                   n: int = 3, threshold: float = 0.5,
                                   num_perm: int = NUM_PERM_DEFAULT,
                                   bands: int = BANDS_DEFAULT,
                                   max_doc_freq: int | None = None,
                                   max_band_bucket: int | None = None) -> str:
    """DuckDB oracle for ``minhash_lsh_pairs_incremental`` where the new
    batch and the corpus are predicate-defined slices of ``documents`` —
    the same md5 permutations, corpus-side doc-frequency cap (dropping hot
    shingles from BOTH sides), corpus-side band-bucket cap, batch×corpus
    band join and exact verify, value-for-value."""
    rows = num_perm // bands
    mins = ", ".join(
        f"min({qa} + {mult} * {qb}) AS h{i}"
        for i, (qa, qb, mult) in enumerate(_perm_specs(num_perm))
    )

    def _shingle_ctes(prefix: str, pred: str) -> str:
        return f"""
{prefix}toks AS (SELECT doc_id AS id, string_split(text, ' ') AS t
                 FROM documents WHERE {pred}),
{prefix}shx AS (SELECT id, md5(array_to_string(list_slice(t, i, i + {n - 1}), ' ')) AS hx
                FROM {prefix}toks, unnest(range(1, len(t) - {n - 2})) AS r(i)),
{prefix}sh0 AS (SELECT DISTINCT id, {_sql_hex2int('hx', 1, 8)} AS h1,
                       {_sql_hex2int('hx', 9, 8)} AS h2,
                       {_sql_hex2int('hx', 17, 8)} AS h3,
                       {_sql_hex2int('hx', 25, 8)} AS h4,
                       {_sql_hex2int('hx', 1, 15)} AS h60
                FROM {prefix}shx)"""

    keys = ", ".join(f"k{r}" for r in range(rows))
    key_eq = " AND ".join(
        ["a.band = b.band"] + [f"a.k{r} = b.k{r}" for r in range(rows)]
    )

    def _band_selects(sig: str) -> str:
        return " UNION ALL ".join(
            f"SELECT id, {b} AS band, "
            + ", ".join(f"h{b * rows + r} AS k{r}" for r in range(rows))
            + f" FROM {sig}"
            for b in range(bands)
        )

    if max_doc_freq is not None:
        cap = f""",
hot AS (SELECT h60 FROM (SELECT h60, count(*) AS dfc FROM csh0 GROUP BY h60)
        WHERE dfc > {max_doc_freq}),
nsh AS (SELECT * FROM nsh0 WHERE h60 NOT IN (SELECT h60 FROM hot)),
csh AS (SELECT * FROM csh0 WHERE h60 NOT IN (SELECT h60 FROM hot))"""
    else:
        cap = """,
nsh AS (SELECT * FROM nsh0),
csh AS (SELECT * FROM csh0)"""
    bucket_cap = ""
    cbd_src = "cbd0"
    if max_band_bucket is not None:
        bucket_cap = f""",
cbd AS (SELECT id, band, {keys} FROM
          (SELECT cbd0.*, count(*) OVER (PARTITION BY band, {keys}) AS bucket_n
           FROM cbd0)
        WHERE bucket_n <= {max_band_bucket})"""
        cbd_src = "cbd"
    return f"""
WITH {_shingle_ctes('n', batch_pred)},
{_shingle_ctes('c', corpus_pred).lstrip()}{cap},
nsig AS (SELECT id, {mins}, count(*) AS sz FROM nsh GROUP BY id),
csig AS (SELECT id, {mins}, count(*) AS sz FROM csh GROUP BY id),
nbd AS ({_band_selects('nsig')}),
cbd0 AS ({_band_selects('csig')}){bucket_cap},
cand AS (SELECT DISTINCT a.id AS new_id, b.id AS corpus_id
         FROM nbd a JOIN {cbd_src} b
           ON {key_eq}),
inter AS (SELECT cand.new_id, cand.corpus_id, count(*) AS ic
          FROM cand
          JOIN nsh sa ON sa.id = cand.new_id
          JOIN csh sb ON sb.id = cand.corpus_id AND sb.h60 = sa.h60
          GROUP BY cand.new_id, cand.corpus_id),
jac AS (SELECT new_id, corpus_id,
               CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic) AS j
        FROM inter
        JOIN nsig sa ON sa.id = new_id
        JOIN csig sb ON sb.id = corpus_id)
SELECT new_id, corpus_id, CAST(floor(j * 1000000 + 0.5) AS BIGINT) AS jaccard_e6
FROM jac WHERE j >= {threshold} ORDER BY new_id, corpus_id
"""


SIMHASH_BITS = 60  # md5-derived 60-bit hash (15 hex digits — BIGINT-safe
#                    in both engines; 16 digits could overflow signed 64)


def _band_bounds(nbands: int, bits: int = SIMHASH_BITS) -> list[tuple[int, int]]:
    """Split ``bits`` into ``nbands`` contiguous (offset, width) chunks with
    widths differing by at most 1 — the pigeonhole partition."""
    base, extra = divmod(bits, nbands)
    bounds, off = [], 0
    for b in range(nbands):
        w = base + (1 if b < extra else 0)
        bounds.append((off, w))
        off += w
    return bounds


def simhash60(df: DataFrame, text_col: str, id_col: str,
              n: int = 3) -> DataFrame:
    """60-bit SimHash per doc over word n-gram shingles: ``(id, simhash)``.

    Per distinct shingle, each of the 60 bits of the md5-derived hash votes
    ±1; the fingerprint sets bit k where the vote sum is positive.  Shingles
    (not unigrams) are the feature set: with a small shared vocabulary,
    distinct-unigram sets collide for unrelated docs, while n-gram sets
    mirror the Jaccard ground truth.  The hash is md5-derived (not xxhash64)
    so the DuckDB oracle computes identical fingerprints.

    Plan shape: NO bit explode — the 60 per-bit vote sums are 60 conditional
    ``sum((h>>k)&1)`` columns in ONE map-combined groupBy (the ±1 vote sum
    being positive ⟺ ``2*ones_k > n_shingles``), so the only shuffle
    carries one 61-column row per doc, not 60 rows per shingle.
    """
    h = hashed_shingles(df, text_col, id_col, n).select(
        "id", F.col("h60").alias("h")
    )
    aggs = [
        F.sum(
            F.shiftright(F.col("h"), k).bitwiseAND(F.lit(1)).cast("long")
        ).alias(f"s{k}")
        for k in range(SIMHASH_BITS)
    ] + [F.count(F.lit(1)).alias("n")]
    ones = h.groupBy("id").agg(*aggs)
    fingerprint = None
    for k in range(SIMHASH_BITS):
        bit = F.when(
            F.col(f"s{k}") * 2 > F.col("n"), F.lit(1 << k).cast("long")
        ).otherwise(F.lit(0).cast("long"))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return ones.select("id", fingerprint.alias("simhash"))


def simhash_pairs(df: DataFrame, text_col: str, id_col: str,
                  max_hamming: int = 5) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.

    Candidate generation by the pigeonhole band trick: split the 60 bits
    into ``max_hamming + 1`` bands; any pair within distance ``max_hamming``
    agrees exactly on at least one band, so a self-join per band finds all
    of them without a cross product.  Verification is ``bit_count(XOR)``.
    """
    bands = _simhash_bands(simhash60(df, text_col, id_col), max_hamming)
    a = bands.select(
        F.col("id").alias("id_a"), F.col("simhash").alias("sh_a"), "band", "bkey"
    )
    b = bands.select(
        F.col("id").alias("id_b"), F.col("simhash").alias("sh_b"), "band", "bkey"
    )
    return (
        a.join(b, ["band", "bkey"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("id_a", "id_b")
    )


def _simhash_bands(sig: DataFrame, max_hamming: int) -> DataFrame:
    """Pigeonhole band rows ``(id, simhash, band, bkey)`` for a
    fingerprint table — shared by the self-join and incremental paths."""
    bounds = _band_bounds(max_hamming + 1)
    return sig.select(
        "id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.shiftrightunsigned(F.col("simhash"), off)
                        .bitwiseAND(F.lit((1 << w) - 1))
                        .alias("bkey"),
                    )
                    for b, (off, w) in enumerate(bounds)
                ]
            )
        ).alias("bk"),
    ).select("id", "simhash", "bk.band", "bk.bkey")


def simhash_pairs_incremental(new_df: DataFrame, corpus_df: DataFrame,
                              text_col: str, id_col: str,
                              max_hamming: int = 5,
                              n: int = 3) -> DataFrame:
    """``(new_id, corpus_id, hamming)`` of a new batch against the corpus
    by SimHash — the SimHash ingest shape next to
    ``minhash_lsh_pairs_incremental``: the corpus is fingerprinted and
    banded but NEVER self-joined; candidates are batch-band × corpus-band
    collisions only, verify is ``bit_count(XOR)``.  Fingerprints are
    per-doc (no cross-doc caps), so incremental ≡ the full self-join
    restricted to cross pairs, exactly."""
    bn = _simhash_bands(
        simhash60(new_df, text_col, id_col, n), max_hamming
    ).select(F.col("id").alias("new_id"), F.col("simhash").alias("sh_a"),
             "band", "bkey")
    bc = _simhash_bands(
        simhash60(corpus_df, text_col, id_col, n), max_hamming
    ).select(F.col("id").alias("corpus_id"),
             F.col("simhash").alias("sh_b"), "band", "bkey")
    return (
        bn.join(bc, ["band", "bkey"])
        .select(
            "new_id", "corpus_id",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("new_id", "corpus_id")
    )


def simhash_state_build(corpus_df: DataFrame, path: str,
                        text_col: str, id_col: str,
                        n: int = 3) -> None:
    """Persist the corpus fingerprints ``(id, simhash)`` — the SimHash
    analog of ``minhash_corpus_state_build``, but trivially cheap: the
    state is ONE 16-byte row per doc, fingerprints are per-doc (no frozen
    caps), and append ≡ rebuild exactly."""
    from .maintenance import write_meta

    spark = corpus_df.sparkSession
    simhash60(corpus_df, text_col, id_col, n).write.mode("overwrite") \
        .parquet(f"{path}/fingerprints")
    write_meta(spark, f"{path}/meta.json", {"n": n})


def simhash_state_append(spark, path: str, admitted_df: DataFrame,
                         text_col: str, id_col: str) -> None:
    """Fold an admitted batch's fingerprints into the persisted state —
    one parquet append of ``(id, simhash)`` rows, O(batch)."""
    from .maintenance import read_meta

    meta = read_meta(spark, f"{path}/meta.json")
    simhash60(admitted_df, text_col, id_col, meta["n"]) \
        .write.mode("append").parquet(f"{path}/fingerprints")


def simhash_pairs_incremental_prepared(spark, path: str,
                                       new_df: DataFrame,
                                       text_col: str, id_col: str,
                                       max_hamming: int = 5) -> DataFrame:
    """``(new_id, corpus_id, hamming)`` of a batch against the PERSISTED
    fingerprint state: only the batch is shingled/fingerprinted; the
    corpus contributes its stored 16-byte rows.  Identical to
    ``simhash_pairs_incremental`` on the same corpus (per-doc
    fingerprints), cost ∝ batch + band collisions."""
    from .maintenance import read_meta

    meta = read_meta(spark, f"{path}/meta.json")
    bn = _simhash_bands(
        simhash60(new_df, text_col, id_col, meta["n"]), max_hamming
    ).select(F.col("id").alias("new_id"), F.col("simhash").alias("sh_a"),
             "band", "bkey")
    bc = _simhash_bands(
        spark.read.parquet(f"{path}/fingerprints"), max_hamming
    ).select(F.col("id").alias("corpus_id"),
             F.col("simhash").alias("sh_b"), "band", "bkey")
    return (
        bn.join(bc, ["band", "bkey"])
        .select(
            "new_id", "corpus_id",
            F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
        .orderBy("new_id", "corpus_id")
    )


def render_simhash_incremental_sql(batch_pred: str, corpus_pred: str,
                                   n: int = 3,
                                   max_hamming: int = 5) -> str:
    """DuckDB oracle for the SimHash ingest shape: fingerprints over ALL
    documents (per-doc, corpus-independent), then batch-slice ×
    corpus-slice band join + hamming verify — value-for-value."""
    nbands = max_hamming + 1
    bounds = _band_bounds(nbands)
    band_rows = ", ".join(
        f"({b}, {off}, {(1 << w) - 1})" for b, (off, w) in enumerate(bounds)
    )
    ones = ", ".join(
        f"sum((h >> {k}) & 1) AS s{k}" for k in range(SIMHASH_BITS)
    )
    fp_sum = " + ".join(
        f"CASE WHEN s{k} * 2 > n THEN CAST({1 << k} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END"
        for k in range(SIMHASH_BITS)
    )
    return f"""
WITH {_sql_hashed_shingle_cte(None, n)},
hs AS (SELECT id, h60 AS h FROM sh),
ones AS (SELECT id, {ones}, count(*) AS n FROM hs GROUP BY id),
fp AS (SELECT id, {fp_sum} AS simhash FROM ones),
bspec(band, boff, bmask) AS (VALUES {band_rows}),
bd AS (SELECT id, simhash, band, (simhash >> boff) & bmask AS bkey
       FROM fp, bspec),
cand AS (SELECT DISTINCT a.id AS new_id, b.id AS corpus_id,
                bit_count(xor(a.simhash, b.simhash)) AS hamming
         FROM bd a JOIN bd b
           ON a.band = b.band AND a.bkey = b.bkey
         WHERE a.id IN (SELECT doc_id FROM documents WHERE {batch_pred})
           AND b.id IN (SELECT doc_id FROM documents WHERE {corpus_pred}))
SELECT new_id, corpus_id, CAST(hamming AS BIGINT) AS hamming
FROM cand WHERE hamming <= {max_hamming} ORDER BY new_id, corpus_id
"""


def render_simhash_sql(n: int = 3, max_hamming: int = 5) -> str:
    """DuckDB oracle for ``simhash_pairs`` over ``documents`` — identical
    md5-derived 60-bit fingerprints, pigeonhole bands and hamming verify."""
    nbands = max_hamming + 1
    bounds = _band_bounds(nbands)
    band_rows = ", ".join(
        f"({b}, {off}, {(1 << w) - 1})" for b, (off, w) in enumerate(bounds)
    )
    ones = ", ".join(
        f"sum((h >> {k}) & 1) AS s{k}" for k in range(SIMHASH_BITS)
    )
    fp_sum = " + ".join(
        f"CASE WHEN s{k} * 2 > n THEN CAST({1 << k} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END"
        for k in range(SIMHASH_BITS)
    )
    return f"""
WITH {_sql_hashed_shingle_cte(None, n)},
hs AS (SELECT id, h60 AS h FROM sh),
ones AS (SELECT id, {ones}, count(*) AS n FROM hs GROUP BY id),
fp AS (SELECT id, {fp_sum} AS simhash FROM ones),
bspec(band, boff, bmask) AS (VALUES {band_rows}),
bd AS (SELECT id, simhash, band, (simhash >> boff) & bmask AS bkey
       FROM fp, bspec),
cand AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b,
                bit_count(xor(a.simhash, b.simhash)) AS hamming
         FROM bd a JOIN bd b
           ON a.band = b.band AND a.bkey = b.bkey AND a.id < b.id)
SELECT id_a, id_b, CAST(hamming AS BIGINT) AS hamming
FROM cand WHERE hamming <= {max_hamming} ORDER BY id_a, id_b
"""


def cross_corpus_contamination(corpus: DataFrame, bench: DataFrame,
                               n: int = 8, threshold: float = 0.5,
                               corpus_text: str = "text",
                               corpus_id: str = "doc_id",
                               bench_text: str = "text",
                               bench_id: str = "doc_id",
                               max_doc_freq: int | None = None) -> DataFrame:
    """Benchmark decontamination: flag training docs that overlap an eval
    set.  The standard recipe (long n-grams, containment scoring — public
    knowledge from GPT-2/3 and The Pile decontamination write-ups): a
    corpus doc is contaminated when a large fraction of some benchmark
    doc's n-grams appear inside it.

    Output: ``(corpus_id, bench_id, overlap, containment)`` for pairs with
    ``containment = |shared n-grams| / |bench n-grams| >= threshold``.

    Plan: both sides go through the same md5-hashed shingle projection as
    the dedup suite (strings never shuffle), then an inverted-index join on
    the shingle hash — work ∝ matching shingles, never |corpus|×|bench|.
    ``max_doc_freq`` caps ubiquitous corpus shingles, the same scale lever
    as near-dup.  The benchmark side is typically tiny → its shingle set
    broadcasts.
    """
    csh = hashed_shingles(corpus, corpus_text, corpus_id, n, max_doc_freq) \
        .select(F.col("id").alias("corpus_id"), "h60")
    bsh = hashed_shingles(bench, bench_text, bench_id, n, None) \
        .select(F.col("id").alias("bench_id"), "h60")
    bsz = bsh.groupBy("bench_id").agg(F.count(F.lit(1)).alias("bench_sz"))
    inter = (
        csh.join(F.broadcast(bsh), "h60")
        .groupBy("corpus_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("overlap"))
    )
    containment = F.col("overlap").cast("double") / F.col("bench_sz")
    return (
        inter.join(F.broadcast(bsz), "bench_id")
        .filter(containment >= threshold)
        .select(
            "corpus_id", "bench_id", "overlap",
            F.floor(containment * 1e6 + F.lit(0.5)).cast("long")
            .alias("containment_e6"),
        )
        .orderBy("corpus_id", "bench_id")
    )


def decontaminate(corpus: DataFrame, bench: DataFrame, n: int = 8,
                  threshold: float = 0.5, corpus_text: str = "text",
                  corpus_id: str = "doc_id", bench_text: str = "text",
                  bench_id: str = "doc_id",
                  max_doc_freq: int | None = None) -> DataFrame:
    """The cleaning form: corpus minus contaminated docs (left anti join
    on the flagged ids)."""
    flagged = cross_corpus_contamination(
        corpus, bench, n, threshold, corpus_text, corpus_id,
        bench_text, bench_id, max_doc_freq,
    ).select(F.col("corpus_id").alias(corpus_id)).distinct()
    return corpus.join(flagged, corpus_id, "left_anti")


def cosine_topk_pairs(df: DataFrame, vec_col: str, id_col: str,
                      k: int = 20) -> DataFrame:
    """Top-k most-similar embedding pairs by cosine — exact pairwise.

    O(N^2) distances but only the global top-k survives
    (TakeOrderedAndProject — nothing materializes the pair matrix).  For
    N beyond ~10^5 use ``cosine_neardup_bucketed`` (LSH candidates +
    exact re-rank) or ``cosine_topk_pairs_blocked``.
    """
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )
    a = vecs.select(F.col("id").alias("id_a"), F.col("v").alias("va"))
    b = vecs.select(F.col("id").alias("id_b"), F.col("v").alias("vb"))
    pairs = a.crossJoin(b).filter(F.col("id_a") < F.col("id_b"))
    sim = cosine_similarity("va", "vb")
    return (
        pairs.select("id_a", "id_b", F.round(sim, 6).alias("cosine"))
        .orderBy(F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc())
        .limit(k)
    )


def _derive_n_blocks(n_rows: int, target_block_rows: int,
                     lo: int = 8, hi: int = 512) -> int:
    """Auto block count for the packed-GEMM kernels (VERDICT r9 task 3
    — the SemDeDup auto-cells pattern): ``clamp(ceil(n_rows /
    target_block_rows), lo, hi)`` keeps the resident block ≈
    ``target_block_rows`` rows at any corpus size instead of N/8
    growing linearly with the data.  ``lo = 8`` preserves the historic
    small-corpus behavior (and its task parallelism); above the ``hi``
    clamp blocks grow again — but at 512·8192 ≈ 4M rows the O(N²)
    exact kernel is the wrong tool regardless (use the LSH/IVF tiers)."""
    import math

    return min(max(math.ceil(n_rows / max(1, target_block_rows)), lo), hi)


def cosine_topk_pairs_blocked(df: DataFrame, vec_col: str, id_col: str,
                              k: int = 20, n_blocks: int | None = None,
                              target_block_rows: int = 8192) -> DataFrame:
    """Exact top-k cosine pairs, fully distributed — the mid-scale path.

    The all-pairs GEMM is decomposed into block pairs: rows hash into
    ``n_blocks`` blocks; each block is PACKED once into a single row
    holding its normalized matrix as a binary blob (so the Arrow/pandas
    per-vector conversion cost is paid once, not once per block pair);
    every unordered block pair joins its two blobs and computes one NumPy
    block×block product, emitting only its local top-k; a global top-k
    merges.  Nothing touches the driver and the plan contains no cartesian
    product of the full table — the shuffles are N narrow rows (pack) plus
    ``B(B+1)/2`` blob rows (≈ the matrix replicated B times, in coarse
    blobs rather than per-row).  ``n_blocks=None`` (the default since
    r10) derives ``clamp(ceil(N / target_block_rows), 8, 512)`` from
    one count, so the resident block stays ≈ ``target_block_rows``
    rows × dim doubles at ANY corpus size — a fixed block count means
    block size N/B grows linearly with the data and the per-task bound
    silently degrades at 100× (VERDICT r9 task 3).  The block count is
    result-invariant (pytest-pinned).  O(N²) FLOPs remain inherent to
    *exact* all-pairs; beyond ~10⁶ rows use ``cosine_neardup_bucketed``.
    """
    import numpy as np

    if n_blocks is None:
        n_blocks = _derive_n_blocks(df.count(), target_block_rows)

    v = df.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).cast("array<double>").alias("v"),
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).cast("int").alias("blk"),
    )

    # Stage 1 — pack: each block becomes ONE row holding its ids and its
    # L2-normalized matrix as binary blobs.  The expensive Arrow/pandas
    # conversion of N array rows happens exactly once, here.
    def pack(key, pdf):
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mat = mat / norms
        return pd.DataFrame({
            "blk": [int(key[0])],
            "n": [len(ids)],
            "dim": [int(mat.shape[1])],
            "ids": [ids.tobytes()],
            "mat": [mat.tobytes()],
        })

    packed = v.groupBy("blk").applyInPandas(
        pack, schema="blk int, n long, dim long, ids binary, mat binary"
    )

    # Stage 2 — every unordered block pair (gi <= gj) picks up its two
    # blobs via equi-joins against the tiny key table: B(B+1)/2 rows total,
    # never a per-vector replication.
    spark = df.sparkSession
    keys = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "gi int, gj int",
    )
    a = packed.select(
        F.col("blk").alias("gi"), F.col("n").alias("a_n"),
        F.col("dim").alias("a_dim"), F.col("ids").alias("a_ids"),
        F.col("mat").alias("a_mat"),
    )
    b = packed.select(
        F.col("blk").alias("gj"), F.col("n").alias("b_n"),
        F.col("dim").alias("b_dim"), F.col("ids").alias("b_ids"),
        F.col("mat").alias("b_mat"),
    )
    pairs = a.join(F.broadcast(keys), "gi").join(b, "gj")

    # Stage 3 — per-pair NumPy GEMM, local top-k only.
    def gemm(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                ia = np.frombuffer(r.a_ids, dtype=np.int64)
                a_m = np.frombuffer(r.a_mat, dtype=np.float64).reshape(
                    r.a_n, r.a_dim)
                ib = np.frombuffer(r.b_ids, dtype=np.int64)
                b_m = np.frombuffer(r.b_mat, dtype=np.float64).reshape(
                    r.b_n, r.b_dim)
                # chunked GEMM: the sims tile stays cache-sized instead of
                # materializing the full |A|×|B| matrix (memory-bandwidth,
                # not FLOPs, dominates this kernel at block sizes ~10⁴)
                buf = max(4 * k, k)
                chunk = max(1, (1 << 22) // max(1, b_m.shape[0]))
                c_vals, c_pa, c_pb = [], [], []
                for s in range(0, a_m.shape[0], chunk):
                    sims = a_m[s:s + chunk] @ b_m.T
                    if r.gi == r.gj:
                        # self pair: keep each unordered pair once
                        # (strict upper triangle) via a -2 sentinel
                        sims[ia[s:s + chunk, None] >= ib[None, :]] = -2.0
                    flat = sims.ravel()
                    # tie-COMPLETE cutoff: keep every cell at-or-above the
                    # buf-th largest value, never a value-only argpartition
                    # truncation — with >buf tied cosines (the all-identical
                    # dedup degenerate) an argpartition keeps an arbitrary
                    # tied subset and the result diverges from the exact
                    # expression path.  The true chunk top-k all have
                    # value >= that cutoff (buf >= k), so the deterministic
                    # (−cosine, id_a, id_b) lexsort below sees every tied
                    # contender and truncation to k is exact.
                    if flat.size > buf:
                        cut = np.partition(flat, flat.size - buf)[
                            flat.size - buf]
                        cand = np.nonzero(flat >= cut)[0]
                    else:
                        cand = np.arange(flat.size)
                    svals = flat[cand]
                    keep = svals > -1.5  # drop sentinel cells
                    cand, svals = cand[keep], svals[keep]
                    if svals.size == 0:
                        continue
                    cra, crb = np.unravel_index(cand, sims.shape)
                    pa = np.minimum(ia[cra + s], ib[crb])
                    pb = np.maximum(ia[cra + s], ib[crb])
                    # exact per-chunk top-k by the total order — bounds the
                    # cross-chunk buffer at k rows per chunk even when a
                    # chunk is all ties
                    order = np.lexsort((pb, pa, -svals))[:k]
                    c_vals.append(svals[order])
                    c_pa.append(pa[order])
                    c_pb.append(pb[order])
                if not c_vals:
                    continue
                svals = np.concatenate(c_vals)
                pa = np.concatenate(c_pa)
                pb = np.concatenate(c_pb)
                # merge the per-chunk top-k lists under the same total order
                order = np.lexsort((pb, pa, -svals))[:k]
                yield pd.DataFrame({
                    "id_a": pa[order],
                    "id_b": pb[order],
                    "cosine": np.round(svals[order], 6),
                })

    out = pairs.repartition(n_blocks * (n_blocks + 1) // 2).mapInPandas(
        gemm, schema="id_a long, id_b long, cosine double"
    )
    return out.orderBy(
        F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    ).limit(k)


def cosine_admit_blocked(new_df: DataFrame, corpus_df: DataFrame,
                         vec_col: str, id_col: str,
                         min_cosine: float,
                         n_blocks: int | None = None,
                         target_block_rows: int = 8192) -> DataFrame:
    """Two-relation EXACT cosine admit screen — the SemDeDup-style
    vs-corpus rejection a production pipeline runs when a new shard
    arrives: return the DISTINCT new-side ids whose cosine against ANY
    corpus vector reaches ``min_cosine`` (the caller anti-joins them
    out).  This is the batch-ingest sibling of the same-table
    ``cosine_topk_pairs_blocked`` kernel above and of the streaming
    screen (streaming/neardup.py) — exact, so it pairs with a
    brute-force SQL oracle.

    Plan: both sides pack into ``n_blocks`` single-row blobs (ids +
    L2-normalized float64 matrix — the Arrow conversion paid once per
    block); every new-block × corpus-block pair joins its two blobs and
    runs one chunked NumPy GEMM, emitting only the new ids that hit the
    threshold in that block pair; a final distinct merges.  Shuffle =
    2N narrow pack rows + B_new·B_cor blob rows; nothing touches the
    driver; resident memory ≤ 2 blocks per task.  O(batch·corpus)
    FLOPs are inherent to an EXACT screen — at 100 TB either bound the
    batch (ingest cadence) or pre-screen with the IVF/sign-LSH tiers
    and verify exactly, as the streaming path does.  Zero-norm vectors
    score 0 against everything (the ``norms == 0 → 1`` guard), matching
    the SQL oracle's ``CASE WHEN na*nb = 0 THEN 0`` convention.

    ``n_blocks=None`` (the default since r10) derives each side's
    block count INDEPENDENTLY — ``clamp(ceil(side_rows /
    target_block_rows), 8, 512)`` from one count per side — so a small
    batch screening against a huge corpus keeps both resident matrices
    ≈ ``target_block_rows`` rows at any scale (a shared fixed count
    means corpus blocks grow linearly with the corpus; VERDICT r9
    task 3).  Block counts are result-invariant (pytest-pinned); an
    explicit ``n_blocks`` applies to both sides."""
    import numpy as np

    a_blocks = (n_blocks if n_blocks is not None
                else _derive_n_blocks(new_df.count(), target_block_rows))
    b_blocks = (n_blocks if n_blocks is not None
                else _derive_n_blocks(corpus_df.count(), target_block_rows))

    def side(df, col_name, nb):
        return df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            F.pmod(F.xxhash64(F.col(id_col)), F.lit(nb))
            .cast("int").alias(col_name),
        )

    def pack(key, pdf):
        ids = pdf["id"].to_numpy(dtype=np.int64)
        mat = np.vstack(pdf["v"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mat = mat / norms
        return pd.DataFrame({
            "blk": [int(key[0])],
            "n": [len(ids)],
            "dim": [int(mat.shape[1])],
            "ids": [ids.tobytes()],
            "mat": [mat.tobytes()],
        })

    schema = "blk int, n long, dim long, ids binary, mat binary"
    a = side(new_df, "blk", a_blocks).groupBy("blk") \
        .applyInPandas(pack, schema) \
        .select(F.col("blk").alias("gi"), F.col("n").alias("a_n"),
                F.col("dim").alias("a_dim"), F.col("ids").alias("a_ids"),
                F.col("mat").alias("a_mat"))
    b = side(corpus_df, "blk", b_blocks).groupBy("blk") \
        .applyInPandas(pack, schema) \
        .select(F.col("blk").alias("gj"), F.col("n").alias("b_n"),
                F.col("dim").alias("b_dim"), F.col("ids").alias("b_ids"),
                F.col("mat").alias("b_mat"))
    pairs = a.crossJoin(b)  # B_new × B_cor blob rows — the block grid

    tau = float(min_cosine)

    def gemm(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                ia = np.frombuffer(r.a_ids, dtype=np.int64)
                a_m = np.frombuffer(r.a_mat, dtype=np.float64).reshape(
                    r.a_n, r.a_dim)
                b_m = np.frombuffer(r.b_mat, dtype=np.float64).reshape(
                    r.b_n, r.b_dim)
                hit = np.zeros(len(ia), dtype=bool)
                chunk = max(1, (1 << 22) // max(1, b_m.shape[0]))
                for s in range(0, a_m.shape[0], chunk):
                    sims = a_m[s:s + chunk] @ b_m.T
                    hit[s:s + chunk] = (sims >= tau).any(axis=1)
                if hit.any():
                    yield pd.DataFrame({"id": ia[hit]})

    n_pairs = a_blocks * b_blocks
    return pairs.repartition(n_pairs).mapInPandas(
        gemm, schema="id long"
    ).distinct()


def hyperplane_bucket_candidates(df: DataFrame, vec_col: str, id_col: str,
                                 n_planes: int = 16, n_tables: int = 4,
                                 seed: int = 42,
                                 max_bucket: int | None = None) -> DataFrame:
    """Multi-table sign-LSH candidate pairs ``(id_a, id_b)`` for cosine.

    Each table projects onto ``n_planes`` Gaussian hyperplanes (seeded NumPy,
    vectorized GEMM in an Arrow-batched pandas UDF — no per-row Python); the
    sign pattern is the bucket (Charikar, "Similarity Estimation Techniques
    from Rounding Algorithms", STOC 2002 — public knowledge).  A pair at angle θ collides in one table with
    probability ``(1 − θ/π)^n_planes``; ``n_tables`` independent tables turn
    per-table recall r into ``1 − (1−r)^T``.  Candidates = distinct
    same-bucket pairs, so volume tracks actual collisions, never N².

    ``max_bucket`` drops buckets larger than the cap (the hot-bucket guard —
    a degenerate bucket of B rows alone contributes O(B²) pairs).
    """
    import numpy as np
    from pyspark.sql.types import ArrayType, LongType

    @F.pandas_udf(ArrayType(LongType()))
    def buckets(vecs: pd.Series) -> pd.Series:
        if len(vecs) == 0:
            return pd.Series([], dtype=object)
        mat = np.vstack(vecs.to_numpy()).astype(np.float64)
        dim = mat.shape[1]
        out = np.zeros((mat.shape[0], n_tables), dtype=np.int64)
        for t in range(n_tables):
            rng = np.random.default_rng(seed + 7919 * t)
            planes = rng.standard_normal((n_planes, dim))
            bits = (mat @ planes.T) > 0
            out[:, t] = bits @ (1 << np.arange(n_planes, dtype=np.int64))
        return pd.Series(list(out))

    b = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(buckets(F.col(vec_col))).alias("tbl", "bucket"),
    )
    if max_bucket is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("tbl", "bucket")
        b = b.withColumn("__n", F.count(F.lit(1)).over(w)) \
             .filter(F.col("__n") <= max_bucket).drop("__n")
    left = b.select(F.col("tbl"), F.col("bucket"), F.col("id").alias("id_a"))
    right = b.select(F.col("tbl"), F.col("bucket"), F.col("id").alias("id_b"))
    return (
        left.join(right, ["tbl", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def cosine_neardup_bucketed(df: DataFrame, vec_col: str, id_col: str,
                            min_cosine: float = 0.9, k: int | None = None,
                            n_planes: int = 16, n_tables: int = 4,
                            seed: int = 42,
                            max_bucket: int | None = 10_000) -> DataFrame:
    """Embedding near-dup pairs at scale: LSH candidates + exact re-rank.

    ``hyperplane_bucket_candidates`` restricts the pair space to same-bucket
    collisions, then each candidate is re-scored with the exact cosine
    expression and filtered at ``min_cosine`` — so precision is exact and
    only recall depends on (n_planes, n_tables).  This is the 100 TB shape:
    every stage is a keyed join or aggregation, shuffle ∝ candidates, no
    driver-side data, no cartesian product.  Tune n_planes up to thin random
    collisions (fewer candidates) and n_tables up to recover recall.
    """
    import numpy as np

    cand = hyperplane_bucket_candidates(
        df, vec_col, id_col, n_planes=n_planes, n_tables=n_tables,
        seed=seed, max_bucket=max_bucket,
    )
    vecs = df.select(
        F.col(id_col).alias("id"),
        F.transform(F.col(vec_col), lambda x: x.cast("double")).alias("v"),
    )

    # vectorized exact re-rank: the interpreted aggregate/zip_with cosine
    # expression costs ~28 µs per pair (measured: 2 s for 72k candidates
    # at sf0.1); the Arrow-batched NumPy row-wise dot does the same exact
    # float64 math ~10× faster per batch
    @F.pandas_udf("double")
    def cos_batch(va: pd.Series, vb: pd.Series) -> pd.Series:
        if len(va) == 0:
            return pd.Series([], dtype=float)
        A = np.vstack(va.to_numpy()).astype(np.float64)
        B = np.vstack(vb.to_numpy()).astype(np.float64)
        num = np.einsum("ij,ij->i", A, B)
        d = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
        return pd.Series(np.where(d == 0, 0.0, num / np.where(d == 0, 1.0, d)))

    scored = (
        cand.join(vecs.select(F.col("id").alias("id_a"),
                              F.col("v").alias("va")), "id_a")
        .join(vecs.select(F.col("id").alias("id_b"),
                          F.col("v").alias("vb")), "id_b")
        .select("id_a", "id_b",
                F.round(cos_batch("va", "vb"), 6).alias("cosine"))
        .filter(F.col("cosine") >= min_cosine)
    )
    out = scored.orderBy(
        F.col("cosine").desc(), F.col("id_a").asc(), F.col("id_b").asc()
    )
    return out.limit(k) if k is not None else out


# ---------------------------------------------------------------------------
# Exact substring deduplication (Lee et al. 2021, "Deduplicating Training
# Data Makes Language Models Better" — public).  The paper finds duplicate
# token SPANS (their suffix-array threshold: 50 BPE tokens) rather than
# duplicate documents: boilerplate, licenses and templated text repeat
# verbatim inside otherwise-distinct pages, and document-level MinHash
# never sees them.  Spark-first re-expression: every length-W token window
# hashes at the scan (md5 executor-side, like hashed_shingles), so the
# corpus-wide duplicate-span count is two keyed aggregations over
# fixed-width rows — no suffix array, no sort of the whole corpus, and the
# O(N) shuffle carries (hash, id) pairs only.
# ---------------------------------------------------------------------------

def _span_windows(text_col: str, window: int) -> Column:
    """Array of all length-``window`` token windows of ``lower(text)``,
    each rendered back to a space-joined string.  Empty for docs shorter
    than ``window`` tokens (F.sequence would count DOWN for a negative
    extent — the guard is load-bearing)."""
    toks = F.split(F.lower(F.col(text_col)), " ")
    n = F.size(toks) - window + 1
    wins = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat_ws(" ", F.slice(toks, i, window)),
    )
    return F.when(n >= 1, wins).otherwise(F.array().cast("array<string>"))


def substring_dedup_stats(df: DataFrame, text_col: str, id_col: str,
                          window: int = 8) -> DataFrame:
    """Per-document exact-substring duplication profile.

    For every document: ``n_spans`` (total length-``window`` token
    windows), ``n_dup_spans`` (window occurrences whose hash appears ≥ 2
    times corpus-wide — within-doc self-repetition counts, exactly as a
    suffix array would see it), ``n_crossdoc_spans`` (occurrences whose
    hash appears in ≥ 2 distinct documents), and ``flag_dup_heavy``
    (≥ 20% of spans duplicated — the cheap "mostly boilerplate" triage
    bit).  All counts are integers; the whole result value-hashes.

    Plan: windows hash to md5 AT THE SCAN, so span text never shuffles
    anywhere.  Two partial-agg groupBys — (hash, id) then (hash) — plus
    one hash-keyed join back and a final groupBy(id).  Every shuffled row
    is (32-char hash, long, long); the width is constant in W and
    independent of document length, which is what lets the same plan run
    at 100 TB."""
    ids = df.select(F.col(id_col).alias("id"))
    base = _fan_out_small_input(
        df.select(F.col(id_col).alias("id"),
                  _span_windows(text_col, window).alias("wins"))
    )
    ex = base.select(
        "id", F.explode(F.transform(F.col("wins"), F.md5)).alias("h")
    )
    per_doc = ex.groupBy("h", "id").agg(F.count(F.lit(1)).alias("c"))
    g = per_doc.groupBy("h").agg(
        F.sum("c").alias("occ"), F.count(F.lit(1)).alias("ndocs")
    )
    j = per_doc.join(g, "h")
    stats = j.groupBy("id").agg(
        F.sum("c").cast("long").alias("n_spans"),
        F.sum(F.when(F.col("occ") >= 2, F.col("c")).otherwise(0))
        .cast("long").alias("n_dup_spans"),
        F.sum(F.when(F.col("ndocs") >= 2, F.col("c")).otherwise(0))
        .cast("long").alias("n_crossdoc_spans"),
    )
    out = ids.join(stats, "id", "left").select(
        "id",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.coalesce("n_crossdoc_spans", F.lit(0)).alias("n_crossdoc_spans"),
    )
    return out.select(
        "*",
        ((F.col("n_spans") > 0)
         & (5 * F.col("n_dup_spans") >= F.col("n_spans")))
        .alias("flag_dup_heavy"),
    ).orderBy("id")


def substring_dedup_spans(df: DataFrame, text_col: str, id_col: str,
                          window: int = 8, k: int = 20) -> DataFrame:
    """The duplicated spans themselves — the diagnostic report a human
    reads to find the boilerplate worth stripping.  Returns the top-``k``
    most-repeated length-``window`` token spans as ``(span, occ,
    ndocs)``, ranked ``(occ DESC, span ASC)``.

    Unlike :func:`substring_dedup_stats` (the production pass), span TEXT
    must survive to the output here, so it rides the first groupBy — but
    a span is exactly ``window`` tokens, so the shuffled width is bounded
    by W words, not by document length; the second aggregation and
    everything after see one row per distinct hash."""
    base = _fan_out_small_input(
        df.select(F.col(id_col).alias("id"),
                  _span_windows(text_col, window).alias("wins"))
    )
    ex = base.select("id", F.explode("wins").alias("span"))
    per_doc = (
        ex.select("id", "span", F.md5("span").alias("h"))
        .groupBy("h", "id")
        .agg(F.count(F.lit(1)).alias("c"), F.min("span").alias("mspan"))
    )
    g = per_doc.groupBy("h").agg(
        F.sum("c").cast("long").alias("occ"),
        F.count(F.lit(1)).cast("long").alias("ndocs"),
        F.min("mspan").alias("span"),
    )
    return (
        g.filter(F.col("occ") >= 2)
        .select("span", "occ", "ndocs")
        .orderBy(F.col("occ").desc(), F.col("span").asc())
        .limit(k)
    )


def render_substring_stats_sql(window: int = 8,
                               out_predicate: str = "TRUE") -> str:
    """DuckDB oracle for ``substring_dedup_stats`` over ``documents`` —
    identical window/hash derivation, identical integer bookkeeping.
    ``out_predicate`` restricts the OUTPUT rows only (duplication still
    counts corpus-wide) — the predicate-split oracle for
    ``substring_dedup_incremental``: the full computation over
    corpus ∪ batch, keeping the batch's rows."""
    return f"""
WITH base AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS toks FROM documents
),
w AS (
  SELECT id,
         md5(array_to_string(list_slice(toks, i, i + {window} - 1), ' ')) AS h
  FROM base, unnest(range(1, greatest(len(toks) - {window} + 2, 1))) AS u(i)
),
pd AS (SELECT id, h, count(*) AS c FROM w GROUP BY id, h),
g AS (SELECT h, sum(c) AS occ, count(*) AS ndocs FROM pd GROUP BY h),
j AS (SELECT pd.id, pd.c, g.occ, g.ndocs FROM pd JOIN g USING (h)),
s AS (
  SELECT id,
         CAST(sum(c) AS BIGINT) AS n_spans,
         CAST(sum(CASE WHEN occ >= 2 THEN c ELSE 0 END) AS BIGINT)
           AS n_dup_spans,
         CAST(sum(CASE WHEN ndocs >= 2 THEN c ELSE 0 END) AS BIGINT)
           AS n_crossdoc_spans
  FROM j GROUP BY id
)
SELECT d.doc_id AS id,
       coalesce(s.n_spans, 0) AS n_spans,
       coalesce(s.n_dup_spans, 0) AS n_dup_spans,
       coalesce(s.n_crossdoc_spans, 0) AS n_crossdoc_spans,
       (coalesce(s.n_spans, 0) > 0
        AND 5 * coalesce(s.n_dup_spans, 0) >= coalesce(s.n_spans, 0))
         AS flag_dup_heavy
FROM documents d LEFT JOIN s ON s.id = d.doc_id
WHERE {out_predicate}
ORDER BY id
"""


def render_substring_spans_sql(window: int = 8, k: int = 20) -> str:
    """DuckDB oracle for ``substring_dedup_spans``."""
    return f"""
WITH base AS (
  SELECT doc_id AS id, string_split(lower(text), ' ') AS toks FROM documents
),
w AS (
  SELECT id, array_to_string(list_slice(toks, i, i + {window} - 1), ' ') AS span
  FROM base, unnest(range(1, greatest(len(toks) - {window} + 2, 1))) AS u(i)
),
pd AS (
  SELECT md5(span) AS h, id, count(*) AS c, min(span) AS mspan
  FROM w GROUP BY md5(span), id
),
g AS (
  SELECT h, CAST(sum(c) AS BIGINT) AS occ,
         CAST(count(*) AS BIGINT) AS ndocs, min(mspan) AS span
  FROM pd GROUP BY h
)
SELECT span, occ, ndocs FROM g
WHERE occ >= 2
ORDER BY occ DESC, span ASC
LIMIT {k}
"""


def strip_duplicate_spans(df: DataFrame, text_col: str, id_col: str,
                          window: int = 8) -> DataFrame:
    """Cross-document duplicate-span REMOVAL — the actual Lee et al.
    2021 treatment (``substring_dedup_stats`` flags it, ``_spans``
    reports it, this STRIPS it): every token covered by a length-
    ``window`` token window whose hash occurs in ≥ 2 distinct documents
    is dropped from every doc EXCEPT the smallest-id holder of that
    hash (the "keep the first occurrence" rule, made deterministic by
    id order).  Within-doc self-repetition is untouched (cross-doc
    only — the boilerplate case; self-repetition has no canonical
    "first" copy to keep).  Returns ``(id, n_tokens, n_tokens_kept,
    text_kept)`` with the surviving tokens rejoined in original order.

    Plan shape (all fixed-width after the scan): windows hash to md5 AT
    THE SCAN with their start position; one (hash) partial agg derives
    ``(ndocs, min_id)``; qualifying windows explode to covered
    positions (≤ W longs per window) and distinct per (id, pos); the
    token stream anti-joins covered positions and reassembles via
    ``sort_array(collect_list(struct(pos, tok)))`` — per-doc, bounded
    by the doc's own token count.  Every shuffled row is (32-char hash
    | two longs); span text never moves."""
    ids = df.select(F.col(id_col).alias("id"),
                    _tokens(text_col).alias("toks"))
    base = _fan_out_small_input(
        df.select(F.col(id_col).alias("id"),
                  _span_windows(text_col, window).alias("wins"))
    )
    w = base.select(
        "id", F.posexplode(F.col("wins")).alias("pos", "span")
    ).select("id", "pos", F.md5("span").alias("h"))
    g = w.groupBy("h").agg(
        F.count_distinct("id").alias("ndocs"),
        F.min("id").alias("min_id"),
    )
    covered = (
        w.join(g, "h")
        .filter((F.col("ndocs") >= 2) & (F.col("id") != F.col("min_id")))
        .select(
            "id",
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + window - 1)
            ).alias("pos"),
        )
        .distinct()
    )
    toks = ids.select(
        "id", F.posexplode(F.col("toks")).alias("pos", "tok")
    )
    kept = (
        toks.join(covered, ["id", "pos"], "left_anti")
        .groupBy("id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens_kept"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sort_array(F.collect_list(F.struct("pos", "tok"))),
                    lambda s: s["tok"],
                ),
            ).alias("text_kept"),
        )
    )
    return (
        ids.select("id", F.size("toks").cast("long").alias("n_tokens"))
        .join(kept, "id", "left")
        .select(
            "id", "n_tokens",
            F.coalesce("n_tokens_kept", F.lit(0)).alias("n_tokens_kept"),
            F.coalesce("text_kept", F.lit("")).alias("text_kept"),
        )
        .orderBy("id")
    )


def render_strip_duplicate_spans_sql(window: int = 8) -> str:
    """DuckDB oracle for ``strip_duplicate_spans`` over ``documents`` —
    identical windows/hashes, the same cross-doc ≥2 / non-min-id drop
    rule, the same order-preserving reassembly.  NOTE the tokenizer
    asymmetry is intentional and mirrored: windows hash over
    ``lower(text)`` (the ``_span_windows`` contract shared with the
    stats/spans ops) while the REASSEMBLED tokens keep original case
    (the text being cleaned)."""
    return f"""
WITH base AS (
  SELECT doc_id AS id, string_split(text, ' ') AS toks,
         string_split(lower(text), ' ') AS ltoks
  FROM documents
),
w AS (
  SELECT id, i AS pos,
         md5(array_to_string(list_slice(ltoks, i, i + {window} - 1), ' '))
           AS h
  FROM base, unnest(range(1, greatest(len(ltoks) - {window} + 2, 1))) AS u(i)
),
g AS (
  SELECT h, count(DISTINCT id) AS ndocs, min(id) AS min_id
  FROM w GROUP BY h
),
covered AS (
  SELECT DISTINCT w.id, p.pos
  FROM w JOIN g USING (h),
       unnest(range(w.pos, w.pos + {window})) AS p(pos)
  WHERE g.ndocs >= 2 AND w.id <> g.min_id
),
toks AS (
  SELECT id, u.i AS pos, toks[u.i] AS tok
  FROM base, unnest(range(1, len(toks) + 1)) AS u(i)
),
kept AS (
  SELECT t.id,
         CAST(count(*) AS BIGINT) AS n_tokens_kept,
         string_agg(t.tok, ' ' ORDER BY t.pos) AS text_kept
  FROM toks t
  LEFT JOIN covered c ON c.id = t.id AND c.pos = t.pos
  WHERE c.pos IS NULL
  GROUP BY t.id
)
SELECT b.id, CAST(len(b.toks) AS BIGINT) AS n_tokens,
       coalesce(k.n_tokens_kept, 0) AS n_tokens_kept,
       coalesce(k.text_kept, '') AS text_kept
FROM base b LEFT JOIN kept k ON k.id = b.id
ORDER BY b.id
"""


def setsim_join(left: DataFrame, right: DataFrame, text_col: str,
                id_col: str, n: int = 3, threshold_num: int = 1,
                threshold_den: int = 2,
                max_doc_freq: int | None = None) -> DataFrame:
    """Exact set-similarity JOIN of two relations (the entity-resolution
    / record-linkage shape: R ⋈_{J ≥ t} S), distinct from
    :func:`ngram_jaccard_pairs`' self-join: ids come from different
    tables, so there is no ``id_a < id_b`` dedup — every cross-relation
    pair meeting the threshold appears once.

    The threshold is the RATIONAL ``threshold_num/threshold_den`` and
    the filter is cross-multiplied —

        J ≥ p/q  ⟺  q·inter ≥ p·(|A| + |B| − inter)

    — so candidate acceptance happens entirely in integer arithmetic;
    ``jaccard_e6`` quantizes the exact rational once for display.

    Plan: per-side distinct word shingles (strings hash-join on the
    shingle itself — the inverted-index probe; only co-occurring pairs
    materialize), one pair-count aggregate, two size joins.  The
    optional ``max_doc_freq`` stop-shingle cap bounds the posting-list
    blow-up exactly as in the self-join variant."""
    sha = word_shingles(left, text_col, id_col, n, max_doc_freq)
    shb = word_shingles(right, text_col, id_col, n, max_doc_freq)
    sz_a = sha.groupBy("id").agg(F.count(F.lit(1)).alias("sz_a")) \
              .withColumnRenamed("id", "id_a")
    sz_b = shb.groupBy("id").agg(F.count(F.lit(1)).alias("sz_b")) \
              .withColumnRenamed("id", "id_b")
    inter = (
        sha.select(F.col("id").alias("id_a"), "shingle")
        .join(shb.select(F.col("id").alias("id_b"), "shingle"), "shingle")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    union_sz = F.col("sz_a") + F.col("sz_b") - F.col("inter")
    jac = F.col("inter").cast("double") / union_sz.cast("double")
    return (
        inter.join(sz_a, "id_a")
        .join(sz_b, "id_b")
        .filter(threshold_den * F.col("inter") >= threshold_num * union_sz)
        .select(
            "id_a", "id_b",
            F.col("inter").cast("long").alias("inter"),
            union_sz.cast("long").alias("union_sz"),
            F.floor(jac * 1e6 + F.lit(0.5)).cast("long").alias("jaccard_e6"),
        )
        .orderBy("id_a", "id_b")
    )


def render_setsim_join_sql(n: int = 3, threshold_num: int = 1,
                           threshold_den: int = 2) -> str:
    """DuckDB oracle for the registered ``setsim_join`` over the even/odd
    doc_id halves of ``documents`` — identical shingling, integer
    cross-multiplied acceptance, e6 quantization."""
    return f"""
WITH t AS (
  SELECT doc_id AS id, string_split(text, ' ') AS toks, doc_id % 2 AS side
  FROM documents
),
sh AS (
  SELECT DISTINCT id, side,
         array_to_string(list_slice(toks, i, i + {n} - 1), ' ') AS shingle
  FROM t, unnest(range(1, len(toks) - {n} + 2)) AS u(i)
),
sz AS (SELECT id, side, count(*) AS sz FROM sh GROUP BY id, side),
inter AS (
  SELECT a.id AS id_a, b.id AS id_b, count(*) AS inter
  FROM sh a JOIN sh b USING (shingle)
  WHERE a.side = 0 AND b.side = 1
  GROUP BY a.id, b.id
),
j AS (
  SELECT i.id_a, i.id_b, i.inter,
         sa.sz + sb.sz - i.inter AS union_sz
  FROM inter i
  JOIN sz sa ON sa.id = i.id_a AND sa.side = 0
  JOIN sz sb ON sb.id = i.id_b AND sb.side = 1
)
SELECT id_a, id_b, CAST(inter AS BIGINT) AS inter,
       CAST(union_sz AS BIGINT) AS union_sz,
       CAST(floor(CAST(inter AS DOUBLE) / CAST(union_sz AS DOUBLE) * 1e6
                  + 0.5) AS BIGINT) AS jaccard_e6
FROM j
WHERE {threshold_den} * inter >= {threshold_num} * union_sz
ORDER BY id_a, id_b
"""


def semantic_dedup(df: DataFrame, id_col: str, vec_col: str,
                   n_cells: int | None = None, threshold: float = 0.8,
                   seed: int = 42,
                   max_cell_rows: int = 65536,
                   target_cell_rows: int = 4096,
                   stats: dict | None = None) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540 — public): semantic
    dedup over an embedding column — the embedding-space analog of
    ``clean_corpus``.  Returns the keep/drop map ``(id, cell, keep)``.

    Composition of two existing green operators: (1) k-means cell
    assignment (the IVF fit/assign from ``operators.ann.ivf_build``);
    (2) within-cell cosine pruning with the packed-matrix GEMM kernel
    family (``cosine_topk_pairs_blocked``'s shape, one cell = one pack).

    Keep rule (deterministic, oracle-expressible): a row is DROPPED iff
    a SMALLER-id row in the same cell has cosine ≥ ``threshold`` — one
    representative (the lowest id) survives per near-dup group.  SemDeDup
    prunes within clusters only, so a cross-cell near-dup pair is the
    method's documented recall loss (the paper's ε-ball is
    cluster-scoped too); an EXACT duplicate always lands in its source's
    cell (identical vector ⇒ identical centroid distances) and is
    therefore always caught.

    Scale shape: cluster count grows with the corpus so cell size stays
    bounded (the paper runs 50k clusters on LAION) — each cell packs to
    ONE Arrow batch whose triangular chunked GEMM never materializes the
    full cell×cell matrix.  Shuffles: the k-means assign (one pass) and
    the cell groupBy; ids and vectors only, no pair fan-out.

    ``max_cell_rows`` is the SKEW GUARD (VERDICT r7): k-means on real
    embedding distributions does NOT balance — one dense topic cluster
    can swallow most of the corpus, and without the guard that cell
    becomes one executor-OOM Arrow group.  Cells above the cap are
    routed through the distributed blocked-GEMM kernel instead
    (``cosine_topk_pairs_blocked``'s pack-once/block-pair-join shape,
    restricted to same-cell pairs): every resident matrix is then
    ≤ ~``max_cell_rows`` rows regardless of the cell's true size, at
    identical keep/drop semantics — both paths decide "drop iff a
    smaller-id same-cell row has cosine ≥ threshold", and the float64
    row-dot is numerically equivalent up to BLAS reduction order (the
    two paths run GEMMs with different tile shapes, so a cosine landing
    EXACTLY on the threshold could in principle flip at the ULP level;
    no registered fixture sits on the boundary).  The routing decision
    costs one ≤-n_cells-row collect; when no cell exceeds the cap
    (every registered scale) the r7 plan is byte-identical.

    ``n_cells=None`` (auto, VERDICT r8 task 1) derives the cell count
    from the corpus: ``clamp(ceil(n_rows / target_cell_rows), 8,
    65536)`` — the SemDeDup paper's regime (50k clusters on LAION)
    where CLUSTER COUNT grows with the corpus so cell size stays
    bounded.  With a fixed ``n_cells``, 100× data means 100× rows per
    cell and near-quadratic within-cell work (safe under the skew
    guard, but slow); auto keeps expected cell size ≈
    ``target_cell_rows`` at any scale with no caller tuning.  The
    derived count is exact-integer reproducible from ``n_rows`` alone
    (oracle-expressible); pass ``stats={}`` to receive
    ``{"n_cells": derived}``.
    """
    import math

    import numpy as np

    from .ann import ivf_build

    base = df.select(F.col(id_col).alias("id"),
                     F.col(vec_col).cast("array<double>").alias("vec"))
    n_rows = base.count()
    if n_cells is None:
        n_cells = min(max(math.ceil(n_rows / max(1, target_cell_rows)),
                          8), 65536)
    if stats is not None:
        stats["n_cells"] = int(n_cells)
        stats["n_rows"] = int(n_rows)
    # guard the degenerate regime: with n_cells ≈ n every cell is a
    # singleton and NO pair is ever compared — a tiny corpus silently
    # dedupes nothing.  Keep expected cell size ≥ 8 (and ≥ 1 cell); at
    # the registered scales the requested n_cells is unchanged.
    eff_cells = max(1, min(n_cells, n_rows // 8))
    if eff_cells < 2:  # KMeans needs k >= 2; one cell = plain full pass
        assigned = base.withColumn("cell", F.lit(0))
    else:
        assigned = ivf_build(base, n_cells=eff_cells, seed=seed).assigned

    def prune(key, pdf):
        pdf = pdf.sort_values("id").reset_index(drop=True)
        ids = pdf["id"].to_numpy(np.int64)
        m = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(m, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        m = m / norms
        n = len(ids)
        keep = np.ones(n, dtype=bool)
        # triangular chunked GEMM: chunk rows score only against STRICTLY
        # earlier rows, tile stays cache-sized, full n×n never forms
        chunk = max(1, (1 << 22) // max(1, m.shape[1] * 8))
        for s in range(1, n, chunk):
            e = min(s + chunk, n)
            g = m[s:e] @ m[:e].T
            for i in range(s, e):
                row = g[i - s, :i]
                if row.size and row.max() >= threshold:
                    keep[i] = False
        return pd.DataFrame({
            "id": ids, "cell": np.full(n, int(key[0]), dtype=np.int32),
            "keep": keep,
        })

    # skew guard: route any cell above the cap through the distributed
    # blocked path.  The cell-size probe is one bounded action (≤ one
    # row per cell); deterministic data → deterministic routing.
    big_cells = [
        int(r["cell"])
        for r in assigned.groupBy("cell")
        .agg(F.count(F.lit(1)).alias("__n"))
        .filter(F.col("__n") > max_cell_rows)
        .collect()
    ]
    if not big_cells:
        small, big = assigned, None
    elif len(big_cells) <= 256:
        small = assigned.filter(~F.col("cell").isin(big_cells))
        big = assigned.filter(F.col("cell").isin(big_cells))
    else:
        # a pathological distribution can overflow MANY cells — route
        # the membership test through a broadcast join rather than a
        # huge isin literal tree
        bc = F.broadcast(assigned.sparkSession.createDataFrame(
            [(c,) for c in big_cells], "cell int"))
        small = assigned.join(bc, "cell", "left_anti")
        big = assigned.join(bc, "cell", "left_semi")
    out = small.groupBy("cell").applyInPandas(
        prune, schema="id long, cell int, keep boolean"
    )
    if big is not None:
        out = out.unionByName(
            _semantic_dedup_blocked(big, threshold, max_cell_rows)
        )
    return out


def _semantic_dedup_blocked(assigned: DataFrame, threshold: float,
                            max_cell_rows: int) -> DataFrame:
    """Distributed within-cell prune for OVERSIZED k-means cells — the
    ``cosine_topk_pairs_blocked`` shape scoped to same-cell pairs.

    Rows hash into ``ceil(cell_size / max_cell_rows)`` blocks within
    their cell; each (cell, block) packs ONCE into a single
    normalized-matrix blob; every same-cell unordered block pair joins
    its two blobs and emits the ids that lose to a smaller id at
    ``cosine >= threshold``; a distinct + anti-join flips the keep
    flag.  Resident memory per task is two ≤ max_cell_rows blocks, the
    shuffle is blob rows (≈ the oversized cells replicated n_blocks
    times in coarse blobs), and no pair table is ever materialized
    beyond each task's chunked tile."""
    import math

    import numpy as np

    spark = assigned.sparkSession
    sizes = {int(r["cell"]): int(r["__n"])
             for r in assigned.groupBy("cell")
             .agg(F.count(F.lit(1)).alias("__n")).collect()}
    n_blocks = max(
        2, math.ceil(max(sizes.values()) / max(1, max_cell_rows))
    )
    v = assigned.select(
        "id", "vec", "cell",
        F.pmod(F.xxhash64(F.col("id")), F.lit(n_blocks)).cast("int")
        .alias("blk"),
    )

    def pack(key, pdf):
        ids = pdf["id"].to_numpy(np.int64)
        mat = np.vstack(pdf["vec"].to_numpy()).astype(np.float64)
        norms = np.linalg.norm(mat, axis=1, keepdims=True)
        norms[norms == 0] = 1.0
        mat = mat / norms
        return pd.DataFrame({
            "cell": [int(key[0])], "blk": [int(key[1])],
            "n": [len(ids)], "dim": [int(mat.shape[1])],
            "ids": [ids.tobytes()], "mat": [mat.tobytes()],
        })

    packed = v.groupBy("cell", "blk").applyInPandas(
        pack, schema="cell int, blk int, n long, dim long, "
                     "ids binary, mat binary"
    )
    keys = spark.createDataFrame(
        [(i, j) for i in range(n_blocks) for j in range(i, n_blocks)],
        "gi int, gj int",
    )
    a = packed.select(
        F.col("cell"), F.col("blk").alias("gi"), F.col("n").alias("a_n"),
        F.col("dim").alias("a_dim"), F.col("ids").alias("a_ids"),
        F.col("mat").alias("a_mat"),
    )
    b = packed.select(
        F.col("cell"), F.col("blk").alias("gj"), F.col("n").alias("b_n"),
        F.col("dim").alias("b_dim"), F.col("ids").alias("b_ids"),
        F.col("mat").alias("b_mat"),
    )
    pairs = a.join(F.broadcast(keys), "gi").join(b, ["cell", "gj"])

    thr = float(threshold)

    def losers(batches):
        for pdf in batches:
            for r in pdf.itertuples(index=False):
                ia = np.frombuffer(r.a_ids, dtype=np.int64)
                a_m = np.frombuffer(r.a_mat, dtype=np.float64).reshape(
                    r.a_n, r.a_dim)
                ib = np.frombuffer(r.b_ids, dtype=np.int64)
                b_m = np.frombuffer(r.b_mat, dtype=np.float64).reshape(
                    r.b_n, r.b_dim)
                out = set()
                chunk = max(1, (1 << 22) // max(1, b_m.shape[0]))
                for s in range(0, a_m.shape[0], chunk):
                    sims = a_m[s:s + chunk] @ b_m.T
                    hit = sims >= thr
                    if r.gi == r.gj:
                        # same block: a pair appears twice (both
                        # orientations) — the id compare below keeps
                        # exactly the larger side; self-pairs excluded
                        hit &= ia[s:s + chunk, None] != ib[None, :]
                    if not hit.any():
                        continue
                    ra, rb = np.nonzero(hit)
                    pa, pb = ia[ra + s], ib[rb]
                    out.update(np.maximum(pa, pb).tolist())
                yield pd.DataFrame({"id": sorted(out)})

    dropped = pairs.mapInPandas(losers, schema="id long").distinct()
    return (
        assigned.select("id", F.col("cell").cast("int").alias("cell"))
        .join(dropped.withColumn("__d", F.lit(True)), "id", "left")
        .select("id", "cell", F.col("__d").isNull().alias("keep"))
    )


def substring_state_build(corpus_df: DataFrame, path: str,
                          text_col: str, id_col: str,
                          window: int = 8) -> None:
    """Materialize the corpus-side exact-substring state to ``path`` —
    the batch×corpus treatment for :func:`substring_dedup_stats`, which
    otherwise rescans the whole corpus per batch (the same O(batch)
    admit pattern as ``minhash_corpus_state_build`` / the SimHash
    state).

    Layout: ``{path}/spans`` holds per-hash DELTA rows ``(h, occ,
    ndocs)`` — log-structured: appends add rows for the same ``h``;
    every reader aggregates by ``h`` first, so a state with pending
    deltas reads identically to a compacted one.  ``{path}/meta.json``
    pins ``window`` and is enforced at read time.  Doc ids must be
    disjoint across admitted batches (the production ingest invariant —
    a re-admitted doc would double-count; use the digest screens
    upstream to enforce it)."""
    from .maintenance import write_meta

    spark = corpus_df.sparkSession
    ex = _fan_out_small_input(
        corpus_df.select(F.col(id_col).alias("id"),
                         _span_windows(text_col, window).alias("wins"))
    ).select("id", F.explode(F.transform(F.col("wins"), F.md5)).alias("h"))
    g = (
        ex.groupBy("h", "id").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("h")
        .agg(F.sum("c").cast("long").alias("occ"),
             F.count(F.lit(1)).cast("long").alias("ndocs"))
    )
    g.write.mode("overwrite").parquet(f"{path}/spans")
    write_meta(spark, f"{path}/meta.json", {"window": window})


def _read_substring_state(spark, path: str):
    from .maintenance import read_meta, recover_compact_crash

    meta = read_meta(spark, f"{path}/meta.json")
    recover_compact_crash(spark, f"{path}/spans")
    return meta, spark.read.parquet(f"{path}/spans")


def substring_dedup_incremental(spark, state_path: str, new_df: DataFrame,
                                text_col: str, id_col: str) -> DataFrame:
    """:func:`substring_dedup_stats` semantics for a NEW batch against
    corpus ∪ batch, at O(batch) cost: per-batch-doc span profile where
    "duplicated" counts occurrences across the persisted corpus state
    AND the batch itself — row-identical to running the full-corpus
    stats over (corpus ∪ batch) and keeping the batch's rows
    (pytest-pinned; the registered query's oracle is the predicate-split
    full computation).

    Plan: only the batch explodes; the corpus contributes the pre-
    aggregated ``(h, occ, ndocs)`` table, joined on span hash — every
    shuffled row is fixed-width, the corpus text is never read."""
    meta, state = _read_substring_state(spark, state_path)
    window = int(meta["window"])
    ids = new_df.select(F.col(id_col).alias("id"))
    ex = _fan_out_small_input(
        new_df.select(F.col(id_col).alias("id"),
                      _span_windows(text_col, window).alias("wins"))
    ).select("id", F.explode(F.transform(F.col("wins"), F.md5)).alias("h"))
    per_doc = ex.groupBy("h", "id").agg(F.count(F.lit(1)).alias("c"))
    batch_g = per_doc.groupBy("h").agg(
        F.sum("c").alias("b_occ"), F.count(F.lit(1)).alias("b_ndocs")
    )
    # pending-delta-safe: aggregate the log-structured state by h first
    cor_g = state.groupBy("h").agg(
        F.sum("occ").alias("s_occ"), F.sum("ndocs").alias("s_ndocs")
    )
    tot = (
        batch_g.join(cor_g, "h", "left")
        .select(
            "h",
            (F.col("b_occ") + F.coalesce("s_occ", F.lit(0))).alias("occ"),
            (F.col("b_ndocs") + F.coalesce("s_ndocs", F.lit(0)))
            .alias("ndocs"),
        )
    )
    j = per_doc.join(tot, "h")
    stats = j.groupBy("id").agg(
        F.sum("c").cast("long").alias("n_spans"),
        F.sum(F.when(F.col("occ") >= 2, F.col("c")).otherwise(0))
        .cast("long").alias("n_dup_spans"),
        F.sum(F.when(F.col("ndocs") >= 2, F.col("c")).otherwise(0))
        .cast("long").alias("n_crossdoc_spans"),
    )
    out = ids.join(stats, "id", "left").select(
        "id",
        F.coalesce("n_spans", F.lit(0)).alias("n_spans"),
        F.coalesce("n_dup_spans", F.lit(0)).alias("n_dup_spans"),
        F.coalesce("n_crossdoc_spans", F.lit(0)).alias("n_crossdoc_spans"),
    )
    return out.select(
        "*",
        ((F.col("n_spans") > 0)
         & (5 * F.col("n_dup_spans") >= F.col("n_spans")))
        .alias("flag_dup_heavy"),
    ).orderBy("id")


def substring_state_append(spark, state_path: str, admitted_df: DataFrame,
                           text_col: str, id_col: str) -> None:
    """Admit a batch: append its per-hash delta rows — one aggregation
    over the batch only, no corpus rescan, no read-modify-write of the
    state (readers aggregate deltas, so a concurrent read mid-append
    sees either the old or the new total per file, never a torn row).
    For exactly-once appends use :func:`substring_state_delta` with the
    admit loop's staged protocol (r11)."""
    for df, dataset_dir in substring_state_delta(
            spark, state_path, admitted_df, text_col, id_col):
        df.write.mode("append").parquet(dataset_dir)


def substring_state_delta(spark, state_path: str, admitted_df: DataFrame,
                          text_col: str, id_col: str
                          ) -> list[tuple[DataFrame, str]]:
    """The batch's per-hash delta rows as ``(frame, dataset_dir)``
    pairs — deterministic in the state (only ``meta.window`` is read),
    so a crash-replay recomputation is identical."""
    meta, _state = _read_substring_state(spark, state_path)
    window = int(meta["window"])
    ex = _fan_out_small_input(
        admitted_df.select(F.col(id_col).alias("id"),
                           _span_windows(text_col, window).alias("wins"))
    ).select("id", F.explode(F.transform(F.col("wins"), F.md5)).alias("h"))
    g = (
        ex.groupBy("h", "id").agg(F.count(F.lit(1)).alias("c"))
        .groupBy("h")
        .agg(F.sum("c").cast("long").alias("occ"),
             F.count(F.lit(1)).cast("long").alias("ndocs"))
    )
    return [(g, f"{state_path}/spans")]


def substring_state_compact(spark, state_path: str,
                            target_partitions: int = 32) -> None:
    """Fold pending delta rows into one row per hash and rewrite into
    well-sized files through ``maintenance.replace_table`` (whose
    recovery path ``_read_substring_state`` already runs on every
    read)."""
    from .maintenance import recover_compact_crash, replace_table

    table_dir = f"{state_path}/spans"
    recover_compact_crash(spark, table_dir)
    merged = (
        spark.read.parquet(table_dir)
        .groupBy("h")
        .agg(F.sum("occ").cast("long").alias("occ"),
             F.sum("ndocs").cast("long").alias("ndocs"))
        .repartition(target_partitions)
    )
    replace_table(spark, table_dir, merged.write)
