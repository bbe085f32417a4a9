"""Physical-plan regression tests — the 100 TB design brief, enforced.

Each test pins a scale-critical property of a headline plan; a Catalyst
regression (lost pushdown, dropped broadcast, missing rank-limit) fails
here rather than as a cluster-scale slowdown.
"""

from __future__ import annotations

import re

import pytest

from vector_db_at_home_spark.operators.relational import (
    local_supplier_volume,
    pricing_summary,
    shipping_priority,
    top_orders_per_customer,
)
from vector_db_at_home_spark.plans.explain import (
    broadcast_join_count,
    formatted_plan,
    has_pushed_filters,
    has_window_group_limit,
    scan_read_schema,
    whole_stage_codegen_spans,
)

SF = "/root/testdata/sf0.001"


def test_q1_filter_pushed_to_parquet_scan(spark):
    df = pricing_summary(spark, SF)
    assert has_pushed_filters(df, "l_shipdate")


def test_q1_column_pruning(spark):
    df = pricing_summary(spark, SF)
    cols = set(scan_read_schema(df))
    # only the 7 referenced columns are read, not the full 11-col lineitem
    assert cols == {
        "l_returnflag", "l_linestatus", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax", "l_shipdate",
    }


def test_q1_whole_stage_codegen(spark):
    df = pricing_summary(spark, SF)
    df.collect()  # AQE finalizes the plan (and codegen markers) on execution
    assert whole_stage_codegen_spans(df) >= 1


def test_q1_partial_aggregation(spark):
    # map-side combine: the shuffle carries partial_sum state, not rows
    assert "partial_sum" in formatted_plan(pricing_summary(spark, SF))


def test_q3_broadcasts_customer(spark):
    df = shipping_priority(spark, SF)
    assert broadcast_join_count(df) >= 1
    assert has_pushed_filters(df, "l_shipdate")
    assert has_pushed_filters(df, "o_orderdate")


def test_q5_star_join_broadcasts_all_dims(spark):
    df = local_supplier_volume(spark, SF)
    # customer, supplier, nation, region all broadcast → ≥4 broadcast joins
    assert broadcast_join_count(df) >= 4


def test_window_topk_uses_group_limit_pushdown(spark):
    df = top_orders_per_customer(spark, SF)
    # rank-limit pushdown: per-partition top-k before the shuffle
    assert has_window_group_limit(df)


def test_knn_expr_plan_shape(spark):
    from pyspark.sql import functions as F

    from vector_db_at_home_spark.operators.knn import knn_search

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    qs = (emb.orderBy("vec_id").limit(2)
          .select(F.col("vec_id").alias("query_id"),
                  F.col("embedding").alias("qvec")))
    df = knn_search(emb, qs, k=3, id_col="vec_id", vec_col="embedding",
                    impl="expr")
    plan = formatted_plan(df)
    # queries are the broadcast side of the distance pass
    assert "BroadcastNestedLoopJoin" in plan
    # index scan reads only (vec_id, embedding)
    assert "label" not in plan.split("ReadSchema")[1].split("\n")[0]
    # per-query top-k has the rank-limit pushdown
    assert "WindowGroupLimit" in plan


def test_select_ids_filter_pushdown(spark):
    from pyspark.sql import functions as F

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    df = emb.filter(F.col("vec_id").isin([1, 5, 10])).select("vec_id", "label")
    assert has_pushed_filters(df, "vec_id")


def test_cosine_neardup_bucketed_no_cartesian(spark):
    """The LSH near-dup plan is all keyed joins — no cartesian product and
    no nested-loop join anywhere."""
    from vector_db_at_home_spark.operators.dedup import cosine_neardup_bucketed
    from vector_db_at_home_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    df = cosine_neardup_bucketed(emb, "embedding", "vec_id",
                                 min_cosine=0.5, n_planes=8, n_tables=2)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_q21_decorrelated_no_cartesian_one_fact_agg(spark):
    """The Q21 shape (correlated EXISTS + NOT EXISTS) decorrelates into one
    per-order aggregate joined back on the key — no cartesian product, no
    nested-loop join, supplier broadcast."""
    from vector_db_at_home_spark.operators.relational import (
        suppliers_kept_waiting,
    )

    df = suppliers_kept_waiting(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert broadcast_join_count(df) >= 1


def test_q22_anti_join_and_scalar_broadcast(spark):
    """The Q22 shape: NOT EXISTS becomes a LEFT ANTI join; the scalar avg
    subquery and nation dim are broadcast; no cartesian on data."""
    from vector_db_at_home_spark.operators.relational import (
        dormant_rich_customers,
    )

    df = dormant_rich_customers(spark, SF)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 2


def test_registered_cosine_topk_pairs_no_cartesian(spark):
    """The DRIVER-CHECKED cosine_topk_pairs query runs the blocked-GEMM
    plan: no cartesian product, no nested-loop join — the last quadratic
    was removed from the registered surface (VERDICT r2 #1)."""
    from vector_db_at_home_spark.registry import queries

    df = queries()["cosine_topk_pairs"](spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_hash_split_no_shuffle(spark):
    """Split assignment is a pure projection: zero exchanges in the plan."""
    from vector_db_at_home_spark.operators.sampling import hash_split
    from vector_db_at_home_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    plan = formatted_plan(hash_split(docs, "doc_id", {"a": 0.5, "b": 0.5}))
    assert "Exchange" not in plan


# The MinHash verify branch projects h60 as ``h60 + (h1+h2+h3+h4) * 0``
# (dedup.minhash_lsh_pairs / _incremental) so column pruning cannot cut
# its copy of the shingle subtree down to (id, h60) and re-run the md5
# explode for it.  Catalyst folding ``x * 0`` would regress that silently.
_H60_NOOP = re.compile(
    r"\(h60#\d+L? \+ \(\(\(\(h1#\d+L? \+ h2#\d+L?\) \+ h3#\d+L?\) "
    r"\+ h4#\d+L?\) \* 0\)\)"
)


def test_minhash_no_lingering_cache_and_exchange_reuse(spark):
    """Cache hygiene is structural (VERDICT r3 #4): the MinHash pair plan
    holds NO .cache()/.persist() — the shingle subplan's double use is
    served by AQE exchange reuse — so after the registered query
    materializes, zero RDDs remain pinned in executor memory."""
    from vector_db_at_home_spark.registry import queries

    sc = spark.sparkContext

    def persistent_ids() -> set:
        m = sc._jsc.getPersistentRDDs()
        return {k for k in m.keySet().toArray()}

    # other tests may hold localCheckpoint RDDs — assert on the DELTA
    before = persistent_ids()
    df = queries()["dedup_minhash_lsh"](spark, SF)
    df.collect()
    assert persistent_ids() - before == set()
    # the reuse that replaces the cache: post-AQE plan serves the shingle
    # subplan's second consumer from the first's shuffle files
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan
    # the no-op dependency survives optimization, and the md5 shingle
    # explode runs no extra time for the verify branch (measured 8
    # Generate nodes and 5 md5 calls with it, 9 and 6 without)
    assert _H60_NOOP.search(plan)
    assert len(re.findall(r"\bGenerate\b", plan)) <= 8
    assert plan.count("md5(") <= 5


def test_minhash_incremental_no_lingering_cache(spark):
    """Same structural hygiene for the production ingest shape."""
    from pyspark.sql import functions as F

    from vector_db_at_home_spark.operators.dedup import (
        minhash_lsh_pairs_incremental,
    )
    from vector_db_at_home_spark.sources import load_table

    sc = spark.sparkContext
    before = {k for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    docs = load_table(spark, SF, "documents")
    batch = docs.filter(F.col("doc_id") % 10 == 0)
    corpus = docs.filter(F.col("doc_id") % 10 != 0)
    res = minhash_lsh_pairs_incremental(
        batch, corpus, "text", "doc_id", threshold=0.5,
        max_doc_freq=100, max_band_bucket=200,
    )
    res.collect()
    after = {k for k in sc._jsc.getPersistentRDDs().keySet().toArray()}
    assert after - before == set()
    plan = res._jdf.queryExecution().executedPlan().toString()
    assert _H60_NOOP.search(plan)


def test_q7_broadcasts_all_dims_and_pushes_dates(spark):
    """Q7 shape: supplier/customer/nation are broadcast (only
    lineitem⋈orders shuffles) and the ship-date range reaches the scan."""
    from vector_db_at_home_spark.operators.relational import volume_shipping

    df = volume_shipping(spark, SF)
    assert broadcast_join_count(df) >= 4
    assert has_pushed_filters(df, "l_shipdate")


def test_q19_disjunction_split_across_both_scans(spark):
    """Q19 shape: the OR-of-ANDs predicate is CNF-split — the quantity
    bands reach the lineitem parquet scan AND the brand/size conjuncts
    reach the part scan, so neither side scans rows no disjunct can
    accept."""
    from vector_db_at_home_spark.operators.relational import (
        disjunctive_revenue,
    )

    df = disjunctive_revenue(spark, SF)
    assert broadcast_join_count(df) >= 1
    plan = formatted_plan(df)
    assert has_pushed_filters(df, "l_quantity")
    assert "PushedFilters" in plan and "p_brand" in plan


def test_q2_window_decorrelation_no_cartesian(spark):
    """The Q2 shape: the correlated scalar-min runs as a window MIN over
    the part key (one Window node, no join-back, no second partsupp
    scan); part and the supplier⋈nation⋈region chain broadcast."""
    from vector_db_at_home_spark.operators.relational import (
        min_cost_supplier,
    )

    df = min_cost_supplier(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan
    assert broadcast_join_count(df) >= 3


def test_q9_part_filter_prunes_both_sides(spark):
    """The Q9 shape: the LIKE-filtered part list broadcasts into BOTH the
    lineitem scan and the derived partsupp; no cartesian anywhere."""
    from vector_db_at_home_spark.operators.relational import product_profit

    df = product_profit(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert broadcast_join_count(df) >= 4


def test_q16_not_in_becomes_anti_join(spark):
    """The Q16 shape: NOT IN over the flagged suppliers decorrelates to a
    broadcast LEFT ANTI, never a nested-loop."""
    from vector_db_at_home_spark.operators.relational import (
        part_supplier_counts,
    )

    df = part_supplier_counts(spark, SF)
    plan = formatted_plan(df)
    assert "LeftAnti" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q20_one_conditional_aggregate_semi_join(spark):
    """The Q20 shape: BOTH correlated inner sums collapse into ONE
    conditional aggregate over the part-pruned fact; the supplier side
    arrives via a semi-join; no repeated lineitem scans beyond the
    aggregate (no cartesian, no nested-loop)."""
    from vector_db_at_home_spark.operators.relational import excess_shippers

    df = excess_shippers(spark, SF)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "LeftSemi" in plan


def test_phrase_search_no_cartesian_filters_pushed(spark):
    """Phrase search is keyed joins of term-filtered postings — no
    cartesian/nested-loop anywhere, and the scan reads only (doc_id,
    text)."""
    from vector_db_at_home_spark.operators.invindex import phrase_search
    from vector_db_at_home_spark.sources import load_table

    docs = load_table(spark, SF, "documents")
    df = phrase_search(docs, "the query", "text", "doc_id")
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    cols = scan_read_schema(df)
    assert cols and set(cols) <= {"doc_id", "text"}, cols


def test_second_moment_partial_aggregation(spark):
    """The Gram-matrix groupBy partial-aggregates map-side (the explode
    fans out dim² rows per vector; without map-side combine the exchange
    would carry all of them)."""
    from vector_db_at_home_spark.operators.embeddings import (
        second_moment_matrix,
    )
    from vector_db_at_home_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings")
    plan = formatted_plan(second_moment_matrix(emb, "embedding"))
    assert "partial_sum" in plan


def test_jsonl_source_schema_first_no_inference_scan(spark, tmp_path):
    """The schema-first JSONL read plans exactly ONE scan of the files
    (inference would add a second full pass) and prunes to the declared
    schema."""
    import json as _json

    from vector_db_at_home_spark.sources.records import load_jsonl_corpus

    d = tmp_path / "jl"
    d.mkdir()
    (d / "a.jsonl").write_text(
        "\n".join(_json.dumps({"rid": i, "text": f"doc {i}", "extra": "x"})
                  for i in range(5)))
    df = load_jsonl_corpus(spark, str(d), "rid long, text string",
                           id_field="rid")
    from vector_db_at_home_spark.plans.explain import simple_plan

    plan = simple_plan(df)
    assert plan.count("Scan json") == 1, plan
    # only the declared fields reach the scan — 'extra' never read
    cols = scan_read_schema(df)
    assert cols and "extra" not in cols, cols


def test_semantic_dedup_no_cartesian(spark):
    """SemDeDup's plan is the k-means assign + ONE cell-keyed
    applyInPandas — no pair fan-out, no cartesian."""
    from vector_db_at_home_spark.operators.dedup import semantic_dedup
    from vector_db_at_home_spark.sources import load_table

    emb = load_table(spark, SF, "embeddings").select(
        "vec_id", "embedding")
    df = semantic_dedup(emb, "vec_id", "embedding", n_cells=4)
    plan = formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "FlatMapGroupsInPandas" in plan or "ArrowGroupMap" in plan, plan
