"""Mechanical plan audit over EVERY registered query: scan each query's
physical plan for the scale anti-patterns the 100 TB brief forbids —
unbounded cartesian products, nested-loop joins, and row-at-a-time
Python UDFs (``BatchEvalPython``; Arrow-batched ``ArrowEvalPython`` /
``FlatMapGroupsInPandas`` / ``MapInPandas`` are the sanctioned Python
paths).

Prints ONE JSON line and a per-offender stderr report.  Known-bounded
exceptions are allowlisted EXPLICITLY with the reason (a broadcast
nested loop whose build side is a literal handful of rows is the right
plan for "every row × tiny set"); anything else fails the audit.

Usage: python tools/audit_plans.py [sf_dir]   (default sf0.001 — plan
shapes are scale-independent; building some queries runs real work, so
the smallest scale keeps the sweep fast).  Committed as
AUDIT_PLANS.json.

KNOWN BLIND SPOT (recorded in the JSON as ``caveat``): the audit sees
only the FINAL DataFrame's plan.  Iterative operators that
localCheckpoint per round (NN-descent, beam search, PageRank, BPE's
per-round aggregations) present a checkpoint/LocalTableScan at the top,
hiding their inner per-round plans — those are covered separately by
the targeted assertions in tests/test_plans.py and the shuffle ledgers
in PLANS.md, not by this sweep.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

# Queries whose plan legitimately contains a BroadcastNestedLoopJoin:
# every build side below is bounded BY CONSTRUCTION (a literal handful of
# query vectors, a 1-row scalar aggregate, or a fixed spine) — the right
# plan for "every row × tiny set" (PLANS.md "BNLJ audit").  Every entry
# is a claim; a BNLJ in any query NOT listed here fails the audit.
_QVEC = "bounded query-vector batch broadcast (4-32 rows)"
_SCALAR = "1-row scalar aggregate broadcast (corpus total / threshold)"
KNOWN_BNLJ: dict[str, str] = {
    # exact kNN family + graded recall checks: the query batch is the
    # non-equi side
    "knn_l2": _QVEC, "knn_l2_pandas": _QVEC, "knn_with_payload": _QVEC,
    "knn_filtered_topk": _QVEC, "ann_cosine_topk": _QVEC,
    "ann_ivf_recall": _QVEC, "ann_ivf_cosine_recall": _QVEC,
    "ann_ivf_append_recall": _QVEC, "ann_ivf_filtered_recall": _QVEC,
    "pq_recall": _QVEC, "pq_append_recall": _QVEC, "ivfpq_recall": _QVEC,
    "ivfsq_recall": _QVEC, "bq_hamming_topk": _QVEC,
    "range_search_radius": _QVEC, "text_hash_selfsearch": _QVEC,
    "hybrid_search_rrf": _QVEC, "hybrid_search_rrf_indexed": _QVEC,
    "knn_graph_recall": _QVEC, "knn_graph_append_recall": _QVEC,
    "graph_ann_topk": _QVEC + " + 8 seed rows",
    "graph_ann_serving_topk": _QVEC
    + " + 1-row serving/hop-loop equality aggregate broadcast",
    # LCS kernel check: literal probe strings broadcast against the docs
    "indel_kernel_check": "literal probe strings broadcast",
    # corpus-scalar broadcasts
    "lm_quality_score": _SCALAR, "sketch_rollup_total": _SCALAR,
    "bm25_topk": _SCALAR, "bm25_topk_regex": _SCALAR,
    "bm25_topk_indexed": _SCALAR,
    "q11_important_stock": _SCALAR,
    "q22_dormant_customers": _SCALAR,
    "retrieval_eval_metrics": _SCALAR,
    "semantic_dedup_map": "1-row total_kept aggregate broadcast",
    "semantic_admit_ivf": ("1-row natural_admitted / recall-floor "
                           "aggregate broadcasts"),
    # r8 Gram overflow guard: the 1-row assert_true bound crossJoins in
    # (embeddings.second_moment_matrix — ADVICE r7)
    "embedding_pca_check": _SCALAR,
    # fixed literal spines
    "events_gapfill": "generated time-spine rows",
    "user_funnel": "literal funnel-stage rows",
}

# Row-at-a-time Python is banned EXCEPT the deliberate UDTF extension
# surface (registry docstring: "deliberately the slow path" — the
# codegen'd explode/transform equivalent powers the production shingle
# operators; this query pins the SQL-callable extension API).
KNOWN_BATCH_EVAL: dict[str, str] = {
    "udtf_word_ngrams": "UDTF extension-surface query, documented slow path",
}


def main() -> None:
    from vector_db_at_home_spark import registry
    from vector_db_at_home_spark.plans.explain import formatted_plan
    from vector_db_at_home_spark.session import get_spark

    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("audit_plans")
    spark.sparkContext.setLogLevel("ERROR")

    patterns = ["CartesianProduct", "BroadcastNestedLoopJoin",
                "BatchEvalPython"]
    offenders: dict[str, list[str]] = {}
    allowed: dict[str, list[str]] = {}
    errors: dict[str, str] = {}
    n_ok = 0
    for name, fn in registry.queries().items():
        try:
            plan = formatted_plan(fn(spark, sf_dir))
        except Exception as e:  # a query that cannot even plan is a bug
            errors[name] = f"{type(e).__name__}: {e}"[:200]
            continue
        bad, ok_listed = [], []
        for p in patterns:
            if p in plan:
                if p == "BroadcastNestedLoopJoin" and name in KNOWN_BNLJ:
                    ok_listed.append(f"{p} ({KNOWN_BNLJ[name]})")
                elif p == "BatchEvalPython" and name in KNOWN_BATCH_EVAL:
                    ok_listed.append(f"{p} ({KNOWN_BATCH_EVAL[name]})")
                else:
                    bad.append(p)
        if bad:
            offenders[name] = bad
            print(f"# OFFENDER {name}: {bad}", file=sys.stderr)
        elif ok_listed:
            allowed[name] = ok_listed
            n_ok += 1
        else:
            n_ok += 1

    print(json.dumps({
        "metric": "plan_audit",
        "caveat": ("final-plan sweep only: per-round inner plans of "
                   "iterative operators (localCheckpoint per round) are "
                   "covered by tests/test_plans.py + PLANS.md, not here"),
        "n_queries": len(registry.queries()),
        "n_clean_or_allowlisted": n_ok,
        "offenders": offenders,
        "allowlisted": allowed,
        "plan_errors": errors,
        "sf": sf_dir,
    }))
    spark.stop()
    raise SystemExit(1 if offenders or errors else 0)


if __name__ == "__main__":
    main()
