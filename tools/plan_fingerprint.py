"""Generate committed plan-shape fingerprints for the bench headline
queries.

For each headline query the PLANNED (pre-execution) physical plan is
reduced to a small dict of scale-relevant operator counts.  The pytest
twin (``tests/test_plan_shapes.py``) recomputes these and diffs against
the committed JSON, so a plan silently degrading — a broadcast join
becoming a sort-merge join, a new cartesian product, an extra shuffle —
fails CI with a named query instead of surfacing as an unexplained
bench regression three rounds later.

Regenerate (after an INTENTIONAL plan change, with the diff reviewed):

    python tools/plan_fingerprint.py        # rewrites the fixture
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

FIXTURE = (
    Path(__file__).resolve().parent.parent
    / "tests"
    / "fixtures"
    / "plan_shapes.json"
)

# Counted operator markers: enough to catch the degradations that matter
# at scale, coarse enough to survive cosmetic plan-string churn.
MARKERS = {
    "broadcast_hash_join": "BroadcastHashJoin",
    "sort_merge_join": "SortMergeJoin",
    "broadcast_nested_loop": "BroadcastNestedLoopJoin",
    "cartesian": "CartesianProduct",
    "shuffle": "Exchange hashpartitioning",
    "range_exchange": "Exchange rangepartitioning",
    "expand": "Expand",
    "generate": "Generate",
    "python_worker": "BatchEvalPython",  # row-Python UDF: should stay 0
}


# Iterative operators that eagerly materialize (localCheckpoint/persist
# INSIDE the operator call): their executedPlan depends on what the
# CacheManager already holds when the query is built, so an operator-count
# fingerprint is not a pure function of the code.  The corpus-wide
# scale-killer guard (tests/test_plans.py) still covers them.
RUNTIME_MATERIALIZED = {
    "graph_hits_supply",
    "graph_sssp_supply_cost",
    "text_textrank_keywords",  # pagerank materializes internally
    "graph_ppr_supply_seeded",  # personalized_pagerank materializes
    "graph_pagerank_supply_network",  # persist + count at build
    "graph_boruvka_forest",  # per-round pick counts
    "graph_kcore_supply",  # peel-fixpoint change counts
    "graph_bfs_hops",  # per-level frontier emptiness probes
    "dedup_entity_resolution",  # connected-components fixpoint counts
    "dedup_fs_em_params",  # pattern-rollup collect feeds driver-side EM
    "dataset_kcenter_coreset",  # per-round argmax collects + checkpoints
    "text_unigram_lm_vocab",  # per-iteration EM collects on the word table
    "text_unigram_encode_counts",  # trains (collects) before encoding
    "text_lm_perplexity",  # trains (collects) before scoring
    "similarity_incremental_ivf_assign",  # train_centroids collects at build
    "similarity_ivf_recall_at_k",  # train_centroids collects at build
    "dataset_leakage_safe_split",  # connected-components fixpoint counts
}


def fingerprint(df) -> dict[str, int]:
    from heparchy_spark.plans import executed_plan

    plan = executed_plan(df)
    return {k: plan.count(v) for k, v in MARKERS.items()}


def compute_all(sf_dir: str = "/root/testdata/sf0.01") -> dict[str, dict]:
    from bench import HEADLINE
    from heparchy_spark.queries import spark_queries
    from heparchy_spark.session import get_spark

    spark = get_spark("plan-fingerprint")
    qs = spark_queries()
    out = {}
    for name in HEADLINE:
        if name in RUNTIME_MATERIALIZED:
            continue
        out[name] = fingerprint(qs[name](spark, sf_dir))
    spark.stop()
    return out


if __name__ == "__main__":
    shapes = compute_all()
    FIXTURE.write_text(json.dumps(shapes, indent=1, sort_keys=True) + "\n")
    print(f"wrote {len(shapes)} plan fingerprints to {FIXTURE}")
