"""Physical-plan gate on a pinned query subset.

The full-catalog sweep lives in scripts/plan_inventory.py (regenerates
PLANS.md and exits nonzero on violations); this test runs the identical
gate on a pinned, shape-diverse subset so a plan regression — a new
CartesianProduct, a broadcast that silently became a sort-merge join, a
filter that stopped reaching the parquet reader — fails the suite in
seconds instead of surfacing in the next full sweep.

Subset selection: every distinct join/agg/window/iterative shape family
has a representative, including the three shapes that HAVE failed the
gate historically (non-equi candidate pair join -> CartesianProduct;
full-outer SMJ misclassified; scan-filter queries where pushdown
matters).
"""

from __future__ import annotations

import pytest

from pwc_challenge_dataengineer_spark.plans.catalog import QUERIES
from pwc_challenge_dataengineer_spark.plans.plan_audit import (
    audit_df,
    gate_violations,
)

# Pinned: name -> why it is in the subset.
GATE_SUBSET = {
    "sales_summary": "headline multi-join agg",
    "star_join_filtered": "canonical star: 4 broadcasts + 1 agg exchange",
    "broadcast_region_join": "explicit broadcast chain",
    "change_classify": "full-outer SMJ (legal shape, must not gate-fail)",
    "basket_jaccard_yoy": "full-outer on composite key",
    "mmr_diverse_topk": "non-equi candidate pair join (was CartesianProduct)",
    "top3_per_nation": "partitioned window + filter",
    "tpch_q3": "shipped-priority join-agg with scan filters",
    "tpch_q19": "disjunctive pushable predicates",
    "minhash_lsh_pairs": "LSH bucket self-join",
    "left_anti_idempotent": "anti-join idempotency shape",
    "keyset_orders_page": "keyset pagination: filter must push down",
    "recursive_bom_explosion": "native WITH RECURSIVE (UnionLoop + per-iter BHJ)",
    "kmv_theta_algebra": "ORDER BY h LIMIT k must stay TakeOrderedAndProject",
    "point_in_polygon_join": "literal ring table: BNLJ allowed, no cartesian",
    "mutual_nn_matching": "bucketed 9-cell candidate join, two rank-1 windows",
}


@pytest.mark.parametrize("name", sorted(GATE_SUBSET))
def test_plan_gate(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    stats = audit_df(name, df)
    bad = gate_violations([stats])
    assert not bad, f"{GATE_SUBSET[name]}: {bad}"


def test_full_outer_smj_is_not_a_violation(spark, sf_dir):
    """The gate must classify full-outer SMJs as legal, not as missing
    broadcasts — Spark has no broadcast full-outer strategy."""
    st = audit_df(
        "change_classify", QUERIES["change_classify"](spark, sf_dir)
    )
    assert st.smj_full_outer >= 1
    assert st.smj == 0


def test_bucketed_gold_join_has_zero_exchanges(spark, sf_dir):
    """The end-to-end bucketed layout: scan -> merge join -> aggregate
    with no Exchange anywhere (and the gate accepts that SMJ)."""
    st = audit_df(
        "bucketed_gold_order_profile",
        QUERIES["bucketed_gold_order_profile"](spark, sf_dir),
    )
    assert st.error is None
    assert st.exchanges == 0, st
    assert st.smj == 1, st
    assert not gate_violations([st])


def test_bucketed_gold_conf_does_not_leak(spark, sf_dir):
    """r14: the sorted-bucket-scan conf lives in an isolated child session;
    the caller's session must come back (and plan later bucketed scans)
    with the legacy flag untouched."""
    key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    before = spark.conf.get(key, None)
    df = QUERIES["bucketed_gold_order_profile"](spark, sf_dir)
    assert df.count() > 0
    assert spark.conf.get(key, None) == before
    # and the optimization itself still holds: merge join with ZERO
    # standalone Sort operators ("Sort " never matches "SortMergeJoin")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Sort ") == 0, plan
    st = audit_df("bucketed_gold_order_profile", df)
    assert st.exchanges == 0 and st.smj == 1, st


def test_bucketed_gold_reuses_one_child_session(spark, sf_dir):
    """Repeated calls plan on one memoized child session instead of
    leaving a new session behind per call; the caller's session never
    gets the sorted-scan conf."""
    key = "spark.sql.legacy.bucketedTableScan.outputOrdering"
    a = QUERIES["bucketed_gold_order_profile"](spark, sf_dir)
    b = QUERIES["bucketed_gold_order_profile"](spark, sf_dir)
    assert a.sparkSession is b.sparkSession
    assert a.sparkSession is not spark
    assert a.sparkSession.conf.get(key) == "true"
    assert spark.conf.get(key, None) is None


def test_recursive_plan_is_unionloop_with_hash_joins(spark, sf_dir):
    """The recursion family must plan as UnionLoop with per-iteration
    hash joins — a CartesianProduct or nested-loop fallback inside the
    loop body would blow up at hierarchy scale."""
    df = QUERIES["recursive_bom_explosion"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "UnionLoop" in plan
    assert "CartesianProduct" not in plan


def test_kmv_topk_avoids_global_sort(spark, sf_dir):
    """KMV sketches take ORDER BY h LIMIT k — Spark must plan
    TakeOrderedAndProject (per-partition top-k + k-row merge), never a
    global Sort + Limit."""
    df = QUERIES["kmv_theta_algebra"](spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan
