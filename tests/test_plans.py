"""Pin the scale-relevant physical-plan properties (PLANS.md's claims).

Each assertion is a regression guard for a plan property that matters
at 100 TB: dim joins must broadcast, the range join must not be a
nested loop, scans must prune and push down, per-group top-k must use
the WindowGroupLimit pushdown, Python must appear only at deliberate
Arrow boundaries.
"""

from __future__ import annotations

from news_lakehouse_spark.plans.audit import audit_plan, final_plan_blocks, formatted_plan
from news_lakehouse_spark.queries import QUERIES


def _audit(spark, sf_dir, name):
    df = QUERIES[name](spark, sf_dir)
    df.collect()  # AQE final plan
    plan = formatted_plan(df)
    return audit_plan(plan), plan


def test_dim_join_broadcasts(spark, sf_dir):
    a, _ = _audit(spark, sf_dir, "j1_left_join_enrich")
    assert a["bhj"] >= 1 and a["smj"] == 0 and a["nlj"] == 0
    # broadcast join: the fact side needs no exchange at all
    assert a["exchanges"] == 0


def test_flat_view_all_dims_broadcast(spark, sf_dir):
    a, _ = _audit(spark, sf_dir, "j6_flat_serving_view")
    assert a["bhj"] == 3 and a["smj"] == 0 and a["exchanges"] == 0


def test_q1_scan_prunes_and_pushes(spark, sf_dir):
    a, _ = _audit(spark, sf_dir, "q1_pricing_summary")
    assert a["scans"] == 1
    assert a["scans_with_pushdown"] == 1  # l_shipdate <= ... reaches the scan
    assert a["read_cols"][0] <= 7  # 7 of lineitem's 16 columns
    assert a["exchanges"] <= 2  # partial+final agg, then sort


def test_range_join_is_not_nested_loop(spark, sf_dir):
    a, _ = _audit(spark, sf_dir, "x_range_join")
    assert a["nlj"] == 0


def test_topk_uses_window_group_limit(spark, sf_dir):
    _, plan = _audit(spark, sf_dir, "o2_topk_per_group")
    heads = [b.splitlines()[0] for b in final_plan_blocks(plan)]
    assert any("WindowGroupLimit" in h for h in heads)


def test_python_only_at_arrow_boundaries(spark, sf_dir):
    for name in ("q1_pricing_summary", "x_token_count",
                 "d1_timestamp_cascade", "x_lang_id"):
        a, _ = _audit(spark, sf_dir, name)
        assert a["python_ops"] == 0, name
    a, _ = _audit(spark, sf_dir, "x_multimodal_bytes")
    assert a["python_ops"] == 1
    # minhash: the vectorized signature kernel (shuffle-free numpy
    # minhash) runs ONCE inside the band-table materialization (r12:
    # materialize.cut — a shuffle-free Arrow subtree has no exchange
    # for AQE to reuse, so every consumer used to re-run the kernel);
    # the FINAL plan therefore shows no Python boundary at all and
    # reads the materialized band table instead
    a, plan = _audit(spark, sf_dir, "x_dedup_minhash_lsh")
    assert a["python_ops"] == 0
    assert "ExistingRDD" in plan  # the checkpointed band table


def test_salted_agg_is_two_stage(spark, sf_dir):
    a, _ = _audit(spark, sf_dir, "x_salted_agg")
    assert a["exchanges"] == 2


def test_q9_dims_broadcast_single_fact_shuffle(spark, sf_dir):
    # Q9 shape: part + supplier→nation broadcast; lineitem shuffles only
    # for the orders join + final agg — never for a dim.
    a, _ = _audit(spark, sf_dir, "q9_product_type_profit")
    assert a["bhj"] >= 2 and a["nlj"] == 0
    assert a["scans_with_pushdown"] >= 1  # p_name LIKE reaches the part scan


def test_q15_date_filter_pushed(spark, sf_dir):
    a, _ = _audit(spark, sf_dir, "q15_top_supplier")
    assert a["scans_with_pushdown"] >= 1  # quarter window on the lineitem scan
    assert a["nlj"] <= 1  # the 1-row max broadcast is the only non-equi join


def test_q16_exclusion_broadcasts(spark, sf_dir):
    # bhj may be 1 when AQE's EmptyRelation propagation removes the
    # anti join outright (empty exclusion list at tiny SF) — either
    # way, nothing may sort-merge or nested-loop.
    a, _ = _audit(spark, sf_dir, "q16_parts_supplier_relationship")
    assert a["bhj"] >= 1 and a["smj"] == 0 and a["nlj"] == 0


def test_q17_per_part_stats_broadcast_back(spark, sf_dir):
    # the parts-bounded (sum, cnt) aggregate must broadcast into the
    # branded fact, not sort-merge it
    a, _ = _audit(spark, sf_dir, "q17_small_quantity_revenue")
    assert a["bhj"] >= 2 and a["smj"] == 0 and a["nlj"] == 0


def test_kll_rollup_stays_jvm_side(spark, sf_dir):
    # sketch build, fold-merge, and quantile read are all built-in
    # expressions: no Arrow boundary, no nested loop; the events scan
    # prunes to the 3 needed columns
    a, _ = _audit(spark, sf_dir, "x_kll_rollup")
    assert a["python_ops"] == 0 and a["nlj"] == 0
    assert a["read_cols"] and max(a["read_cols"]) <= 3


def test_weighted_sample_cutoff_no_full_sort(spark, sf_dir):
    # the cutoff plan may window-sort only the boundary band; the full
    # table never sorts, everything stays JVM-side, limits broadcast
    a, plan = _audit(spark, sf_dir, "x_weighted_sample")
    assert a["python_ops"] == 0 and a["nlj"] == 0 and a["smj"] == 0
