"""Plan-shape goldens (SURVEY.md §5.2.5): assert the optimizer artifacts the
100 TB posture depends on — pushed filters, pruned scans, broadcast joins,
map-side partial aggregation, top-k physical operator, bounded shuffles —
without timing flakiness.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from final_project_big_data_spark.queries import all_specs

SPECS = all_specs()


def plan(spark, name: str, sf_dir: str) -> str:
    df = SPECS[name].builder(spark, sf_dir)
    return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def test_filter_pushed_to_parquet_scan(spark, sf_dir):
    p = plan(spark, "q02_filter_compare", sf_dir)
    assert "GreaterThan(l_quantity,30.0)" in p, p


def test_scan_prunes_to_projected_columns(spark, sf_dir):
    p = plan(spark, "q01_scan_project", sf_dir)
    assert (
        "ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double>"
        in p
    ), p


def test_small_dim_join_broadcasts(spark, sf_dir):
    p = plan(spark, "q07_join_broadcast", sf_dir)
    assert "BroadcastHashJoin" in p, p
    assert "SortMergeJoin" not in p, p


def test_q06_order_pushed_below_join(spark, sf_dir):
    """q06: the output order is produced BELOW the join (range_presorted
    narrow fact projection), so the plan carries exactly ONE range
    exchange — the final orderBy is satisfied by the join's preserved
    streamed-side partitioning and compiles to nothing. Without the
    push-down the range exchange sits ABOVE the join and its sampling
    pass re-executes the whole join."""
    p = plan(spark, "q06_join_inner", sf_dir)
    assert p.count("rangepartitioning") == 1, p
    assert "BroadcastHashJoin" in p, p  # orders auto-broadcasts at test sf


def test_range_presorted_equals_plain_orderby(spark, sf_dir):
    """range_presorted + join + orderBy returns EXACTLY the rows, in
    EXACTLY the order, of the naive join-then-orderBy formulation — the
    push-down is a physical rewrite, never a semantic one."""
    from final_project_big_data_spark.io import load_table
    from final_project_big_data_spark.plans.ordering import range_presorted

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    naive = (
        li.join(o, F.col("l_orderkey") == o.o_orderkey)
        .select("l_orderkey", "l_linenumber", "o_totalprice")
        .orderBy("l_orderkey", "l_linenumber")
    )
    pushed = (
        range_presorted(li, "l_orderkey", "l_linenumber")
        .join(o, F.col("l_orderkey") == o.o_orderkey)
        .select("l_orderkey", "l_linenumber", "o_totalprice")
        .orderBy("l_orderkey", "l_linenumber")
    )
    assert pushed.collect() == naive.collect()


def test_hash_aggregate_has_partial_stage(spark, sf_dir):
    # map-side combine: partial HashAggregate before the shuffle, final after
    p = plan(spark, "q15_hash_aggregate", sf_dir)
    assert p.count("HashAggregate") >= 2, p
    assert "partial_sum" in p, p


def test_topk_uses_take_ordered(spark, sf_dir):
    """q26's physical top-k (round 9, VERDICT r8 #8): the plan must be
    TakeOrderedAndProject — per-partition heap + k-row driver merge —
    with NO global sort and NO range exchange anywhere (a stray
    rangepartitioning would resurrect the full-sort cliff at volume).
    When the 1000× probe fixture is on disk, the same pins are asserted
    against the EXECUTED (AQE-final) plan at that volume, so the claim
    is not planning-time-only."""
    import os

    p = plan(spark, "q26_topk", sf_dir)
    assert "TakeOrderedAndProject" in p, p
    assert "rangepartitioning" not in p, p
    assert "\n   Sort " not in p and "(Sort " not in p, p
    big = "/tmp/spark_graft_scale_probe_x1000"
    if os.path.isdir(os.path.join(big, "orders.parquet")):
        df = SPECS["q26_topk"].builder(spark, big)
        df.write.mode("overwrite").format("noop").save()
        executed = df._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in executed, executed
        assert "rangepartitioning" not in executed, executed


def test_semi_anti_join_physical(spark, sf_dir):
    assert "Semi" in plan(spark, "q10_join_semi", sf_dir)
    assert "Anti" in plan(spark, "q11_join_anti", sf_dir)


def test_asof_join_single_hash_shuffle(spark, sf_dir):
    """The as-of operator's value proposition: ONE hash exchange on the key
    (plus the final presentation sort), never an O(L×R) join."""
    p = plan(spark, "x01_asof_join", sf_dir)
    # exactly one hash shuffle (on the join key) + the final presentation sort
    assert p.count("Arguments: hashpartitioning(user_id") == 1, p
    assert p.count("Arguments: rangepartitioning") == 1, p
    assert "NestedLoop" not in p and "CartesianProduct" not in p, p


def _tree_lines(spark, name: str, sf_dir: str) -> list[str]:
    df = SPECS[name].builder(spark, sf_dir)
    return spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    ).splitlines()


def _below(lines: list[str], i: int) -> str:
    """The subtree under node line ``i`` of a simple-mode plan tree."""
    indent = lambda s: len(s) - len(s.lstrip(" :|+-"))  # noqa: E731
    out = []
    for line in lines[i + 1 :]:
        if indent(line) <= indent(lines[i]):
            break
        out.append(line)
    return "\n".join(out)


def _node(lines: list[str], needle: str) -> int:
    return next(i for i, line in enumerate(lines) if needle in line)


def test_d06_pair_kernel_runs_once_on_the_raw_scan(spark, sf_dir, monkeypatch):
    """d06's NumPy pair kernel: the final range sort reads a hash shuffle
    on id_a, not the kernel itself — a range exchange placed directly on
    the kernel re-runs it to sample its bounds (plans/ordering.py) — and
    the scan feeds the label exchange with no HOF and no round-robin
    exchange below the kernel (it computes the norms itself)."""
    monkeypatch.setenv("SPARK_GRAFT_PAIR_KERNEL", "np")
    lines = _tree_lines(spark, "d06_embedding_near_dup", sf_dir)
    p = "\n".join(lines)
    kern = _node(lines, "FlatMapGroupsIn")
    rng = _node(lines, "Exchange rangepartitioning")
    between = "\n".join(lines[rng + 1 : kern])
    assert "Exchange hashpartitioning(id_a" in between, p
    below = _below(lines, kern)
    assert "lambdafunction" not in below, p
    assert "RoundRobinPartitioning" not in below, p


def test_s02_signature_computed_once_and_tiny_sort(spark, sf_dir):
    """s02: the LSH signature is provably non-null, so no inferred
    isnotnull(bucket) filter drags the interpreted signature below
    widen's round-robin exchange into the scan task; the output is
    bounded at probes × k rows, so it takes tiny_sorted, not a range
    sort."""
    lines = _tree_lines(spark, "s02_lsh_ann_topk", sf_dir)
    p = "\n".join(lines)
    rr = [i for i, line in enumerate(lines) if "RoundRobinPartitioning" in line]
    assert rr, p
    for i in rr:
        assert "aggregate(" not in _below(lines, i), p
    assert "rangepartitioning" not in p, p


def test_s01_scan_kernel_has_no_python_leaf(spark, sf_dir, monkeypatch):
    """s01's scan kernel is driven by a JVM Range leaf, one task per row
    group: no pickled Python RDD (ExistingRDD) and no exchange under the
    MapInPandas node."""
    monkeypatch.setenv("SPARK_GRAFT_PAIR_KERNEL", "np")
    monkeypatch.delenv("SPARK_GRAFT_S01_KERNEL", raising=False)
    lines = _tree_lines(spark, "s01_cosine_topk", sf_dir)
    p = "\n".join(lines)
    below = _below(lines, _node(lines, "MapInPandas"))
    assert "Range (" in below, p
    assert "ExistingRDD" not in below and "Exchange" not in below, p


@pytest.mark.parametrize(
    "name",
    ["q14_multiway_join", "q22_window_rank", "q41_stats_agg"],
)
def test_no_cartesian_anywhere(spark, sf_dir, name):
    p = plan(spark, name, sf_dir)
    assert "CartesianProduct" not in p, p


def test_presort_for_join_is_cost_based(spark, sf_dir):
    """range_presorted_for_join presorts only while the build side fits
    the broadcast threshold (round 5): the presort is valid only under
    BroadcastHashJoin's streamed-side order preservation, so with the
    threshold forced to 1 byte (→ shuffle join) the helper must return
    the input UNCHANGED — no wasted range exchange below a join that
    will destroy its order (measured at the 100× probe: a double range-
    sort of the 60M-row fact)."""
    from final_project_big_data_spark.io import load_table
    from final_project_big_data_spark.plans.ordering import (
        range_presorted_for_join,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linenumber"
    )
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    presorted = range_presorted_for_join(li, o, "l_orderkey")
    assert "repartitionbyrange" in presorted._jdf.queryExecution().logical() \
        .toString().lower().replace(" ", "") or presorted is not li

    key = "spark.sql.autoBroadcastJoinThreshold"
    old = spark.conf.get(key)
    spark.conf.set(key, "1")
    try:
        plain = range_presorted_for_join(li, o, "l_orderkey")
        assert plain is li  # unchanged: the planner would shuffle
    finally:
        spark.conf.set(key, old)


def test_salted_join_equivalence_and_distribution(spark, sf_dir):
    """salted_join == plain join, and the physical shuffle key includes the
    salt column (the whole point: hot keys scatter across n_salts tasks)."""
    from final_project_big_data_spark.io import load_table
    from final_project_big_data_spark.plans.skew import salted_join

    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    o = load_table(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("l_orderkey"), "o_totalprice"
    )
    plain = li.join(o, "l_orderkey").groupBy().agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()
    salted = salted_join(li, o, "l_orderkey", n_salts=4).groupBy().agg(
        F.count("*").alias("n"), F.round(F.sum("o_totalprice"), 2).alias("s")
    ).collect()
    assert plain == salted

    j = salted_join(li, o, "l_orderkey", n_salts=4)
    p = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        j._jdf.queryExecution(), "formatted"
    )
    assert "__salt" in p, p


def test_runtime_bloom_filter_prunes_shuffle_join(spark, sf_dir):
    """A selective filter on one side of a fact⋈fact shuffle join should be
    convertible into a runtime bloom filter on the other side — at 100 TB
    this prunes the probe-side shuffle before it happens. Thresholds are
    lowered because the fixture is tiny; the rewrite itself is what's
    pinned."""
    from final_project_big_data_spark.io import load_table

    overrides = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in overrides}
    try:
        for k, v in overrides.items():
            spark.conf.set(k, v)
        li = load_table(spark, sf_dir, "lineitem")
        o = load_table(spark, sf_dir, "orders").filter(
            F.col("o_totalprice") > 400000
        )
        j = li.join(o, li.l_orderkey == o.o_orderkey).select(
            "l_orderkey", "o_totalprice"
        )
        optimized = j._jdf.queryExecution().optimizedPlan().toString()
        assert "bloom" in optimized.lower()
        # the rewrite must not change results
        expected = li.join(o, li.l_orderkey == o.o_orderkey).count()
        assert j.count() == expected
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_lateral_topk_decorrelates_to_window_group_limit(spark, sf_dir):
    """q63's correlated LATERAL must not execute per outer row: Catalyst
    rewrites it to a ranked join with WindowGroupLimit (map-side partial
    top-k before the shuffle) and infers the outer filter onto the inner
    side. A BroadcastNestedLoopJoin/CartesianProduct here would be a per-row
    re-execution plan — unusable at scale."""
    p = plan(spark, "q63_lateral_topk", sf_dir)
    assert "WindowGroupLimit" in p, p
    assert "BroadcastNestedLoopJoin" not in p, p
    assert "CartesianProduct" not in p, p


def test_curation_single_shuffle(spark, sf_dir):
    """p01's only exchange is the fingerprint-dedup hash shuffle — scoring,
    language-ID and the quality filter all stay in the scan stage."""
    p = plan(spark, "p01_corpus_curation", sf_dir)
    # one hash exchange (dedup window) + one range exchange (final ORDER BY)
    assert p.count("hashpartitioning(") == 1, p
    assert p.count("rangepartitioning(") == 1, p
    # quality filter evaluated in the scan stage, before any exchange
    assert p.index("Scan parquet") < p.index("hashpartitioning("), p


@pytest.mark.parametrize(
    "name, min_bhj",
    [
        ("q86_tpch_q7_volume", 3),   # supplier/customer/nation broadcasts
        ("q87_tpch_q8_share", 3),    # part/supplier/customer-semi broadcasts
        ("q88_tpch_q9_profit", 2),   # part and supplier⋈nation broadcasts
    ],
)
def test_tpch_multiway_broadcasts_dims(spark, sf_dir, name, min_bhj):
    """Q7/Q8/Q9 shapes: every dimension joins as BroadcastHashJoin; the
    fact-fact pair (lineitem⋈orders) is the only shuffle join; never a
    cartesian."""
    p = plan(spark, name, sf_dir)
    assert p.count("BroadcastHashJoin") >= min_bhj, p
    assert "CartesianProduct" not in p, p


def test_q19_disjunction_pushes_coarse_conjuncts(spark, sf_dir):
    """Q19's OR-of-ANDs: Catalyst extracts the common per-side conjuncts
    (brand IN (...), quantity bounds) below the join so the scans prune
    before the disjunction is re-checked post-join."""
    p = plan(spark, "q94_tpch_q19_disjunctive", sf_dir)
    assert "PushedFilters" in p, p
    # each side receives its full per-side disjunction as a pushed filter:
    # quantity-range OR-chain on lineitem, brand+size OR-chain on part
    assert "Or(Or(And(GreaterThanOrEqual(l_quantity,1.0)" in p, p
    assert "And(EqualTo(p_brand,Brand#1)" in p, p


def test_q10_returns_topk_physical(spark, sf_dir):
    p = plan(spark, "q89_tpch_q10_returns", sf_dir)
    assert "TakeOrderedAndProject" in p, p


def test_q21_decorrelation_avoids_extra_self_joins(spark, sf_dir):
    """The textbook Q21 scans lineitem 3× (l1, EXISTS l2, NOT EXISTS l3).
    The decorrelated order-profile plan needs at most 2 scans and no
    nested-loop artifacts."""
    p = plan(spark, "q95_tpch_q21_waiting", sf_dir)
    # formatted explain prints each scan twice (tree + detail): 5 scans =
    # lineitem×2 + orders×2 + supplier, vs the textbook's 3 lineitem passes
    assert p.count("Scan parquet") <= 10, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p


def test_q5_shape_broadcasts_dims_single_fact_shuffle(spark, sf_dir):
    """q76's 6-way join: every dimension (customer/supplier/nation/region)
    broadcasts; the only shuffle join is lineitem⋈orders, and the date
    filter reaches the orders parquet scan."""
    p = plan(spark, "q76_tpch_q5_shape", sf_dir)
    assert p.count("BroadcastHashJoin") >= 4, p
    assert "CartesianProduct" not in p, p
    assert "1996-01-01" in p and "PushedFilters" in p, p


def test_q2_shape_single_bridge_no_self_join_tree(spark, sf_dir):
    """q96 (TPC-H Q2 shape): the textbook correlated MIN would re-execute
    the supplier⋈nation⋈region join tree per part; the decorrelated plan
    computes ONE regional bridge and takes a window MIN — so lineitem is
    scanned once, all dims broadcast, and no nested-loop artifacts."""
    p = plan(spark, "q96_tpch_q2_min_cost", sf_dir)
    # formatted explain prints each scan twice (tree + detail)
    assert p.count("Scan parquet") <= 12, p  # li+p+s+n+r+reuse, not 2×tree
    assert p.count("BroadcastHashJoin") >= 3, p
    assert "CartesianProduct" not in p and "NestedLoop" not in p, p


def test_q16_shape_anti_join_not_null_aware(spark, sf_dir):
    """q97 (Q16 shape): the NOT IN exclusion list is key-valued (provably
    non-null) so the plan must carry a plain broadcast anti join, never
    the single-threaded null-aware BroadcastNestedLoopJoin arm."""
    p = plan(spark, "q97_tpch_q16_supplier_cnt", sf_dir)
    assert "LeftAnti" in p, p
    assert "NestedLoop" not in p, p


def test_q20_shape_one_fact_aggregate(spark, sf_dir):
    """q98 (Q20 shape): the year-window vs all-time quantity comparison is
    ONE conditional aggregate over one lineitem scan — not two scans
    joined; the part-name filter semi-joins before the aggregate."""
    p = plan(spark, "q98_tpch_q20_nested_in", sf_dir)
    assert p.count("Scan parquet") <= 8, p  # li+part+supp+nation, ×2 print
    assert "LeftSemi" in p, p
    assert "CartesianProduct" not in p, p


def test_corpus_mix_map_side_accept_reject(spark, sf_dir):
    """p02: the accept/reject test is a map-side expression — documents is
    scanned, broadcast-joined to the 5-row rate table, and filtered with
    no shuffle of the corpus itself (the only exchanges belong to the
    tiny per-language aggregates)."""
    p = plan(spark, "p02_corpus_mix", sf_dir)
    assert "CartesianProduct" not in p, p
    assert p.count("BroadcastHashJoin") + p.count("BroadcastNestedLoopJoin") >= 2, p


def test_hash_split_single_shuffle(spark, sf_dir):
    """p03: assignment is a pure map expression; exactly one hash exchange
    (the (split, lang) summary) plus the output sort's range exchange."""
    p = plan(spark, "p03_hash_split", sf_dir)
    assert p.count("Arguments: hashpartitioning") == 1, p
    assert p.count("Arguments: rangepartitioning") == 1, p


def test_event_funnel_user_keyed(spark, sf_dir):
    """q100: every stage aggregates and joins on user_id; the funnel event
    -type filter reaches the parquet scan; never a cartesian."""
    p = plan(spark, "q100_event_funnel", sf_dir)
    assert "CartesianProduct" not in p, p
    assert "event_type" in p and "PushedFilters" in p, p


def test_purchase_streaks_single_user_partitioning(spark, sf_dir):
    """q101: the purchase filter reaches the scan; window + both groupBys
    all key on user_id; no global (unpartitioned) window, no cartesian,
    no self-join materializing day pairs (exactly one scan)."""
    p = plan(spark, "q101_purchase_streaks", sf_dir)
    assert "CartesianProduct" not in p, p
    assert p.count("Scan parquet") <= 2, p  # one events scan (×2 print)
    assert "user_id" in p and "PushedFilters" in p, p


def test_scd2_one_dimension_key_shuffle(spark, sf_dir):
    """q102: one hash exchange on the business key serves all three
    windows (change-detect lag, version row_number, interval-close lead)
    — plus only the presentation sort's range exchange."""
    p = plan(spark, "q102_scd2_history", sf_dir)
    assert p.count("Arguments: hashpartitioning") == 1, p
    assert p.count("Arguments: rangepartitioning") == 1, p
    assert "CartesianProduct" not in p, p


def test_cohort_retention_broadcast_sizes(spark, sf_dir):
    """q103: cohort sizes join the per-(cohort, week) rollup via
    broadcast — the fact-side activity frame never re-shuffles for the
    tiny dimension; no cartesian anywhere."""
    p = plan(spark, "q103_cohort_retention", sf_dir)
    assert "BroadcastHashJoin" in p, p
    assert "CartesianProduct" not in p, p


def test_windowed_topk_group_limit(spark, sf_dir):
    """w05: the rank-within-bucket prunes to k rows per window BEFORE the
    final shuffle (WindowGroupLimit), and the window aggregate has a
    map-side partial stage."""
    p = plan(spark, "w05_windowed_topk", sf_dir)
    assert "WindowGroupLimit" in p, p
    assert "partial_count" in p, p
    assert "CartesianProduct" not in p, p


def test_prefix_filter_join_is_equi(spark, sf_dir):
    """d11: candidate generation is an equi-join on the prefix token —
    never a nested-loop/cartesian pair enumeration."""
    p = plan(spark, "d11_prefix_filter_jaccard", sf_dir)
    assert "CartesianProduct" not in p, p
    assert "BroadcastNestedLoopJoin" not in p, p


def test_cogroup_filter_mirrored_to_both_scans(spark, sf_dir):
    """u07: Catalyst cannot push a predicate through a Python cogroup
    (FlatMapCoGroupsInPandas is opaque), so the key-range filter is
    mirrored by hand onto BOTH inputs — each parquet scan must carry the
    `< 200` pushed filter, or the unmatched side shuffles its whole table
    into Python just to be discarded."""
    p = plan(spark, "u07_cogrouped_pandas", sf_dir)
    assert "LessThan(c_custkey,200)" in p, p
    assert "LessThan(o_custkey,200)" in p, p
    assert "FlatMapCoGroupsInPandas" in p, p


def test_q106_bounds_filter_below_equi_join(spark, sf_dir):
    """q106: the runtime min/max bounds must be APPLIED to the fact side
    BEFORE the equi-join — physically a 1-row IdentityBroadcast nested-
    loop carrying the BETWEEN condition, feeding the probe side of the
    main join. If the bounds ride above the join (or fold away), the
    fact table reaches the join unreduced and the pattern is dead."""
    import re

    p = plan(spark, "q106_runtime_bounds_join", sf_dir)
    assert "k_lo" in p and "k_hi" in p, p
    # formatted explain numbers nodes post-order: children carry SMALLER
    # ids than their parents, so "bounds join below equi-join" is
    # id(BNLJ) < id(equi-join)
    bnlj = re.search(r"BroadcastNestedLoopJoin[^(]*\((\d+)\)", p)
    equi = re.search(r"(?:BroadcastHashJoin|SortMergeJoin)[^(]*\((\d+)\)", p)
    assert bnlj and equi, p
    assert int(bnlj.group(1)) < int(equi.group(1)), p


def test_q105_merge_is_two_partials_one_exchange_each(spark, sf_dir):
    """q105: both slices aggregate map-side (partial HashAggregate below
    the exchange) and the merge is itself a hash aggregate — no sort-
    based agg anywhere, no Python node."""
    p = plan(spark, "q105_incremental_agg", sf_dir)
    assert "SortAggregate" not in p, p
    assert "BatchEvalPython" not in p and "ArrowEvalPython" not in p, p
    assert p.count("HashAggregate") >= 4, p  # partial+final per slice


def test_a02_global_quantile_has_no_unpartitioned_window(spark, sf_dir):
    """Global exact quantiles (round-8 rework): the running count must
    ride the distributed prefix-sum, so every window in the plan is
    partitioned (an UNpartitioned windowspecdefinition starts directly
    with a sort spec — the single-task cliff the rework removed)."""
    import re

    df = SPECS["a02_approx_quantiles"].builder(spark, sf_dir)
    p = df._jdf.queryExecution().optimizedPlan().toString()
    specs = re.findall(r"windowspecdefinition\(([^)]*)\)", p)
    assert specs, p  # the prefix-sum's per-partition running count
    for s in specs:
        first = s.split(",")[0]
        assert " ASC" not in first and " DESC" not in first, (s, p)
