"""Plan-shape regression tests: the scale properties this engine
promises (SCALE.md) asserted against the actual Catalyst physical
plans, so a refactor that silently adds a shuffle, breaks column
pruning, or un-pushes a predicate fails CI — not a 100 TB run.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from server_spark import registry


@pytest.fixture(scope="module")
def plans(spark):
    qs = registry.queries()

    def plan(name: str, mode: str = "simple") -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[name](spark, "/root/testdata/sf0.001").explain(mode)
        return buf.getvalue()

    return plan


def test_a2_median_single_shuffle(plans):
    """The exact-median stats plan must keep ONE hash exchange — the
    window and the follow-up groupBy share the same partitioning."""
    p = plans("a2_price_stats_median")
    assert p.count("Exchange hashpartitioning") == 1


def test_o3_topk_no_global_sort(plans):
    """LIMIT-with-order plans as TakeOrderedAndProject (per-partition
    top-k + merge), never a full sort + exchange."""
    p = plans("o3_top10_expensive")
    assert "TakeOrderedAndProject" in p
    assert p.count("Exchange hashpartitioning") == 0


def test_j1_enrich_broadcasts_dimension(plans):
    """Dimension enrich is a broadcast hash join with zero shuffles."""
    p = plans("j1_item_enrich")
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange hashpartitioning") == 0


def test_j4_semi_join_pruned_scan(plans):
    """Owners-by-items: broadcast semi join, one agg shuffle, and the
    fact scan reads ONLY the three columns the query needs (the md5
    row-id and everything else pruned at the parquet footer)."""
    p = plans("j4_owners_by_items")
    assert "BroadcastHashJoin" in p
    assert p.count("Exchange hashpartitioning") == 1
    f = plans("j4_owners_by_items", "formatted")
    m = re.search(r"ReadSchema: struct<([^>]*)>", f)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(",") if c)
    assert cols == ["l_partkey", "l_quantity", "l_suppkey"]


def test_w3_both_frames_one_window(plans):
    """Lag delta + moving average evaluate in ONE Window node over one
    sort — adding a frame must not add a shuffle."""
    p = plans("w3_lag_moving_avg")
    assert p.count("Exchange hashpartitioning") == 2  # agg + window re-key
    assert p.count("Window") == 1


def test_p5_time_range_pushed_to_scan(plans):
    """The ts range filter must reach the parquet scan as raw int64
    bounds (ts is physically TIMESTAMP(NANOS) → filters on the
    converted column are not pushable)."""
    f = plans("p5_time_range", "formatted")
    m = re.search(r"PushedFilters: \[([^\]]*)\]", f)
    pushed = m.group(1)
    assert "GreaterThanOrEqual(ts" in pushed
    assert "LessThan(ts" in pushed


def test_t7_retention_pushed_to_scan(plans):
    f = plans("t7_retention_prune", "formatted")
    pushed = re.search(r"PushedFilters: \[([^\]]*)\]", f).group(1)
    assert "GreaterThanOrEqual(ts" in pushed


def test_a2c_quantiles_single_shuffle(plans):
    """Rank-selection quantiles reuse the a2 shape: rank window and
    groupBy share one hash partitioning on item."""
    p = plans("a2c_price_quantiles")
    assert p.count("Exchange hashpartitioning") == 1


def test_t8_funnel_single_shuffle_no_self_join(plans):
    """The sequence match is one window pass per user: a single
    exchange and no join of events against events."""
    p = plans("t8_funnel_conversion")
    assert p.count("Exchange hashpartitioning") == 1
    assert "Join" not in p


def test_w8_ohlc_single_shuffle(plans):
    """first/last_value windows and the OHLC agg share the
    (series, day) partitioning."""
    p = plans("w8_ohlc_daily")
    assert p.count("Exchange hashpartitioning") == 1


def test_a10_pivot_two_level_agg_no_prescan(plans):
    """Pivot with an explicit value list plans as the two-level
    hash-agg — (item, flag) pre-agg then pivotfirst on item — with
    exactly those two exchanges and NO distinct-value pre-scan job
    (the plan contains pivotfirst directly, no separate collect)."""
    p = plans("a10_pivot_timeleft")
    assert p.count("Exchange hashpartitioning") == 2
    assert "pivotfirst" in p


def test_x27_norm_trim_broadcasts_flags(plans):
    """The outlier trim joins per-vector norms to the histogram flags
    by broadcast — no shuffle of the corpus for the join."""
    p = plans("x27_norm_outlier_trim")
    assert "BroadcastHashJoin" in p


def test_bucketed_join_has_no_exchange(spark, tmp_path_factory):
    """Two tables bucketed on the join key with equal bucket counts
    join with ZERO exchanges — the write-time shuffle is reused."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from server_spark.plans import bucketing as bk

    prev = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet").select(
        F.col("l_orderkey").alias("auc"), F.col("l_extendedprice").alias("buyout")
    )
    nxt = prev.withColumn("buyout", F.col("buyout") * 1.1)
    bk.write_bucketed(prev, "snap_prev", "auc")
    bk.write_bucketed(nxt, "snap_next", "auc")
    # disable broadcast: at test scale the planner would broadcast the
    # tiny side (and skip bucketed scans); the 100 TB scenario this
    # guards is fact-to-fact where broadcast is impossible
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = bk.colocated_join(spark, "snap_prev", "snap_next", "auc")
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("simple")
        plan = buf.getvalue()
        assert "SortMergeJoin" in plan
        assert "Exchange hashpartitioning" not in plan
        assert "Bucketed: true" in plan
        assert joined.count() > 0
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)
        spark.sql("DROP TABLE IF EXISTS snap_prev")
        spark.sql("DROP TABLE IF EXISTS snap_next")


def test_gated_dedup_no_shingle_self_join(plans):
    """x15/x21/x32 must generate dup edges through the LSH gate: no
    exchange keyed on the shingle column anywhere in the plan (the
    exact inverted-index self-join — x2's declared baseline shape —
    is quadratic in hot-shingle frequency and must not appear in the
    cluster pipelines)."""
    join_on_shingle = re.compile(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin) \[shingle"
    )
    assert join_on_shingle.search(plans("x2_ngram_jaccard"))
    for name in (
        "x15_neardup_components",
        "x21_corpus_build",
        "x32_cluster_survivors_quality",
    ):
        assert not join_on_shingle.search(plans(name)), name


def test_aqe_skew_join_split_engages(spark):
    """AQE's skew-join handling must engage on a pathological hot key
    (the backstop for skew the salted_join/max_bucket guards don't
    cover). Forced thresholds make the 5k-row hot partition qualify;
    the executed adaptive plan must mark the join skew=true."""
    from pyspark.sql import functions as F

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "8KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
        "spark.sql.shuffle.partitions": "4",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(5000).select(
            F.when(F.col("id") % 100 == 0, F.col("id")).otherwise(F.lit(0))
            .alias("k"),
            F.sha2(F.col("id").cast("string"), 256).alias("payload"),
        )
        right = spark.range(50).select(
            F.col("id").alias("k"), F.lit("dim").alias("label")
        )
        joined = left.join(right, "k")
        # collect() executes joined's own QueryExecution, so its AQE
        # plan is final and reflects the runtime skew split
        joined.collect()
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_dynamic_partition_pruning_engages(spark, tmp_path_factory):
    """A date-partitioned fact joined to a dim filtered on a NON-join
    column must scan only the partitions the dim survives — Spark's
    dynamic partition pruning injects the dim's date set into the
    fact scan's PartitionFilters at runtime. This is the 100 TB
    contract for medallion layouts: a dashboard query joining a
    curated day-list never touches the other ~3650 day directories."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from server_spark import tables

    root = str(tmp_path_factory.mktemp("dpp")) + "/events_by_day"
    ev = tables.load(spark, "/root/testdata/sf0.001", "events")
    ev.withColumn("event_date", F.to_date("ts")).write.partitionBy(
        "event_date"
    ).mode("overwrite").parquet(root)

    fact = spark.read.parquet(root)
    # dim: every date tagged, only 2 marked "keep" — the static
    # optimizer cannot see which dates survive, so pruning must be
    # dynamic (runtime subquery over the broadcast side)
    dates = [r[0] for r in fact.select("event_date").distinct().collect()]
    dim = spark.createDataFrame(
        [(d, "keep" if i < 2 else "drop") for i, d in enumerate(sorted(dates))],
        "event_date date, tag string",
    )
    joined = fact.join(dim.filter(F.col("tag") == "keep"), "event_date")

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        joined.explain("formatted")
    plan = buf.getvalue()
    assert "dynamicpruning" in plan.lower(), plan
    # and the pruned join is still correct
    keep = {d for i, d in enumerate(sorted(dates)) if i < 2}
    expect = ev.filter(F.to_date("ts").isin(list(keep))).count()
    assert joined.count() == expect


def test_x43_span_build_has_no_predata_shuffle(plans):
    """Span generation is a narrow map over the split array: the ONLY
    hash exchange in x43's plan is the inventory groupBy(span) — no
    doc_id window/shuffle exists upstream of it, and the scan reads
    only (doc_id, text)."""
    p = plans("x43_repeated_spans")
    # exactly the two exchanges of the countDistinct expansion:
    # partial agg keyed (span, doc_id), then final keyed (span) —
    # both with map-side combine; nothing else shuffles
    assert p.count("Exchange hashpartitioning") == 2
    assert "Window" not in p
    f = plans("x43_repeated_spans", "formatted")
    import re as _re

    m = _re.search(r"ReadSchema: struct<([^>]*)>", f)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(",") if c)
    assert cols == ["doc_id", "text"]


def test_j9_scd2_single_shuffle(plans):
    """Both SCD2 windows partition by user_id, so the change-capture
    lag and the versioning row_number/lead share ONE hash exchange."""
    p = plans("j9_scd2_user_state")
    assert p.count("Exchange hashpartitioning") == 1


def test_runtime_bloom_filter_injects_on_shuffle_join(spark):
    """j10's cluster shape: when the filtered dimension cannot
    broadcast, the optimizer must inject a runtime bloom filter
    (bloom_filter_agg on the dim slice, might_contain guarding the
    fact scan) so non-matching fact rows drop before the shuffle.
    Local runs broadcast instead (strictly better), so this test
    forces the cluster thresholds: broadcast off, application-side
    scan threshold zero."""
    import contextlib
    import io

    from pyspark.sql import functions as F

    from server_spark import tables

    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
    }
    saved = {k: spark.conf.get(k, None) for k in conf}
    for k, v in conf.items():
        spark.conf.set(k, v)
    try:
        sf = "/root/testdata/sf0.001"
        ev = tables.load(spark, sf, "events").select("user_id", "value")
        cust = (
            tables.load(spark, sf, "customer")
            .filter(F.col("c_acctbal") > 6000)
            .select("c_custkey", "c_name")
        )
        joined = ev.join(cust, ev.user_id == cust.c_custkey)
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            joined.explain("formatted")
        plan = buf.getvalue()
        assert "bloom_filter_agg" in plan, plan
        assert "might_contain" in plan, plan
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_t14_downsample_single_scan_single_shuffle(plans):
    """The tier split is a projection CASE, not a union of filtered
    scans: one parquet scan, one hash-agg exchange."""
    p = plans("t14_downsample_tiers")
    assert p.count("Scan parquet") == 1
    assert p.count("Exchange hashpartitioning") == 1


def test_x55_dataset_card_one_agg_pruned_scan(plans):
    """Grouping-sets rollup is ONE expanded hash-agg over a 3-column
    scan — no union of per-grain scans."""
    p = plans("x55_dataset_card")
    assert p.count("Scan parquet") == 1
    f = plans("x55_dataset_card", "formatted")
    import re as _re

    m = _re.search(r"ReadSchema: struct<([^>]*)>", f)
    cols = sorted(c.split(":")[0] for c in m.group(1).split(",") if c)
    assert cols == ["lang", "n_chars", "source"]


def test_u5_merge_reuses_window_partitioning(plans):
    """Both merge inputs window over user_id; the full-outer join
    reuses their hash partitioning — exactly 2 exchanges (one per
    side), none added for the join itself."""
    p = plans("u5_cdc_merge")
    assert p.count("Exchange hashpartitioning") == 2


def test_x53_expectations_two_pruned_scans(plans):
    """Aggregate checks fold into one scan; referential integrity is
    the second — nothing else reads the fact."""
    p = plans("x53_data_expectations")
    assert p.count("Scan parquet") == 3  # events x2 + customer dim
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" not in p


def test_w9_share_one_shuffle(plans):
    """The unsorted full-frame window and the follow-up groupBy share
    the item partitioning — one hash exchange total."""
    p = plans("w9_share_of_market")
    assert p.count("Exchange hashpartitioning") == 1


def test_u6_incremental_scd2_semi_join_gate(plans):
    """The increment's users gate the history read: a LeftSemi join
    appears (touched-users gate) and no full cartesian/broadcast-
    nested-loop forms."""
    p = plans("u6_scd2_incremental")
    assert "LeftSemi" in p
    assert "CartesianProduct" not in p


def test_t15_interval_join_not_cartesian(plans):
    """The interval join must plan as an equi-join on user_id with the
    time band as a join-condition residual — never a cartesian/nested-
    loop product over clicks × purchases."""
    p = plans("t15_interval_join")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "SortMergeJoin" in p or "ShuffledHashJoin" in p or "BroadcastHashJoin" in p


def test_x56_entity_resolution_blocked_topk(plans):
    """Record linkage stays blocked: the probe side broadcasts into the
    block join (no all-pairs), and the per-probe top-k is a
    WindowGroupLimit, not a rank-then-filter over a global sort."""
    p = plans("x56_entity_resolution")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert "WindowGroupLimit" in p


def test_u7_bag_setops_no_join(plans):
    """EXCEPT ALL / INTERSECT ALL plan as count-replay aggregates —
    no row-matching join anywhere."""
    p = plans("u7_bag_setops")
    assert "SortMergeJoin" not in p and "CartesianProduct" not in p


def test_j11_scd2_lookup_equijoin_residual(plans):
    """Point-in-time lookup must keep user_id as the equi key with the
    interval test as residual — never degenerate to a nested-loop
    over purchases × versions."""
    p = plans("j11_scd2_lookup")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_f13_variant_no_python(plans):
    """VARIANT parse + typed access stays in JVM expressions."""
    p = plans("f13_variant_payload")
    for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
        assert node not in p


def test_x58_dsir_takeordered_broadcast_vocab(plans):
    """DSIR selection: the top-N is a distributed TakeOrdered over the
    per-doc scores, and the frequency/total sides ride broadcasts —
    no sort-merge join against the token relation."""
    p = plans("x58_dsir_importance")
    assert "TakeOrderedAndProject" in p
    assert "BroadcastHashJoin" in p


@pytest.mark.parametrize(
    "name", ["x3_cosine_topk", "x11_lsh_cosine_topk", "x59_hard_negatives"]
)
def test_x59_hard_negatives_rank_shape(plans, name):
    """Every query ranked by the shared exact rerank keeps x3's shape:
    broadcast query set, one corpus scan, per-query WindowGroupLimit
    rank. (x104 also ranks there, but its lazy barrier hides the rank
    from the final plan.)"""
    p = plans(name)
    assert "BroadcastNestedLoopJoin" in p or "BroadcastHashJoin" in p
    assert "WindowGroupLimit" in p


def test_w10_w11_windows_share_series_partitioning(plans):
    """EWMA and rolling median both partition their window by the
    series key — never a constant — and carry no Python nodes."""
    for name in ("w10_ewma_price", "w11_rolling_median"):
        p = plans(name)
        for node in ("ArrowEvalPython", "BatchEvalPython", "MapInPandas"):
            assert node not in p, name
        assert "CartesianProduct" not in p, name
