"""Join and set-operation queries (SURVEY.md §2.3 J1–J7, §2.7 U1–U4,
§2.4 A6/A8/A9).

Snapshot-shaped queries use the ``events`` table (FIXTURES.md §3): a
"snapshot" is one UTC day of events; day-over-day active-user churn
mirrors the reference's prev-vs-next live-auction diff
(`app/pkg/state/state_liveauctions.go` intake [M]).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server_spark.barrier import barrier, lazy_barrier

from server_spark import tables
from server_spark.operators import joins
from server_spark.parity import r4, r4sql
from server_spark.oracles import hindex_kernel, pava_kernel
from server_spark.registry import auctions_sql, register
from server_spark.sources.synthetic import AUCTIONS_SQL_CTE, auctions

# Two adjacent "snapshots" for churn/set-op queries (events span
# 2024-01-01 .. 2024-01-30 at every sf).
DAY_A = "2024-01-10"
DAY_B = "2024-01-11"


def _day_users(spark: SparkSession, sf_dir: str, day: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    return (
        ev.filter(F.to_date("ts") == F.lit(day).cast("date"))
        .select("user_id")
        .distinct()
    )


# ---------------------------------------------------------------------------
# J1 — dimension enrich (broadcast hash join)
# ---------------------------------------------------------------------------


@register(
    "j1_item_enrich",
    auctions_sql(
        """
        SELECT auc, item, owner, buyout, p_name AS item_name,
               p_brand AS item_brand, p_retailprice AS retail_price
        FROM auctions JOIN part ON item = p_partkey
        """
    ),
    doc="J1 — ItemsMap[itemId] lookup as a broadcast hash join of the "
    "auction fact against the item dimension.",
    tags=("join",),
)
def j1_item_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = tables.load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("item"),
        F.col("p_name").alias("item_name"),
        F.col("p_brand").alias("item_brand"),
        F.col("p_retailprice").alias("retail_price"),
    )
    return joins.enrich(
        auctions(spark, sf_dir).select("auc", "item", "owner", "buyout"), dim, "item"
    ).select(
        "auc", "item", "owner", "buyout", "item_name", "item_brand", "retail_price"
    )


# ---------------------------------------------------------------------------
# J2 — hierarchy flatten (region → nation → customer)
# ---------------------------------------------------------------------------


@register(
    "j2_region_hierarchy",
    """
    SELECT r_name AS region_name, n_name AS nation_name,
           COUNT(c_custkey) AS customer_count,
           {AB} AS total_acctbal
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    LEFT JOIN customer ON c_nationkey = n_nationkey
    GROUP BY r_name, n_name
    """.format(AB=r4sql("COALESCE(SUM(c_acctbal), 0)")),
    doc="J2 — region→realm hierarchy flatten: two-level dimension join "
    "rolled up per (region, nation); both dims broadcast.",
    tags=("join",),
)
def j2_region_hierarchy(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = tables.load(spark, sf_dir, "region")
    nation = tables.load(spark, sf_dir, "nation")
    customer = tables.load(spark, sf_dir, "customer")
    return (
        region.join(
            F.broadcast(nation),
            nation.n_regionkey == region.r_regionkey,
        )
        .join(customer, customer.c_nationkey == nation.n_nationkey, "left")
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
        )
        .agg(
            F.count("c_custkey").alias("customer_count"),
            r4(F.coalesce(F.sum("c_acctbal"), F.lit(0))).alias("total_acctbal"),
        )
    )


# ---------------------------------------------------------------------------
# J3 — snapshot churn (full outer diff of adjacent days)
# ---------------------------------------------------------------------------


@register(
    "j3_snapshot_churn",
    f"""
    WITH prev AS (
        SELECT DISTINCT user_id FROM events
        WHERE CAST(ts AS DATE) = DATE '{DAY_A}'
    ),
    next AS (
        SELECT DISTINCT user_id FROM events
        WHERE CAST(ts AS DATE) = DATE '{DAY_B}'
    )
    SELECT
        COALESCE(prev.user_id, next.user_id) AS user_id,
        CASE WHEN prev.user_id IS NULL THEN 'new'
             WHEN next.user_id IS NULL THEN 'removed'
             ELSE 'persisting' END AS status
    FROM prev FULL OUTER JOIN next ON prev.user_id = next.user_id
    """,
    doc="J3 — prev-vs-next snapshot diff: one full-outer join "
    "classifying ids as new/removed/persisting (live-auctions intake "
    "churn).",
    tags=("join", "churn"),
)
def j3_snapshot_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    return joins.snapshot_churn(
        _day_users(spark, sf_dir, DAY_A),
        _day_users(spark, sf_dir, DAY_B),
        "user_id",
    )


# ---------------------------------------------------------------------------
# J5 — unmet demand (anti join)
# ---------------------------------------------------------------------------


@register(
    "j5_unmet_demand",
    auctions_sql(
        """
        SELECT p_partkey AS item, p_name AS item_name
        FROM part
        ANTI JOIN (SELECT item FROM auctions WHERE owner <= 10) a
            ON p_partkey = a.item
        """
    ),
    doc="J5 — unmet demand: catalog items with zero live auctions from "
    "the first ten owners (left anti join).",
    tags=("join",),
)
def j5_unmet_demand(spark: SparkSession, sf_dir: str) -> DataFrame:
    items = tables.load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("item"), F.col("p_name").alias("item_name")
    )
    offered = auctions(spark, sf_dir).filter(F.col("owner") <= 10).select("item")
    return joins.unmet_demand(items, offered, "item")


# ---------------------------------------------------------------------------
# J6 — as-of alignment (history nearest-entry lookup)
# ---------------------------------------------------------------------------


@register(
    "j6_asof_align",
    """
    SELECT c.event_id, c.user_id, c.ts,
           p.value AS last_purchase_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND p.ts <= c.ts
    """,
    doc="J6 — as-of join: each click aligned to the user's most recent "
    "purchase value at or before it. Spark form: union + "
    "last(ignorenulls) window, one shuffle (SURVEY.md §2.3 J6); DuckDB "
    "form: native ASOF JOIN.",
    tags=("join", "asof"),
)
def j6_asof_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    return joins.asof_align(
        clicks, purchases, on="user_id", ts="ts", value="value",
        out="last_purchase_value",
    )


@register(
    "j6b_asof_forward",
    """
    SELECT c.event_id, c.user_id, c.ts,
           p.value AS next_purchase_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    ASOF LEFT JOIN (SELECT user_id, ts, value FROM events
                    WHERE event_type = 'purchase') p
        ON c.user_id = p.user_id AND p.ts >= c.ts
    """,
    doc="J6b — FORWARD as-of join: each click aligned to the user's "
    "NEXT purchase value at or after it (the time-to-conversion "
    "lookup; j6 is the backward form). Same single-shuffle "
    "union+window shape with the frame looking ahead "
    "(first ignorenulls over [current, unbounded following]).",
    tags=("join", "asof"),
    late=True,
)
def j6b_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase")
    return joins.asof_align(
        clicks, purchases, on="user_id", ts="ts", value="value",
        out="next_purchase_value", direction="forward",
    )


# ---------------------------------------------------------------------------
# J7 — range/band join (theta join demo)
# ---------------------------------------------------------------------------

_BANDS = [("low", 0.0, 10000.0), ("mid", 10000.0, 40000.0), ("high", 40000.0, 1e18)]
_BANDS_SQL = ", ".join(f"('{n}', {lo}, {hi})" for n, lo, hi in _BANDS)


@register(
    "j7_band_join",
    auctions_sql(
        f""",
        bands(band, lo, hi) AS (VALUES {_BANDS_SQL})
        SELECT band, COUNT(*) AS n_auctions, {r4sql("SUM(quantity)")} AS total_quantity
        FROM auctions JOIN bands ON buyout >= lo AND buyout < hi
        GROUP BY band
        """
    ),
    doc="J7 — theta/range join: facts banded into price ranges via a "
    "broadcast nested-loop join against an inline band table.",
    tags=("join",),
)
def j7_band_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    bands = spark.createDataFrame(_BANDS, "band string, lo double, hi double")
    return (
        joins.band_join(auctions(spark, sf_dir), bands, "buyout")
        .groupBy("band")
        .agg(
            F.count("*").alias("n_auctions"),
            r4(F.sum("quantity")).alias("total_quantity"),
        )
    )


# ---------------------------------------------------------------------------
# U1–U4 — set operations (new / removed / persisting / union)
# ---------------------------------------------------------------------------


@register(
    "u1_setop_churn",
    f"""
    WITH prev AS (
        SELECT DISTINCT user_id FROM events
        WHERE CAST(ts AS DATE) = DATE '{DAY_A}'
    ),
    next AS (
        SELECT DISTINCT user_id FROM events
        WHERE CAST(ts AS DATE) = DATE '{DAY_B}'
    )
    SELECT 'new' AS status, user_id
    FROM (SELECT user_id FROM next EXCEPT SELECT user_id FROM prev)
    UNION ALL
    SELECT 'removed' AS status, user_id
    FROM (SELECT user_id FROM prev EXCEPT SELECT user_id FROM next)
    UNION ALL
    SELECT 'persisting' AS status, user_id
    FROM (SELECT user_id FROM prev INTERSECT SELECT user_id FROM next)
    """,
    doc="U1+U2+U3 — snapshot set algebra in one labeled relation: "
    "EXCEPT both ways (new/removed) and INTERSECT (persisting). The "
    "three set operators exercised literally; J3 is the single-join "
    "form of the same classification.",
    tags=("setop",),
)
def u1_setop_churn(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The three set-op branches each consume BOTH day-slices; without a
    # materialization barrier the plan re-scans and re-distincts events
    # six times (r4 plan audit: 6 scans / 6 shuffles for a 0.8 s query
    # that should cost 0.3 s). localCheckpoint truncates the lineage so
    # each slice is scanned+deduped once and the EXCEPT/INTERSECT
    # branches read the materialized blocks. At cluster scale the same
    # shape holds with `.persist()` + a shared scan.
    prev = _day_users(spark, sf_dir, DAY_A).transform(lazy_barrier)
    nxt = _day_users(spark, sf_dir, DAY_B).transform(lazy_barrier)
    lab = lambda df, s: df.select(  # noqa: E731
        F.lit(s).alias("status"), "user_id"
    )
    return (
        lab(nxt.exceptAll(prev), "new")
        .unionAll(lab(prev.exceptAll(nxt), "removed"))
        .unionAll(lab(prev.intersect(nxt), "persisting"))
    )


@register(
    "u4_nation_union",
    """
    SELECT c_nationkey AS nationkey FROM customer
    UNION
    SELECT s_nationkey AS nationkey FROM supplier
    """,
    doc="U4 — distinct union of key sets across two relations.",
    tags=("setop",),
)
def u4_nation_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = tables.load(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey")
    )
    s = tables.load(spark, sf_dir, "supplier").select(
        F.col("s_nationkey").alias("nationkey")
    )
    return c.union(s).distinct()


# ---------------------------------------------------------------------------
# A6 / A8 — rollup and cube (regional rollups; free in Spark)
# ---------------------------------------------------------------------------


@register(
    "a6_region_rollup",
    """
    SELECT r_name AS region_name, n_name AS nation_name,
           COUNT(c_custkey) AS customer_count,
           {AB} AS total_acctbal
    FROM region
    JOIN nation ON n_regionkey = r_regionkey
    JOIN customer ON c_nationkey = n_nationkey
    GROUP BY ROLLUP (r_name, n_name)
    """.format(AB=r4sql("COALESCE(SUM(c_acctbal), 0)")),
    doc="A6 — regional rollup: region/nation/grand-total levels in one "
    "pass (GROUPING SETS; partial aggregation reused across levels).",
    tags=("agg", "rollup"),
)
def a6_region_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    region = tables.load(spark, sf_dir, "region")
    nation = tables.load(spark, sf_dir, "nation")
    customer = tables.load(spark, sf_dir, "customer")
    return (
        region.join(F.broadcast(nation), nation.n_regionkey == region.r_regionkey)
        .join(customer, customer.c_nationkey == nation.n_nationkey)
        .select(
            F.col("r_name").alias("region_name"),
            F.col("n_name").alias("nation_name"),
            "c_custkey",
            "c_acctbal",
        )
        .rollup("region_name", "nation_name")
        .agg(
            F.count("c_custkey").alias("customer_count"),
            r4(F.coalesce(F.sum("c_acctbal"), F.lit(0))).alias("total_acctbal"),
        )
    )


@register(
    "a8_flag_status_cube",
    """
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n_rows,
           {Q} AS sum_qty
    FROM lineitem
    GROUP BY CUBE (l_returnflag, l_linestatus)
    """.format(Q=r4sql("SUM(l_quantity)")),
    doc="A8 — cube over (returnflag, linestatus): all grouping-set "
    "combinations in one aggregation.",
    tags=("agg", "rollup"),
)
def a8_flag_status_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = tables.load(spark, sf_dir, "lineitem")
    return li.cube("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n_rows"),
        r4(F.sum("l_quantity")).alias("sum_qty"),
    )


# ---------------------------------------------------------------------------
# A9 — approx distinct (scale-path variant; sketches differ per engine
# so the oracle checks the EXACT count while Spark also reports approx)
# ---------------------------------------------------------------------------


@register(
    "a9_approx_distinct_owners",
    None,  # HLL sketches differ between engines → rows-only check
    doc="A9 — approx_count_distinct of owners per snapshot group: the "
    "100 TB path for A3 (no exact distinct shuffle). Rows-only: HLL "
    "estimates are engine-specific.",
    tags=("agg", "approx"),
)
def a9_approx_distinct_owners(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        auctions(spark, sf_dir)
        .groupBy("time_left")
        .agg(F.approx_count_distinct("owner", 0.01).alias("approx_owner_count"))
    )


# ---------------------------------------------------------------------------
# J8 — skew-resistant salted join (registered demo of operators/joins.
# salted_join; results are provably identical to the plain join)
# ---------------------------------------------------------------------------


@register(
    "j8_salted_skew_join",
    rf"""
    WITH ts AS (
        SELECT event_type, AVG(value) AS type_mean
        FROM events GROUP BY 1
    )
    SELECT e.user_id, e.event_type,
           COUNT(*) AS n_events,
           {r4sql("AVG(e.value - ts.type_mean)")} AS mean_dev
    FROM events e JOIN ts USING (event_type)
    GROUP BY 1, 2
    """,
    doc="J8 — the skew-mitigation join as a first-class registered "
    "query: the events fact joins its per-type mean back on "
    "event_type, a 5-value key. A plain shuffle join puts each key in "
    "ONE task — 5 tasks do all the work no matter how many executors "
    "exist. operators/joins.salted_join spreads every key over 16 "
    "salted shuffle partitions (dim side replicated 16×), so the "
    "oracle — a plain SQL join — proves salting changes row "
    "DISTRIBUTION only, never results. At 100 TB this is the "
    "big-big/hot-key fallback when the small side is too large to "
    "broadcast and AQE can't re-plan the skewed exchange.",
    tags=("join", "skew"),
    late=True,
)
def j8_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events").select(
        "user_id", "event_type", "value"
    )
    type_stats = ev.groupBy("event_type").agg(
        F.avg("value").alias("type_mean")
    )
    joined = joins.salted_join(ev, type_stats, "event_type", n_salts=16)
    return joined.groupBy("user_id", "event_type").agg(
        F.count("*").alias("n_events"),
        r4(F.avg(F.col("value") - F.col("type_mean"))).alias("mean_dev"),
    )


# ---------------------------------------------------------------------------
# U7 — multiset (bag) set operations: EXCEPT ALL / INTERSECT ALL
# ---------------------------------------------------------------------------


@register(
    "u7_bag_setops",
    f"""
    WITH a AS (
        SELECT user_id, event_type FROM events
        WHERE CAST(ts AS DATE) = DATE '{DAY_A}'
    ), b AS (
        SELECT user_id, event_type FROM events
        WHERE CAST(ts AS DATE) = DATE '{DAY_B}'
    ), ex AS (
        SELECT * FROM a EXCEPT ALL SELECT * FROM b
    ), ia AS (
        SELECT * FROM a INTERSECT ALL SELECT * FROM b
    )
    SELECT 'except_all' AS op, event_type, COUNT(*) AS n
    FROM ex GROUP BY event_type
    UNION ALL
    SELECT 'intersect_all' AS op, event_type, COUNT(*) AS n
    FROM ia GROUP BY event_type
    """,
    doc="U7 — bag semantics for the churn set ops: EXCEPT ALL keeps "
    "surplus MULTIPLICITY (a user who clicked 3x on day A and 1x on "
    "day B contributes 2 rows), INTERSECT ALL the shared floor — the "
    "distinct-set forms (U1-U3) can't express per-occurrence deltas. "
    "Spark plans both as one aggregate computing per-key counts on "
    "each side + a generate replaying min/surplus counts — no row-by-"
    "row matching join.",
    tags=("setop", "bag"),
    late=True,
)
def u7_bag_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")

    def day(d: str) -> DataFrame:
        return ev.filter(F.col("ts").cast("date") == d).select(
            "user_id", "event_type"
        )

    a, b = day(DAY_A), day(DAY_B)
    ex = (
        a.exceptAll(b)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .select(F.lit("except_all").alias("op"), "event_type", "n")
    )
    ia = (
        a.intersectAll(b)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .select(F.lit("intersect_all").alias("op"), "event_type", "n")
    )
    return ex.unionByName(ia)


# ---------------------------------------------------------------------------
# A17 — mergeable distinct sketches (incremental COUNT(DISTINCT))
# ---------------------------------------------------------------------------
#
# COUNT(DISTINCT) is the one common aggregate that is NOT incrementally
# maintainable from per-batch counts — distinct sets don't add. The
# standard warehouse remedy is a MERGEABLE sketch column: each refresh
# builds an HLL sketch per group over only the NEW batch, unions it
# into the stored sketch (associative + commutative, so refresh order
# and partitioning never change the result), and the estimate is read
# off the merged sketch — the Datasketches pattern Spark 3.5+ exposes
# natively (hll_sketch_agg / hll_union_agg / hll_sketch_estimate, all
# JVM aggregates).


def distinct_sketches(
    df: DataFrame, keys: list[str], value_col: str, lg_k: int = 12
) -> DataFrame:
    """Per-key HLL sketch of ``value_col`` — the stored, mergeable
    state (binary column ``sketch``). One map-combined hash-agg."""
    return df.groupBy(*keys).agg(
        F.hll_sketch_agg(value_col, F.lit(lg_k)).alias("sketch")
    )


def estimate_distinct(sketches: DataFrame, keys: list[str]) -> DataFrame:
    """Read the per-key estimate off the sketch column."""
    return sketches.select(
        *keys, F.hll_sketch_estimate("sketch").alias("distinct_est")
    )


@register(
    "a17_sketch_distinct_owners",
    None,  # HLL sketch binaries are engine-specific — rows-only; the
    # estimate/merge invariants are pinned by tests/test_medallion.py
    doc="A17 — distinct owners per time_left tier read off MERGEABLE "
    "HLL sketches: daily partial sketches (the stored refresh state) "
    "unioned per tier, estimate taken from the merged sketch. The "
    "incremental form of A3/A9: a refresh unions ONE day's sketches "
    "instead of rescanning history — union is associative, so batch "
    "order and partitioning can't change the answer (asserted exactly "
    "in tests). Datasketches HLL via Spark-native hll_sketch_agg / "
    "hll_union_agg — all JVM aggregates, two map-combined shuffles.",
    tags=("agg", "sketch", "rows-only", "incremental"),
    late=True,
)
def a17_sketch_distinct_owners(spark: SparkSession, sf_dir: str) -> DataFrame:
    live = auctions(spark, sf_dir).withColumn(
        "day", F.to_date("dump_ts")
    )
    partials = distinct_sketches(live, ["time_left", "day"], "owner")
    merged = partials.groupBy("time_left").agg(
        F.hll_union_agg("sketch").alias("sketch")
    )
    return estimate_distinct(merged, ["time_left"]).orderBy("time_left")


# ---------------------------------------------------------------------------
# A18 — item affinity (market-basket co-occurrence with lift)
# ---------------------------------------------------------------------------

_A18_MAX_ITEM = 40   # frequent-itemset gate: catalog subset first


def _colisting_base(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gated distinct (owner, item) incidence relation — THE shared
    substrate of the co-listing graph family (a18 affinity, a20
    pagerank, a21 triangles, a33 k-core). One definition (r11 review
    finding: four inline copies meant a gate change could silently
    make the graph queries measure different graphs)."""
    return (
        auctions(spark, sf_dir)
        .filter(F.col("item") <= _A18_MAX_ITEM)
        .select("owner", "item")
        .distinct()
    )


def _colisting_edges(
    base: DataFrame, directed: bool = False, count_col: str | None = None
) -> DataFrame:
    """Co-listing edges (s, t) from the incidence relation: one
    owner-keyed self-join. ``directed`` keeps both orientations
    (s != t); undirected dedups to s < t. ``count_col`` returns
    per-pair co-listing counts instead of the distinct edge set."""
    a = base.select("owner", F.col("item").alias("s"))
    b = base.select("owner", F.col("item").alias("t"))
    j = a.join(b, "owner").filter(
        F.col("s") != F.col("t") if directed else F.col("s") < F.col("t")
    )
    if count_col is not None:
        return j.groupBy("s", "t").agg(F.count("*").alias(count_col))
    return j.select("s", "t").distinct()
_A18_TOP = 50


@register(
    "a18_item_affinity",
    auctions_sql(
        f""",
        base AS (
            SELECT DISTINCT owner, item FROM auctions
            WHERE item <= {_A18_MAX_ITEM}
        ),
        n AS (SELECT COUNT(DISTINCT owner) AS n_owners FROM base),
        per_item AS (SELECT item, COUNT(*) AS cnt FROM base GROUP BY item),
        pairs AS (
            SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS both_cnt
            FROM base a JOIN base b
              ON a.owner = b.owner AND a.item < b.item
            GROUP BY 1, 2
        )
        SELECT item_a, item_b, both_cnt,
               {r4sql("both_cnt * 1.0 / n.n_owners")} AS support,
               {r4sql("both_cnt * 1.0 / pa.cnt")} AS confidence,
               {r4sql("both_cnt * 1.0 * n.n_owners / (pa.cnt * pb.cnt)")} AS lift
        FROM pairs
        JOIN per_item pa ON item_a = pa.item
        JOIN per_item pb ON item_b = pb.item
        CROSS JOIN n
        ORDER BY lift DESC, item_a, item_b
        LIMIT {_A18_TOP}
        """
    ),
    doc="A18 (EXT analytics) — MARKET-BASKET affinity over the live "
    "snapshot: item pairs co-offered by the same owner, scored with "
    "support / confidence / lift (association-rule mining's first "
    "pass — 'sellers of X also stock Y'). Scale shape: the "
    "frequent-itemset gate (catalog subset / min-support) lands "
    "BEFORE the owner-keyed self-join, so per-owner pair explosion "
    "is bounded by the gated item count, never the raw basket size; "
    "the join shuffles once on owner, counts are one hash-agg, the "
    "result is a distributed top-k on lift.",
    tags=("join", "agg"),
    late=True,
)
def a18_item_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _colisting_base(spark, sf_dir).transform(
        barrier  # feeds totals, per-item counts AND the pair join
    )
    n = base.agg(F.countDistinct("owner").alias("n_owners"))
    per_item = base.groupBy("item").agg(F.count("*").alias("cnt"))
    pairs = _colisting_edges(base, count_col="both_cnt").select(
        F.col("s").alias("item_a"),
        F.col("t").alias("item_b"),
        "both_cnt",
    )
    scored = (
        pairs.join(
            F.broadcast(per_item.select(F.col("item").alias("item_a"),
                                        F.col("cnt").alias("cnt_a"))),
            "item_a",
        )
        .join(
            F.broadcast(per_item.select(F.col("item").alias("item_b"),
                                        F.col("cnt").alias("cnt_b"))),
            "item_b",
        )
        .crossJoin(F.broadcast(n))
        .select(
            "item_a", "item_b", "both_cnt",
            r4(F.col("both_cnt") / F.col("n_owners")).alias("support"),
            r4(F.col("both_cnt") / F.col("cnt_a")).alias("confidence"),
            r4(
                F.col("both_cnt") * F.col("n_owners")
                / (F.col("cnt_a") * F.col("cnt_b"))
            ).alias("lift"),
        )
    )
    return scored.orderBy(
        F.col("lift").desc(), "item_a", "item_b"
    ).limit(_A18_TOP)


# ---------------------------------------------------------------------------
# A20 — item PageRank over the co-listing graph (iterative propagation)
# ---------------------------------------------------------------------------

_PR_ITERS = 10
_PR_DAMP = 0.85


# Promoted from rows-only (r12): DuckDB's recursive CTEs accept
# GROUP BY / windows in the recursive member (probed on 1.0.0), so
# fixed-iteration propagation IS SQL-expressible — each step is one
# rank⋈edges aggregation RIGHT-joined back to the node set (dangling
# nodes keep (1−d)/N), the iteration counter recovered via a window
# when a node had no inflow rows. Constants are computed in DOUBLE
# ((1 - 0.85) unfolded — a DECIMAL literal fold differs in the last
# ulp); both sides canonicalize through r4, absorbing hash-agg
# summation-order ulps.
_A20_SQL = auctions_sql(
    f""",
    base AS (
        SELECT DISTINCT owner, item FROM auctions WHERE item <= {_A18_MAX_ITEM}
    ),
    edges AS (
        SELECT a.item AS src, b.item AS dst, COUNT(*) AS w
        FROM base a JOIN base b
          ON a.owner = b.owner AND a.item <> b.item
        GROUP BY 1, 2
    ),
    wdeg AS (SELECT src, SUM(w) AS wdeg FROM edges GROUP BY 1),
    nedges AS (
        SELECT e.src, e.dst, e.w / d.wdeg AS p
        FROM edges e JOIN wdeg d USING (src)
    ),
    nodes AS (SELECT DISTINCT src AS item FROM edges),
    nn AS (SELECT COUNT(*) AS n FROM nodes),
    rec(it, item, r) AS (
        SELECT CAST(0 AS BIGINT), item,
               CAST(1 AS DOUBLE) / (SELECT n FROM nn)
        FROM nodes
        UNION ALL
        SELECT z.it + 1, z.item,
               (CAST(1 AS DOUBLE) - CAST(0.85 AS DOUBLE))
                   / (SELECT n FROM nn)
                 + CAST(0.85 AS DOUBLE)
                   * COALESCE(z.inflow, CAST(0 AS DOUBLE))
        FROM (
            SELECT n.item, agg.inflow,
                   COALESCE(agg.it, MAX(agg.it) OVER ()) AS it
            FROM nodes n
            LEFT JOIN (
                SELECT r.it, e.dst, SUM(r.r * e.p) AS inflow
                FROM rec r JOIN nedges e ON e.src = r.item
                WHERE r.it < 10
                GROUP BY r.it, e.dst
            ) agg ON agg.dst = n.item
        ) z
        WHERE z.it IS NOT NULL
    )
    SELECT item, {{RN}} AS rank_norm
    FROM rec WHERE it = 10
    ORDER BY rank_norm DESC, item
    """.replace("{RN}", r4sql("r * (SELECT n FROM nn)"))
).replace("WITH \nauctions", "WITH RECURSIVE auctions")
# The replace above is string surgery on auctions_sql()'s output; any
# whitespace drift there turns it into a silent no-op and the oracle
# only fails later at DuckDB runtime (r12 advisor finding). Fail at
# import instead.
assert "WITH RECURSIVE" in _A20_SQL, (
    "a20 oracle surgery no-opped: auctions_sql() header changed; "
    "update the replace target or add a recursive=True variant"
)


@register(
    "a20_item_pagerank",
    _A20_SQL,
    doc="A20 (EXT analytics) — weighted PAGERANK over the item "
    "co-listing graph (a18's edges, symmetric, weighted by co-seller "
    "count): 10 damped iterations of r ← (1−d)/N + d·Σ r(u)·w/wdeg(u) "
    "— the canonical iterative-propagation workload beyond connected "
    "components (centrality: which items anchor the market graph). "
    "Scale shape: each iteration is ONE join of the rank vector "
    "(nodes-sized) to the edge list plus a hash-agg — the classic "
    "Pregel-as-joins form; lineage is cut through a lazy barrier every "
    "third iteration so 10 rounds never stack into one mega-plan (flips "
    "to reliable checkpoints under SPARK_GRAFT_CHECKPOINT_DIR). "
    "Deterministic: fixed iterations, dangling mass redistributed "
    "uniformly, 4-decimal canonical output; pinned against a "
    "plain-Python reference in tests.",
    tags=("ext", "agg", "graph"),
    late=True,
)
def a20_item_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    base = _colisting_base(spark, sf_dir)
    edges = (
        _colisting_edges(base, directed=True, count_col="w")
        .select(F.col("s").alias("src"), F.col("t").alias("dst"), "w")
        .transform(lazy_barrier)  # reused every iteration
    )
    wdeg = edges.groupBy("src").agg(F.sum("w").alias("wdeg"))
    norm_edges = edges.join(wdeg, "src").select(
        "src", "dst", (F.col("w") / F.col("wdeg")).alias("p")
    ).transform(lazy_barrier)
    nodes = edges.select(F.col("src").alias("item")).distinct().transform(
        barrier
    )
    n = nodes.count()  # bounded: gated item subset
    if n == 0:  # empty graph (fresh deployment / over-pruned slice)
        return nodes.select(
            "item", F.lit(None).cast("double").alias("rank_norm")
        )
    ranks = nodes.select("item", F.lit(1.0 / n).alias("r"))
    for i in range(_PR_ITERS):
        contrib = (
            ranks.join(norm_edges, ranks.item == norm_edges.src)
            .groupBy("dst")
            .agg(F.sum(F.col("r") * F.col("p")).alias("inflow"))
        )
        ranks = nodes.join(contrib, nodes.item == contrib.dst, "left").select(
            "item",
            (
                F.lit((1.0 - _PR_DAMP) / n)
                + _PR_DAMP * F.coalesce(F.col("inflow"), F.lit(0.0))
            ).alias("r"),
        )
        if i % 3 == 2:  # cut lineage every 3 rounds: plans stay
            ranks = lazy_barrier(ranks)  # shallow without a per-round sync
    return ranks.select(
        "item", r4(F.col("r") * n).alias("rank_norm")
    ).orderBy(F.col("rank_norm").desc(), "item")


# ---------------------------------------------------------------------------
# A21 — triangle counting / clustering coefficient over the co-listing graph
# ---------------------------------------------------------------------------


def triangle_counts(edges: DataFrame) -> tuple[DataFrame, DataFrame]:
    """Per-node degree and triangle counts from an undirected,
    deduplicated edge list (s < t) — the DEGREE-ORDERED enumeration.

    Direct each edge from its LOWER-(degree, id) endpoint to the
    higher, so a triangle {a ≺ b ≺ c} is enumerated exactly once as
    the wedge (a→b, a→c) closed by b→c, and the wedge fan-out per
    node is its ORIENTED out-degree — bounded by O(√m)/arboricity
    even on a hub-heavy graph, where a raw value orientation (s < t)
    lets a low-id hub fan out by its full degree. Ties on degree
    break by id — a total order, so the orientation is well-defined
    and acyclic. Returns (deg(item, degree), node_tri(item,
    triangles)); per-node triangle counts are orientation-INVARIANT.
    """
    deg = (
        edges.select(F.col("s").alias("item"))
        .unionByName(edges.select(F.col("t").alias("item")))
        .groupBy("item")
        .agg(F.count("*").alias("degree"))
        .transform(lazy_barrier)  # orients every edge AND labels the output
    )
    ds = deg.select(F.col("item").alias("s"), F.col("degree").alias("d_s"))
    dt = deg.select(F.col("item").alias("t"), F.col("degree").alias("d_t"))
    s_first = (F.col("d_s") < F.col("d_t")) | (
        (F.col("d_s") == F.col("d_t")) & (F.col("s") < F.col("t"))
    )
    oriented = (
        edges.join(ds, "s")
        .join(dt, "t")
        .select(
            F.when(s_first, F.col("s")).otherwise(F.col("t")).alias("u"),
            F.when(s_first, F.col("t")).otherwise(F.col("s")).alias("v"),
        )
        .transform(lazy_barrier)  # reused 3x: two wedge legs + the closer
    )
    o1 = oriented.select(F.col("u").alias("a"), F.col("v").alias("b"))
    o2 = oriented.select(F.col("u").alias("a"), F.col("v").alias("c"))
    o3 = oriented.select(F.col("u").alias("b"), F.col("v").alias("c"))
    # the b→c closing join enforces b ≺ c, so each out-neighbor pair
    # of `a` is tried once — no self-pair or double-count filter needed
    tris = o1.join(o2, "a").join(o3, ["b", "c"])
    node_tri = (
        tris.select(F.col("a").alias("item"))
        .unionByName(tris.select(F.col("b").alias("item")))
        .unionByName(tris.select(F.col("c").alias("item")))
        .groupBy("item")
        .agg(F.count("*").alias("triangles"))
    )
    return deg, node_tri


@register(
    "a21_triangle_count",
    auctions_sql(
        f""",
        base AS (
            SELECT DISTINCT owner, item FROM auctions
            WHERE item <= {_A18_MAX_ITEM}
        ),
        edges AS (
            SELECT DISTINCT a.item AS s, b.item AS t
            FROM base a JOIN base b
              ON a.owner = b.owner AND a.item < b.item
        ),
        tris AS (
            SELECT e1.s AS a, e1.t AS b, e2.t AS c
            FROM edges e1
            JOIN edges e2 ON e1.t = e2.s
            JOIN edges e3 ON e3.s = e1.s AND e3.t = e2.t
        ),
        node_tri AS (
            SELECT item, COUNT(*) AS triangles FROM (
                SELECT a AS item FROM tris
                UNION ALL SELECT b AS item FROM tris
                UNION ALL SELECT c AS item FROM tris
            ) GROUP BY 1
        ),
        deg AS (
            SELECT item, COUNT(*) AS degree FROM (
                SELECT s AS item FROM edges
                UNION ALL SELECT t AS item FROM edges
            ) GROUP BY 1
        )
        SELECT d.item AS item, d.degree AS degree,
               COALESCE(nt.triangles, 0) AS triangles,
               {r4sql("CASE WHEN d.degree >= 2 THEN "
                      "2.0 * COALESCE(nt.triangles, 0) "
                      "/ (d.degree * (d.degree - 1)) ELSE 0.0 END")}
                   AS clustering_coeff
        FROM deg d LEFT JOIN node_tri nt ON d.item = nt.item
        ORDER BY item
        """
    ),
    doc="A21 (EXT analytics) — TRIANGLE COUNTING + local clustering "
    "coefficient over the item co-listing graph (a18's edges, "
    "undirected, deduplicated s<t): per node, how many of its "
    "neighbor pairs are themselves connected — the graph-cohesion "
    "metric behind community detection and spam-subgraph flags, and "
    "(with a20's PageRank and x15's connected components) the third "
    "canonical graph workload, expressed as pure relational algebra: "
    "triangle enumeration is the two-hop equi-join edges⋈edges⋈edges "
    "under the DEGREE-ORDERED orientation (edges directed low-(deg,"
    "id)→high, r8): each triangle appears exactly once as a wedge at "
    "its ≺-minimal node closed by an oriented edge, and wedge fan-out "
    "is bounded by the oriented out-degree — O(√m)/arboricity even "
    "on hub-heavy graphs, where a value orientation lets a low-id "
    "hub fan out by its full degree. The oracle keeps the simpler "
    "a<b<c value orientation: per-node triangle counts are "
    "orientation-INVARIANT, so both engines agree by construction. "
    "The frequent-itemset gate additionally bounds the edge list "
    "before any join.",
    tags=("ext", "join", "graph"),
    late=True,
)
def a21_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _colisting_edges(_colisting_base(spark, sf_dir)).transform(
        barrier  # reused 5x below: 3 triangle legs + 2 degrees
    )
    deg, node_tri = triangle_counts(edges)
    joined = deg.join(node_tri, "item", "left").select(
        "item", "degree",
        F.coalesce(F.col("triangles"), F.lit(0)).alias("triangles"),
    )
    return joined.select(
        "item", "degree", "triangles",
        r4(
            F.when(
                F.col("degree") >= 2,
                2.0 * F.col("triangles")
                / (F.col("degree") * (F.col("degree") - 1)),
            ).otherwise(0.0)
        ).alias("clustering_coeff"),
    ).orderBy("item")


# ---------------------------------------------------------------------------
# A22 — EXACT mergeable distinct counts via bitmap aggregates
# ---------------------------------------------------------------------------


@register(
    "a22_bitmap_distinct",
    auctions_sql(
        """
        SELECT time_left, COUNT(DISTINCT item) AS distinct_items
        FROM auctions GROUP BY 1 ORDER BY 1
        """
    ),
    doc="A22 — EXACT distinct items per time_left tier via BITMAP "
    "aggregates (bitmap_bucket_number / bitmap_bit_position / "
    "bitmap_construct_agg / bitmap_count — the Doris/ClickHouse "
    "roaring-bitmap pattern on Spark-native functions): integer keys "
    "land as bits in fixed 32k-bit buckets, per-(group, bucket) "
    "bitmaps OR-merge associatively, the final count sums popcounts. "
    "Fills the gap between A3 (exact COUNT DISTINCT — full shuffle "
    "of distinct values every refresh) and A9/A17 (HLL — mergeable "
    "but approximate): bitmaps are BOTH exact and mergeable, so an "
    "incremental gold can store per-day bitmap partials and fold new "
    "days without rescanning history, at exact-answer fidelity. "
    "Scale: state is O(key-range/8 bytes) worst case but dense keys "
    "compress to ~1 bit/key — the standard exact-distinct engine "
    "for bounded-integer id spaces (items, user ids); arbitrary "
    "strings stay on HLL (a17).",
    tags=("agg", "bitmap", "incremental"),
    late=True,
)
def a22_bitmap_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    live = auctions(spark, sf_dir).select("time_left", "item")
    partials = live.groupBy(
        "time_left", F.bitmap_bucket_number("item").alias("bkt")
    ).agg(
        F.bitmap_construct_agg(F.bitmap_bit_position("item")).alias("bm")
    )
    return (
        partials.groupBy("time_left")
        .agg(F.sum(F.bitmap_count("bm")).alias("distinct_items"))
        .orderBy("time_left")
    )


# ---------------------------------------------------------------------------
# J12 — Bloom-filter pre-join reduction (semi-join pushdown by hand)
# ---------------------------------------------------------------------------

_J12_BRAND = "Brand#23"
_J12_M = 1 << 16          # bloom bits (8 KiB as 1024 longs)
_J12_K = 4                # hash functions


@register(
    "j12_bloom_prejoin",
    auctions_sql(
        f"""
        SELECT time_left, COUNT(*) AS n_auctions,
               {r4sql("SUM(buyout)")} AS gross
        FROM auctions
        WHERE item IN (
            SELECT p_partkey FROM part WHERE p_brand = '{_J12_BRAND}'
        )
        GROUP BY 1 ORDER BY 1
        """
    ),
    doc="J12 — hand-built BLOOM-FILTER pre-join reduction: the "
    "selective item dimension (one brand, ~4% of the catalog) is "
    "folded into a 64 Ki-bit bloom (4x xxhash64, packed into 1024 "
    "longs via bit_or — an 8 KiB broadcast), the fact stream drops "
    "non-members with k O(1) word probes BEFORE the shuffle, and the "
    "exact semi join afterwards removes the ~5e-6 false-positive "
    "residue — so the answer provably equals the plain semi join "
    "(the oracle) while the exchange moves ~4% of the rows. This is "
    "Spark's own runtime row-level filtering (j10) made PORTABLE and "
    "explicit: the same trick pre-filters aggregations, feeds "
    "engines without InSubqueryExec pushdown, and survives when the "
    "dim side is itself a subquery the optimizer won't inline. The "
    "final join is pinned to shuffle (hint) because at 100 TB the "
    "dim outgrows autoBroadcast — exactly the regime where the "
    "bloom's pre-shuffle row cut pays; FP math: (1-e^(-kn/m))^k "
    "with n=|keys|, m=2^16, k=4.",
    tags=("join", "bloom", "runtime-filter"),
    late=True,
)
def j12_bloom_prejoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = (
        tables.load(spark, sf_dir, "part")
        .filter(F.col("p_brand") == _J12_BRAND)
        .select(F.col("p_partkey").alias("item"))
    )
    m, k = _J12_M, _J12_K

    def _positions(col):
        return [
            F.pmod(F.xxhash64(col, F.lit(i)), F.lit(m)).cast("int")
            for i in range(k)
        ]

    # dim -> distinct bit positions -> 1024 packed longs (ONE row).
    positions = dim.select(
        F.explode(F.array(*_positions(F.col("item")))).alias("p")
    ).distinct()
    words = positions.groupBy(
        (F.col("p") / 64).cast("int").alias("w")
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(p % 64 AS INT)))"
        ).alias("bits")
    )
    bloom = words.agg(
        F.map_from_entries(F.collect_list(F.struct("w", "bits"))).alias("wm")
    ).select(
        F.transform(
            F.sequence(F.lit(0), F.lit(m // 64 - 1)),
            lambda i: F.coalesce(
                F.element_at(F.col("wm"), i), F.lit(0).cast("bigint")
            ),
        ).alias("bloom_words")
    )

    fact = auctions(spark, sf_dir).select("item", "time_left", "buyout")
    pcols = _positions(F.col("item"))
    probed = fact.select(
        "*", *[p.alias(f"_bp{i}") for i, p in enumerate(pcols)]
    ).crossJoin(F.broadcast(bloom))
    member = F.expr(
        " AND ".join(
            f"(element_at(bloom_words, CAST(_bp{i} / 64 AS INT) + 1)"
            f" & shiftleft(CAST(1 AS BIGINT), CAST(_bp{i} % 64 AS INT)))"
            f" <> 0"
            for i in range(k)
        )
    )
    pre = probed.filter(member).drop(
        "bloom_words", *[f"_bp{i}" for i in range(k)]
    )

    # Exact verify: shuffle semi join (the 100 TB regime — dim too big
    # to broadcast), operating on the bloom-thinned fact.
    exact = pre.join(dim.hint("shuffle_hash"), "item", "left_semi")
    return (
        exact.groupBy("time_left")
        .agg(
            F.count("*").alias("n_auctions"),
            r4(F.sum("buyout")).alias("gross"),
        )
        .orderBy("time_left")
    )


# ---------------------------------------------------------------------------
# A23 — sketch ALGEBRA: owner-set overlap across tiers via HLL
# inclusion-exclusion (no exact distinct shuffle, mergeable inputs)
# ---------------------------------------------------------------------------


@register(
    "a23_sketch_overlap",
    None,  # HLL estimates are engine-specific — rows-only; the
    # inclusion-exclusion error bound is pinned by pytest against the
    # exact overlap (tests/test_extensions.py)
    doc="A23 — sketch-algebra OVERLAP estimation: for every pair of "
    "time_left tiers, the estimated number of owners active in BOTH, "
    "via HLL inclusion-exclusion |A∩B| ≈ est(A)+est(B)−est(A∪B) — "
    "answered entirely from the a17 gold's stored per-tier sketches "
    "(union is hll_union, one tiny pairwise cross of K sketch rows), "
    "so the cross-tier overlap dashboard never rescans history. "
    "Intersection error grows with |A∪B|·ε (not |A∩B|·ε) — the "
    "documented HLL caveat: fine for 'do these tiers share most "
    "sellers', wrong tool for tiny intersections of huge sets (exact "
    "bitmap golds — a22 — cover that case for integer keys). "
    "Negative estimates from error cancellation clamp to 0.",
    tags=("agg", "sketch", "rows-only"),
    late=True,
)
def a23_sketch_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    live = auctions(spark, sf_dir)
    sketches = live.groupBy("time_left").agg(
        F.hll_sketch_agg("owner", F.lit(12)).alias("sk")
    ).transform(lazy_barrier)  # K rows (one per tier), reused three ways
    a = sketches.select(
        F.col("time_left").alias("tier_a"), F.col("sk").alias("sk_a")
    )
    b = sketches.select(
        F.col("time_left").alias("tier_b"), F.col("sk").alias("sk_b")
    )
    pairs = a.join(b, F.col("tier_a") < F.col("tier_b"))
    est_a = F.hll_sketch_estimate("sk_a")
    est_b = F.hll_sketch_estimate("sk_b")
    est_u = F.hll_sketch_estimate(F.hll_union("sk_a", "sk_b"))
    return pairs.select(
        "tier_a", "tier_b",
        est_a.alias("est_owners_a"),
        est_b.alias("est_owners_b"),
        est_u.alias("est_owners_union"),
        F.greatest(
            F.lit(0).cast("long"), est_a + est_b - est_u
        ).alias("est_owners_both"),
    ).orderBy("tier_a", "tier_b")


# ---------------------------------------------------------------------------
# A24 — market concentration (Herfindahl–Hirschman index per item)
# ---------------------------------------------------------------------------

_A24_MIN_LISTINGS = 20


@register(
    "a24_market_concentration",
    auctions_sql(
        f"""
        , owner_vol AS (
            SELECT item, owner, SUM(quantity) AS q
            FROM auctions GROUP BY item, owner
        ),
        item_tot AS (
            SELECT item, SUM(q) AS tot, COUNT(*) AS n_owners
            FROM owner_vol GROUP BY item
        )
        SELECT ov.item AS item, it.n_owners AS n_owners,
               {r4sql("SUM((ov.q * 1.0 / it.tot) * (ov.q * 1.0 / it.tot))")}
                   AS hhi,
               {r4sql("MAX(ov.q) * 1.0 / ANY_VALUE(it.tot)")}
                   AS top_owner_share
        FROM owner_vol ov JOIN item_tot it ON ov.item = it.item
        WHERE it.tot >= {_A24_MIN_LISTINGS}
        GROUP BY ov.item, it.n_owners
        ORDER BY hhi DESC, item
        """
    ),
    doc="A24 (EXT analytics) — MARKET CONCENTRATION per item: the "
    "Herfindahl–Hirschman index Σ share² over seller quantity shares "
    "plus the top seller's share — the monopoly-detection metric an "
    "auction-house operator watches (HHI → 1 means one seller "
    "controls the item; pairs with a19's Pareto view of revenue "
    "concentration across ITEMS by measuring concentration across "
    "SELLERS within an item). Shape: two stacked hash-aggs on "
    "(item, owner) then item — the second rides the first's "
    "partitioning prefix, and the share arithmetic is pure codegen; "
    "nothing beyond the one fact scan.",
    tags=("ext", "agg"),
    late=True,
)
def a24_market_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    owner_vol = (
        auctions(spark, sf_dir)
        .groupBy("item", "owner")
        .agg(F.sum("quantity").alias("q"))
    )
    item_tot = owner_vol.groupBy("item").agg(
        F.sum("q").alias("tot"), F.count("*").alias("n_owners")
    )
    share = F.col("q") * 1.0 / F.col("tot")
    return (
        owner_vol.join(item_tot, "item")
        .filter(F.col("tot") >= _A24_MIN_LISTINGS)
        .groupBy("item", "n_owners")
        .agg(
            r4(F.sum(share * share)).alias("hhi"),
            r4(F.max("q") * 1.0 / F.any_value("tot")).alias(
                "top_owner_share"
            ),
        )
        .orderBy(F.col("hhi").desc(), "item")
    )


# ---------------------------------------------------------------------------
# A25 — price co-movement network (pairwise series correlation)
# ---------------------------------------------------------------------------

_A25_MIN_DAYS = 10


@register(
    "a25_price_correlation",
    auctions_sql(
        f"""
        , daily AS (
            SELECT item, CAST(dump_ts AS DATE) AS day,
                   AVG(buyout / quantity) AS p
            FROM auctions
            WHERE item <= {_A18_MAX_ITEM} AND buyout > 0
            GROUP BY 1, 2
        )
        SELECT a.item AS item_a, b.item AS item_b,
               COUNT(*) AS n_days,
               {r4sql("corr(a.p, b.p)")} AS price_corr
        FROM daily a JOIN daily b
          ON a.day = b.day AND a.item < b.item
        GROUP BY 1, 2
        HAVING COUNT(*) >= {_A25_MIN_DAYS}
           AND corr(a.p, b.p) IS NOT NULL
        ORDER BY item_a, item_b
        """
    ),
    doc="A25 (EXT analytics) — price CO-MOVEMENT network: pairwise "
    "Pearson correlation of per-item daily average unit prices over "
    "their common trading days — the statistical sibling of a18's "
    "co-listing affinity (a18 asks 'stocked together?', this asks "
    "'do their PRICES move together?' — substitutes correlate "
    "positively, crafting inputs track their outputs, and a "
    "manipulated pair stands out by correlating with nothing). "
    "Shape: one daily hash-agg, then the pair space keyed on the "
    "SHARED day (the join explodes per-day, not all-pairs-up-front) "
    "with corr() as a map-side-combinable moment aggregate; the "
    "item gate bounds the matrix exactly like a18/a21 — at full "
    "catalog the same query runs per category or over the a19 "
    "A-class head, never the raw 10M-item square.",
    tags=("ext", "agg", "correlation"),
    late=True,
)
def a25_price_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        auctions(spark, sf_dir)
        .filter((F.col("item") <= _A18_MAX_ITEM) & (F.col("buyout") > 0))
        .groupBy("item", F.col("dump_ts").cast("date").alias("day"))
        .agg(F.avg(F.col("buyout") / F.col("quantity")).alias("p"))
    )
    a = daily.select(
        F.col("item").alias("item_a"), "day", F.col("p").alias("pa")
    )
    b = daily.select(
        F.col("item").alias("item_b"), "day", F.col("p").alias("pb")
    )
    joined = (
        a.join(b, "day")
        .filter(F.col("item_a") < F.col("item_b"))
        .transform(lazy_barrier)  # reused: variance gate + corr pass
    )
    # corr() must only evaluate on variance-positive pairs: under ANSI
    # mode Spark's corr THROWS DIVIDE_BY_ZERO on a constant series
    # (found by the extended fuzz soak; DuckDB returns NULL, which the
    # oracle's IS NOT NULL drops). A variance pre-pass selects exactly
    # the pairs DuckDB keeps — var_samp is zero, not an error, on
    # constant input in both engines.
    good = (
        joined.groupBy("item_a", "item_b")
        .agg(
            F.count("*").alias("n_days"),
            F.var_samp("pa").alias("vpa"),
            F.var_samp("pb").alias("vpb"),
        )
        .filter(
            (F.col("n_days") >= _A25_MIN_DAYS)
            & (F.col("vpa") > 0)
            & (F.col("vpb") > 0)
        )
        .select("item_a", "item_b")
    )
    return (
        joined.join(F.broadcast(good), ["item_a", "item_b"], "left_semi")
        .groupBy("item_a", "item_b")
        .agg(
            F.count("*").alias("n_days"),
            r4(F.corr("pa", "pb")).alias("price_corr"),
        )
        .orderBy("item_a", "item_b")
    )


# ---------------------------------------------------------------------------
# A26 — Benford first-digit screen (price-manipulation detector)
# ---------------------------------------------------------------------------

_A26_MIN_N = 200  # listings per owner before the test has power


@register(
    "a26_benford_screen",
    auctions_sql(
        f"""
        , digits AS (
            SELECT owner,
                   CAST(regexp_extract(CAST(buyout AS STRING),
                                       '[1-9]', 0) AS BIGINT) AS d
            FROM auctions WHERE buyout > 0
        ),
        dist AS (
            SELECT owner, d, COUNT(*) AS obs,
                   SUM(COUNT(*)) OVER (PARTITION BY owner) AS n
            FROM digits GROUP BY owner, d
        ),
        chi AS (
            SELECT owner, ANY_VALUE(n) AS n_listings,
                   SUM(POW(obs - n * LOG10(1.0 + 1.0 / d), 2)
                       / (n * LOG10(1.0 + 1.0 / d))) AS chi2
            FROM dist GROUP BY owner
        )
        SELECT owner, n_listings, {r4sql("chi2")} AS chi2,
               {r4sql("chi2")} > 15.507 AS flagged
        FROM chi
        WHERE n_listings >= {_A26_MIN_N}
        ORDER BY chi2 DESC, owner
        """
    ),
    doc="A26 (EXT analytics) — BENFORD first-digit screen per seller: "
    "the chi-square distance between each owner's leading-digit "
    "distribution of buyout prices and Benford's law (P(d) = "
    "log10(1+1/d)) — the classic forensic-accounting test, here the "
    "bot/manipulation screen (organic prices follow Benford closely; "
    "scripted price ladders and round-number undercutting do not). "
    "flagged = chi2 over the 0.95 quantile of chi²(8 df). The "
    "leading digit comes from the price's STRING form (first [1-9] "
    "of the shortest repr) — deliberately NOT floor(v/10^floor("
    "log10 v)): libm log10 can land an ulp under an integer at "
    "powers of ten and flip the digit differently per engine, while "
    "shortest-repr digits are engine-identical (the r4 lesson). "
    "Shape: one narrow map, one (owner, digit) hash-agg, one "
    "owner-partitioned total window over ≤9 rows per owner, one "
    "final 9-row-per-owner agg — all map-combinable.",
    tags=("ext", "agg", "fraud"),
    late=True,
)
def a26_benford_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    digits = (
        auctions(spark, sf_dir)
        .filter(F.col("buyout") > 0)
        .select(
            "owner",
            F.regexp_extract(
                F.col("buyout").cast("string"), "[1-9]", 0
            ).cast("bigint").alias("d"),
        )
    )
    dist = digits.groupBy("owner", "d").agg(F.count("*").alias("obs"))
    w = Window.partitionBy("owner")
    dist = dist.withColumn("n", F.sum("obs").over(w))
    exp = F.col("n") * F.log10(1.0 + 1.0 / F.col("d"))
    chi = (
        dist.groupBy("owner")
        .agg(
            F.any_value("n").alias("n_listings"),
            F.sum(F.pow(F.col("obs") - exp, 2) / exp).alias("chi2_raw"),
        )
        .filter(F.col("n_listings") >= _A26_MIN_N)
    )
    # The flag cuts on the r4-CANONICAL chi2, not the raw double: the
    # boolean must flip identically on both engines for an owner whose
    # statistic straddles the threshold (the a19 boundary lesson).
    return chi.select(
        "owner", "n_listings",
        r4(F.col("chi2_raw")).alias("chi2"),
        (r4(F.col("chi2_raw")) > 15.507).alias("flagged"),
    ).orderBy(F.col("chi2").desc(), "owner")


# ---------------------------------------------------------------------------
# A27 — Gini coefficient of monthly owner-revenue concentration
# ---------------------------------------------------------------------------


@register(
    "a27_gini_concentration",
    auctions_sql(
        f"""
        , vol AS (
            SELECT CAST(DATE_TRUNC('month', dump_ts) AS DATE) AS month,
                   owner,
                   SUM(CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT)
                       * CAST(quantity AS BIGINT)) AS v
            FROM auctions GROUP BY 1, 2
        ),
        ranked AS (
            SELECT month, owner, v,
                   ROW_NUMBER() OVER (
                       PARTITION BY month ORDER BY v, owner
                   ) AS rnk
            FROM vol
        )
        SELECT month, COUNT(*) AS n_owners,
               SUM(v) AS total_cents,
               {r4sql("(2.0 * SUM(rnk * v) - (COUNT(*) + 1) * SUM(v))"
                      " / (COUNT(*) * SUM(v))")} AS gini
        FROM ranked
        GROUP BY month
        ORDER BY month
        """
    ),
    doc="A27 (EXT analytics) — GINI COEFFICIENT of owner-revenue "
    "concentration per month: the canonical inequality measure "
    "(G = (2·Σ rank·x − (n+1)·Σx)/(n·Σx) over ascending-sorted "
    "revenues), the market-health metric behind 'is this realm's "
    "economy captured by a few sellers' — complements a24's HHI "
    "(which weights large shares quadratically; Gini reads the whole "
    "Lorenz curve). Determinism: revenue is summed in exact CENTS "
    "(bigint — no float accumulation-order drift), ranks break ties "
    "by owner, and the only double op is the final r4-canonicalized "
    "ratio. Shape: one hash-agg to (month, owner), a month-partitioned "
    "rank window bounded by owners-per-month (dimension-bounded, "
    "never corpus-bounded), one final hash-agg per month.",
    tags=("ext", "agg", "analytics"),
    late=True,
)
def a27_gini_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cents = (
        (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
        * F.col("quantity").cast("bigint")
    )
    vol = (
        auctions(spark, sf_dir)
        .groupBy(
            F.date_trunc("month", "dump_ts").cast("date").alias("month"),
            "owner",
        )
        .agg(F.sum(cents).alias("v"))
    )
    w = Window.partitionBy("month").orderBy("v", "owner")
    ranked = vol.withColumn("rnk", F.row_number().over(w))
    n, tot = F.count("*"), F.sum("v")
    return (
        ranked.groupBy("month")
        .agg(
            n.alias("n_owners"),
            tot.alias("total_cents"),
            r4(
                (2.0 * F.sum(F.col("rnk") * F.col("v")) - (n + 1) * tot)
                / (n * tot)
            ).alias("gini"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# A28 — Zipf exponent of item listing frequencies (power-law fit)
# ---------------------------------------------------------------------------


@register(
    "a28_zipf_exponent",
    auctions_sql(
        f"""
        , cnt AS (
            SELECT time_left, item, COUNT(*) AS c
            FROM auctions GROUP BY 1, 2
        ),
        ranked AS (
            SELECT time_left, c,
                   ROW_NUMBER() OVER (
                       PARTITION BY time_left ORDER BY c DESC, item
                   ) AS rnk
            FROM cnt
        )
        SELECT time_left, COUNT(*) AS n_items,
               {r4sql("REGR_SLOPE(LN(c), LN(rnk))")} AS zipf_slope,
               {r4sql("REGR_INTERCEPT(LN(c), LN(rnk))")} AS zipf_intercept,
               {r4sql("REGR_R2(LN(c), LN(rnk))")} AS fit_r2
        FROM ranked
        GROUP BY time_left
        ORDER BY time_left
        """
    ),
    doc="A28 (EXT analytics) — ZIPF/power-law EXPONENT of item listing "
    "frequencies per market segment: OLS fit of ln(count) on ln(rank) "
    "via the NULL-safe regr_* family (w12's machinery pointed at "
    "rank-frequency structure). The slope is the data-mixing "
    "diagnostic behind Heaps/Zipf-based vocabulary and dedup sizing "
    "(this repo's broadcast-legality rule literally cites these "
    "exponents) — a segment whose |slope| drifts toward 0 is "
    "flattening (bot-generated uniform listings), one steepening "
    "past ~1 is concentrating. Shape: one (segment, item) hash-agg; "
    "the rank window partitions by segment and is bounded by the "
    "item CATALOG (dimension, not corpus); one regr_* hash-agg.",
    tags=("ext", "agg", "analytics"),
    late=True,
)
def a28_zipf_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    cnt = (
        auctions(spark, sf_dir)
        .groupBy("time_left", "item")
        .agg(F.count("*").alias("c"))
    )
    w = Window.partitionBy("time_left").orderBy(F.col("c").desc(), "item")
    ranked = cnt.withColumn("rnk", F.row_number().over(w))
    ln_c, ln_r = F.log(F.col("c")), F.log(F.col("rnk"))
    return (
        ranked.groupBy("time_left")
        .agg(
            F.count("*").alias("n_items"),
            r4(F.regr_slope(ln_c, ln_r)).alias("zipf_slope"),
            r4(F.regr_intercept(ln_c, ln_r)).alias("zipf_intercept"),
            r4(F.regr_r2(ln_c, ln_r)).alias("fit_r2"),
        )
        .orderBy("time_left")
    )


# ---------------------------------------------------------------------------
# A31 — median absolute deviation (robust dispersion) per item
# ---------------------------------------------------------------------------


@register(
    "a31_mad_dispersion",
    auctions_sql(
        f"""
        , priced AS (
            SELECT item, buyout FROM auctions WHERE buyout > 0
        ),
        r1 AS (
            SELECT item, buyout,
                   ROW_NUMBER() OVER (PARTITION BY item ORDER BY buyout) AS rn,
                   COUNT(*)    OVER (PARTITION BY item)                  AS n
            FROM priced
        ),
        med AS (
            SELECT item, AVG(buyout) AS med
            FROM r1 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
            GROUP BY item
        ),
        dev AS (
            SELECT r1.item, ABS(r1.buyout - med.med) AS d, med.med, r1.n
            FROM r1 JOIN med ON r1.item = med.item
        ),
        r2 AS (
            SELECT item, d, med, n,
                   ROW_NUMBER() OVER (PARTITION BY item ORDER BY d) AS rn
            FROM dev
        )
        SELECT item, MAX(n) AS n_listings,
               {r4sql("MAX(med)")} AS median_buyout,
               {r4sql("AVG(d)")} AS mad
        FROM r2 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
        GROUP BY item
        ORDER BY item
        """
    ),
    doc="A31 (EXT analytics) — MEDIAN ABSOLUTE DEVIATION of buyout per "
    "item: the robust dispersion companion to a2 (stddev is wrecked "
    "by the exact outliers an auction house attracts; MAD is the "
    "estimator behind the robust z-score t11/t20 would use at "
    "production). Two rank-median passes — per-item median, then the "
    "median of absolute deviations from it — each spelled as "
    "rank-and-average-middles on BOTH engines (the a2 lesson: native "
    "median() implementations differ in the last ulp). Shape: both "
    "windows partition by item and the follow-up groupBys reuse that "
    "hash partitioning; the deviation join is item-keyed against a "
    "catalog-bounded median table.",
    tags=("ext", "agg", "analytics"),
    late=True,
)
def a31_mad_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    from server_spark.operators.ranking import mid_ranks, ranked_with_count

    priced = (
        auctions(spark, sf_dir)
        .filter(F.col("buyout") > 0)
        .select("item", "buyout")
    )
    w = Window.partitionBy("item")
    r1 = ranked_with_count(priced, ["item"], "buyout")
    med = (
        r1.filter(mid_ranks())
        .groupBy("item")
        .agg(F.avg("buyout").alias("med"))
    )
    dev = r1.join(med, "item").select(
        "item", "n", "med",
        F.abs(F.col("buyout") - F.col("med")).alias("d"),
    )
    r2 = dev.withColumn("rn", F.row_number().over(w.orderBy("d")))
    return (
        r2.filter(mid_ranks())
        .groupBy("item")
        .agg(
            F.max("n").alias("n_listings"),
            r4(F.max("med")).alias("median_buyout"),
            r4(F.avg("d")).alias("mad"),
        )
        .orderBy("item")
    )


# ---------------------------------------------------------------------------
# A32 — Theil index of owner-revenue inequality (decomposable entropy form)
# ---------------------------------------------------------------------------


@register(
    "a32_theil_index",
    auctions_sql(
        f"""
        , vol AS (
            SELECT CAST(DATE_TRUNC('month', dump_ts) AS DATE) AS month,
                   owner,
                   SUM(CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT)
                       * CAST(quantity AS BIGINT)) AS v
            FROM auctions GROUP BY 1, 2
        ),
        tot AS (
            SELECT month, SUM(v) AS t, COUNT(*) AS n FROM vol GROUP BY 1
        )
        SELECT vol.month, MAX(tot.n) AS n_owners,
               {r4sql("SUM((vol.v * 1.0 / tot.t)"
                      " * LN(vol.v * 1.0 * tot.n / tot.t))")} AS theil_t
        FROM vol JOIN tot ON vol.month = tot.month
        GROUP BY vol.month
        ORDER BY vol.month
        """
    ),
    doc="A32 (EXT analytics) — THEIL T INDEX of monthly owner-revenue "
    "inequality: T = Σ sᵢ·ln(n·sᵢ) over revenue shares sᵢ — the "
    "entropy-family companion to a27's Gini with the property Gini "
    "lacks: EXACT decomposability into between-group + within-group "
    "terms (sum per-realm Theils weighted by share and the residual "
    "is the between-realm inequality — the drill-down an analyst "
    "actually runs). Shape advantage over a27: NO rank window at all "
    "— two stacked hash-aggs and a month-keyed join, fully "
    "map-combinable at any scale. Determinism: revenue summed in "
    "exact cents (bigint), shares are single double divisions from "
    "exact integers, r4 on the one output double.",
    tags=("ext", "agg", "analytics"),
    late=True,
)
def a32_theil_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    cents = (
        (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
        * F.col("quantity").cast("bigint")
    )
    vol = (
        auctions(spark, sf_dir)
        .groupBy(
            F.date_trunc("month", "dump_ts").cast("date").alias("month"),
            "owner",
        )
        .agg(F.sum(cents).alias("v"))
    )
    tot = vol.groupBy("month").agg(
        F.sum("v").alias("t"), F.count("*").alias("n")
    )
    share = F.col("v") * 1.0 / F.col("t")
    return (
        vol.join(tot, "month")
        .groupBy("month")
        .agg(
            F.max("n").alias("n_owners"),
            r4(
                F.sum(share * F.log(F.col("v") * 1.0 * F.col("n") / F.col("t")))
            ).alias("theil_t"),
        )
        .orderBy("month")
    )


# ---------------------------------------------------------------------------
# A33 — k-core decomposition (coreness) of the co-listing graph
# ---------------------------------------------------------------------------


def coreness(edges: DataFrame, max_rounds: int = 50) -> DataFrame:
    """Per-node CORENESS of an undirected, deduplicated (s < t) edge
    list via iterated h-index propagation (Lü et al. 2016): start at
    c₀(v) = deg(v); each round set c(v) to the H-operator over its
    neighbors' current values (the largest h such that ≥ h neighbors
    have value ≥ h); the fixpoint is exactly the k-core number. The
    same barrier-per-round + convergence-count skeleton as connected
    components (PageRank instead runs a fixed 10 rounds with no
    convergence count) — each round is one adjacency join and one
    degree-bounded window per node, no global state, so the iteration
    distributes at any scale (rounds needed ≈ graph's core hierarchy
    depth, typically ≪ diameter). Returns (item, coreness)."""
    adj = (
        edges.select(F.col("s").alias("u"), F.col("t").alias("v"))
        .unionByName(
            edges.select(F.col("t").alias("u"), F.col("s").alias("v"))
        )
        .transform(lazy_barrier)  # reused every round
    )
    # lazy checkpoint: the Σc collect right below materializes it in
    # the same job (r15 job-count pass, see connected_components)
    cur = barrier(
        adj.groupBy("u").agg(F.count("*").cast("long").alias("c")),
        eager=False,
    )
    from pyspark.sql import Window

    # r15 job-count pass (guide §5, VERDICT r14 item 7): the loop body
    # ran THREE actions per round — a re-barrier of the ALREADY-
    # barriered `cur` (each round's nxt is checkpointed; re-
    # checkpointing it is a pure extra job + block copy) and a
    # cur⋈nxt join-count for convergence. The h-index descent from
    # c₀=deg is per-node MONOTONE NONINCREASING (H is monotone in its
    # inputs and H ≤ neighbor count, so c₁ ≤ c₀ and induction carries),
    # hence Σc is strictly decreasing until the fixpoint and
    # "Σc unchanged" ⇔ "no node changed" — an exact-integer test with
    # NO join, same rounds, same fixpoint, bit-identical output.
    cur_sum = cur.agg(F.sum("c")).collect()[0][0]
    w = Window.partitionBy("u").orderBy(F.col("cv").desc())
    for _ in range(max_rounds):
        nb = adj.join(
            cur.select(F.col("u").alias("v"), F.col("c").alias("cv")), "v"
        ).select("u", "cv")
        nxt = (
            nb.withColumn("rn", F.row_number().over(w))
            .groupBy("u")
            .agg(F.max(F.least(F.col("rn"), F.col("cv"))).alias("c"))
        )
        nxt = barrier(nxt, eager=False)
        new_sum = nxt.agg(F.sum("c")).collect()[0][0]
        cur = nxt
        if new_sum == cur_sum:
            break
        cur_sum = new_sum
    else:
        # Σc still falling after max_rounds: the values are upper bounds
        # on coreness, not coreness, so returning them would be wrong.
        raise RuntimeError(
            f"coreness did not converge in {max_rounds} rounds "
            f"(Σc still falling, now {cur_sum}); raise max_rounds"
        )
    return cur.select(F.col("u").alias("item"), F.col("c").alias("coreness"))


# Promoted from rows-only (r12): k-core PEELING is a deletion
# fixpoint (not monotone-append), but the h-index PROPAGATION this
# query actually runs is a pure iterate-to-fixpoint map — and DuckDB
# accepts GROUP BY/windows in the recursive member (probed), so the
# oracle replays the identical integer lattice descent for a fixed 50
# rounds (monotone nonincreasing: extra rounds past convergence are
# no-ops, so fixed-count == Spark's early-exit loop). Integer-only —
# bit-exact, no rounding needed. The kernel lives in
# server_spark.oracles, shared with the randomized property tests.
_A33_SQL = (
    f"WITH RECURSIVE {AUCTIONS_SQL_CTE.strip()},"
    + f"""
    base AS (
        SELECT DISTINCT owner, item FROM auctions
        WHERE item <= {_A18_MAX_ITEM}
    ),
    eset AS (
        SELECT DISTINCT a.item AS s, b.item AS t
        FROM base a JOIN base b
          ON a.owner = b.owner AND a.item < b.item
    ),"""
    + hindex_kernel("eset")
    + """
    SELECT u AS item, c AS coreness FROM rec WHERE it = 50 ORDER BY item
"""
)


@register(
    "a33_kcore_decomposition",
    _A33_SQL,
    doc="A33 (EXT analytics) — K-CORE DECOMPOSITION of the "
    "item co-listing graph: each node's coreness (the largest k such "
    "that it survives in the subgraph where every node keeps ≥ k "
    "neighbors) — the graph-robustness metric behind influence "
    "ranking and dense-market detection, and the fourth canonical "
    "graph workload beside PageRank (a20), components (x15) and "
    "triangles (a21). Computed by iterated h-index propagation, "
    "which provably converges to coreness without the sequential "
    "peeling order a textbook algorithm needs — the property that "
    "makes it DISTRIBUTABLE: every round is one adjacency join plus "
    "a degree-bounded per-node window, same barrier skeleton as a20. "
    "Deterministic: integer h-index lattice descent, no floats, no "
    "tiebreak sensitivity.",
    tags=("ext", "graph"),
    late=True,
)
def a33_kcore_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    edges = _colisting_edges(_colisting_base(spark, sf_dir))
    return coreness(edges).orderBy("item")


# ---------------------------------------------------------------------------
# A35 — RFM customer segmentation (rank-quintile scores)
# ---------------------------------------------------------------------------

_A35_ANCHOR = "2001-09-01"  # just past max(o_orderdate) in the fixture


@register(
    "a35_rfm_segments",
    f"""
    WITH cust AS (
        SELECT o_custkey AS custkey,
               DATE_DIFF('day', CAST(MAX(o_orderdate) AS DATE),
                         DATE '{_A35_ANCHOR}') AS recency_days,
               COUNT(*) AS frequency,
               SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS monetary_cents
        FROM orders GROUP BY 1
    ),
    n AS (SELECT COUNT(*) AS n FROM cust),
    ranked AS (
        SELECT cust.*, n.n,
               ROW_NUMBER() OVER (
                   ORDER BY recency_days DESC, custkey
               ) AS r_rn,
               ROW_NUMBER() OVER (
                   ORDER BY frequency, custkey
               ) AS f_rn,
               ROW_NUMBER() OVER (
                   ORDER BY monetary_cents, custkey
               ) AS m_rn
        FROM cust CROSS JOIN n
    ),
    scored AS (
        SELECT custkey, recency_days, frequency, monetary_cents,
               CAST((r_rn - 1) * 5 // n + 1 AS INTEGER) AS r_score,
               CAST((f_rn - 1) * 5 // n + 1 AS INTEGER) AS f_score,
               CAST((m_rn - 1) * 5 // n + 1 AS INTEGER) AS m_score
        FROM ranked
    )
    SELECT custkey, recency_days, frequency,
           {r4sql("monetary_cents / 100.0")} AS monetary_gold,
           r_score, f_score, m_score,
           CASE
               WHEN r_score >= 4 AND f_score >= 4 AND m_score >= 4
                   THEN 'champion'
               WHEN f_score >= 4 THEN 'loyal'
               WHEN m_score >= 4 THEN 'big_spender'
               WHEN r_score <= 2 AND f_score >= 3 THEN 'at_risk'
               WHEN r_score <= 2 THEN 'hibernating'
               ELSE 'other'
           END AS segment
    FROM scored
    ORDER BY custkey
    """,
    doc="A35 (EXT analytics) — RFM SEGMENTATION: every customer "
    "scored 1–5 on Recency / Frequency / Monetary rank-quintiles "
    "and mapped to the standard lifecycle segments (champion, loyal, "
    "big_spender, at_risk, hibernating) — the marketing-analytics "
    "workhorse over the orders relation, and the multi-metric "
    "generalization of a19's single-axis ABC classes. Quintiles are "
    "RANK-based, score = (rank−1)·5 // n + 1 over a TOTAL order "
    "(metric, custkey) — exact integer math, engine-identical (NTILE "
    "would differ from this by its front-loaded remainder; the "
    "explicit formula is self-documenting and identical on both "
    "engines). Monetary sums exact cents (no float ordering drift). "
    "Scale: the three global ranks run through "
    "operators/ranking.global_row_number — range-partition + local "
    "rank + tiny offset prefix-sum, never a single-partition window "
    "(the oracle's plain ROW_NUMBER is the single-node equivalent).",
    tags=("ext", "agg", "segmentation"),
    late=True,
)
def a35_rfm_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.operators.ranking import global_row_number

    orders = tables.load(spark, sf_dir, "orders")
    cents = (
        (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
    )
    cust = orders.groupBy(F.col("o_custkey").alias("custkey")).agg(
        F.datediff(
            F.lit(_A35_ANCHOR).cast("date"),
            F.max("o_orderdate").cast("date"),
        ).alias("recency_days"),
        F.count("*").alias("frequency"),
        F.sum(cents).alias("monetary_cents"),
    ).transform(lazy_barrier)  # feeds the scalar count + three rank passes
    n = cust.agg(F.count("*").alias("n"))
    # r15 (guide §2.3 project-before-exchange + §2.6 overlap): each
    # rank pass range-exchanges ONLY (sort key, custkey) instead of
    # serially re-ranging the ever-wider frame, and the three passes
    # are independent subtrees joined back on the unique custkey —
    # AQE runs their stages concurrently where the serial form ran
    # three range exchanges (sample job + shuffle each) back to back.
    # Rank values are identical (same total orders, same tiebreak);
    # interleaved A/B: 1.86 -> 1.62 s median (scripts/exp_r15b.py at
    # commit 8de34ac).
    rr = global_row_number(
        cust.select("custkey", "recency_days"),
        [F.col("recency_days").desc(), F.col("custkey")],
        "r_rn",
    ).select("custkey", "r_rn")
    ff = global_row_number(
        cust.select("custkey", "frequency"),
        [F.col("frequency"), F.col("custkey")],
        "f_rn",
    ).select("custkey", "f_rn")
    mm = global_row_number(
        cust.select("custkey", "monetary_cents"),
        [F.col("monetary_cents"), F.col("custkey")],
        "m_rn",
    ).select("custkey", "m_rn")
    ranked = (
        cust.crossJoin(F.broadcast(n))
        .join(rr, "custkey")
        .join(ff, "custkey")
        .join(mm, "custkey")
    )

    def score(rn: str) -> F.Column:
        return (
            F.expr(f"({rn} - 1) * 5 DIV n + 1").cast("int")
        )

    scored = ranked.select(
        "custkey", "recency_days", "frequency", "monetary_cents",
        score("r_rn").alias("r_score"),
        score("f_rn").alias("f_score"),
        score("m_rn").alias("m_score"),
    )
    seg = (
        F.when(
            (F.col("r_score") >= 4)
            & (F.col("f_score") >= 4)
            & (F.col("m_score") >= 4),
            "champion",
        )
        .when(F.col("f_score") >= 4, "loyal")
        .when(F.col("m_score") >= 4, "big_spender")
        .when((F.col("r_score") <= 2) & (F.col("f_score") >= 3), "at_risk")
        .when(F.col("r_score") <= 2, "hibernating")
        .otherwise("other")
    )
    return scored.select(
        "custkey", "recency_days", "frequency",
        r4(F.col("monetary_cents") / 100.0).alias("monetary_gold"),
        "r_score", "f_score", "m_score",
        seg.alias("segment"),
    ).orderBy("custkey")


# ---------------------------------------------------------------------------
# A36 — isotonic bulk-discount curve (weighted PAVA per item)
# ---------------------------------------------------------------------------

_A36_MAX_ITEM = 60  # catalog slice, same bound as t27/t31


_A36_SQL = (
    f"WITH RECURSIVE {AUCTIONS_SQL_CTE.strip()},"
    + """
    pts AS (
        SELECT item, CAST(quantity AS BIGINT) AS qty,
               COUNT(*) AS n,
               SUM(CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT))
                 / (COUNT(*) * 100.0) AS mean_gold
        FROM auctions
        WHERE item <= 60 AND buyout > 0
        GROUP BY item, qty
    ),"""
    # the PAVA state machine lives in server_spark.oracles so the
    # randomized property tests exercise THE SAME kernel that ships
    # (r12 review finding: a verbatim copy in the tests would silently
    # decouple on the first edit)
    + pava_kernel("pts", "item", "qty", "mean_gold", "n")
    + """
    SELECT s.item, s.qty, s.n, s.mean_gold, sp.v AS fitted_gold
    FROM seq s JOIN spans sp
      ON sp.item = s.item AND s.i BETWEEN sp.lo AND sp.hi
"""
)


@register(
    "a36_isotonic_price_curve",
    _A36_SQL,
    doc="A36 (EXT analytics) — ISOTONIC bulk-discount curve per item: "
    "the monotone-NONINCREASING least-squares fit of mean unit price "
    "on stack quantity (weighted PAVA) — the shape-constrained "
    "regression for 'bulk lots trade at a per-unit discount': w12's "
    "OLS forces a straight line and t31's Theil–Sen a constant "
    "slope, but a discount curve flattens; isotonic assumes ONLY "
    "monotonicity and is the projection onto that cone. Fitted "
    "levels feed anomaly screens (a listing priced above the fitted "
    "curve at its quantity is overpriced for its lot size). Scale "
    "shape: one map-combined (item, quantity) hash-agg bounds each "
    "pandas group to the DISTINCT stack sizes (≤ ~200 in any real "
    "catalog), then applyInPandas runs the O(points) sequential "
    "merge-stack per item — groups scale out, the sequential part "
    "is bounded. Exact-cents means keep inputs deterministic. "
    "Promoted from rows-only (r12): the PAVA stack emulated as a "
    "recursive-CTE state machine (one merge or one push per step, "
    "Python fp-op order) — bit-exact hash oracle. Also kept: "
    "hypothesis test against the independent MINIMAX "
    "characterization ŷᵢ = max_{j≤i} min_{k≥i} Av(j,k) plus "
    "monotonicity/mean-preservation invariants "
    "(tests/test_properties.py).",
    tags=("ext", "agg", "regression"),
    late=True,
)
def a36_isotonic_price_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.operators.isotonic import isotonic_fit

    cents = (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
    pts = (
        auctions(spark, sf_dir)
        .filter((F.col("item") <= _A36_MAX_ITEM) & (F.col("buyout") > 0))
        .groupBy("item", F.col("quantity").cast("long").alias("qty"))
        .agg(F.sum(cents).alias("s_cents"), F.count("*").alias("n"))
        .select(
            "item", "qty", "n",
            (F.col("s_cents") / (F.col("n") * 100.0)).alias("mean_gold"),
        )
    )
    return (
        isotonic_fit(
            pts, ["item"], "qty", "mean_gold", "n",
            increasing=False, out_col="fitted_gold",
        )
        .orderBy("item", "qty")
    )


# ---------------------------------------------------------------------------
# A37 — Mann-Whitney U test (weekend vs weekday value distributions)
# ---------------------------------------------------------------------------

_A37_Z_CUT = 1.96  # two-sided 5% normal cut


@register(
    "a37_mann_whitney",
    f"""
    WITH base AS (
        SELECT event_type, value AS v,
               CASE WHEN DATEDIFF('day', DATE '1970-01-05',
                                  CAST(ts AS DATE)) % 7 >= 5
                    THEN 1 ELSE 0 END AS wknd
        FROM events
    ),
    g AS (
        SELECT event_type, v, COUNT(*) AS c, SUM(wknd) AS cw
        FROM base GROUP BY 1, 2
    ),
    r AS (
        SELECT event_type, v, c, cw,
               COALESCE(SUM(c) OVER (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum
        FROM g
    ),
    s AS (
        SELECT event_type,
               SUM(c) AS n, SUM(cw) AS n1,
               SUM(cw * (2 * cum + c + 1)) AS r2,
               SUM(c * c * c - c) AS ties
        FROM r GROUP BY 1
    )
    SELECT event_type,
           n1 AS n_weekend, n - n1 AS n_weekday,
           {{U}} AS u_stat,
           {{Z}} AS z,
           (ABS({{Z}}) > {_A37_Z_CUT}) AS significant
    FROM s
    ORDER BY event_type
    """.replace(
        "{U}", r4sql("(r2 - n1 * (n1 + 1)) / 2.0")
    ).replace(
        "{Z}", r4sql(
            "(r2 - n1 * (n1 + 1) - n1 * 1.0 * (n - n1))"
            " / (2.0 * SQRT((n1 * 1.0 * (n - n1) / 12.0)"
            "   * ((n + 1.0) - ties * 1.0 / (n * 1.0 * (n - 1)))))"
        )
    ),
    doc="A37 (EXT analytics) — MANN-WHITNEY U rank-sum test per event "
    "type: do weekend and weekday value distributions differ? The "
    "nonparametric two-sample location test — t-family comparisons "
    "assume normality the skewed price-like values don't have; U "
    "only uses ranks (a34's runs test checks randomness WITHIN one "
    "sequence, this compares TWO populations). Tie-corrected normal "
    "approximation with average ranks. Exactness trick: with "
    "avg_rank = cum_before + (c+1)/2, the DOUBLED rank-sum "
    "2R₁ = Σ cw·(2·cum+c+1) is an exact BIGINT — rank algebra stays "
    "integer through the aggregation and floats appear only in the "
    "final closed-form z (every op correctly rounded from identical "
    "ints ⇒ engine-identical before the r4 canonical dress; the "
    "significance flag cuts on the CANONICAL z, a19 pattern). Scale "
    "shape: ranks come from a cumulative frame over the DISTINCT-"
    "value relation (one hash-agg, one per-series sort), never a "
    "per-row global rank; weekend membership is pure date "
    "arithmetic (w13's anchor-Monday dow).",
    tags=("ext", "agg", "analytics", "stats"),
    late=True,
)
def a37_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    ev = tables.load(spark, sf_dir, "events")
    dow = (
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05").cast("date"))
        % 7
    )
    g = (
        ev.select(
            "event_type",
            F.col("value").alias("v"),
            (dow >= 5).cast("long").alias("wknd"),
        )
        .groupBy("event_type", "v")
        .agg(F.count("*").alias("c"), F.sum("wknd").alias("cw"))
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    r = g.select(
        "event_type", "v", "c", "cw",
        F.coalesce(F.sum("c").over(wcum), F.lit(0)).alias("cum"),
    )
    s = r.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum("cw").alias("n1"),
        F.sum(F.col("cw") * (2 * F.col("cum") + F.col("c") + 1)).alias("r2"),
        F.sum(
            F.col("c") * F.col("c") * F.col("c") - F.col("c")
        ).alias("ties"),
    )
    n, n1, r2, ties = F.col("n"), F.col("n1"), F.col("r2"), F.col("ties")
    u = r4((r2 - n1 * (n1 + 1)) / 2.0)
    z = r4(
        (r2 - n1 * (n1 + 1) - n1 * 1.0 * (n - n1))
        / (
            2.0
            * F.sqrt(
                (n1 * 1.0 * (n - n1) / 12.0)
                * ((n + 1.0) - ties * 1.0 / (n * 1.0 * (n - 1)))
            )
        )
    )
    return s.select(
        "event_type",
        n1.alias("n_weekend"),
        (n - n1).alias("n_weekday"),
        u.alias("u_stat"),
        z.alias("z"),
        (F.abs(z) > _A37_Z_CUT).alias("significant"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# A38 — single-pass table profiler (per-column data-quality summary)
# ---------------------------------------------------------------------------

# exact engine-portable string canonicalization per profiled column:
# ints via CAST, doubles via the cents-decimal trick (the auc-key
# pattern), strings as-is — NEVER CAST(double AS STRING) (notation
# dress differs between engines)
_A38_COLS = (
    ("item", "CAST(item AS STRING)"),
    ("owner", "CAST(owner AS STRING)"),
    ("quantity",
     "CAST(CAST(CAST(quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS STRING)"),
    ("buyout",
     "CAST(CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT) AS STRING)"),
    ("time_left", "time_left"),
)


@register(
    "a38_table_profile",
    auctions_sql(
        """
    , melt AS (
        """
        + "\n        UNION ALL ".join(
            f"SELECT '{name}' AS column_name, {expr} AS val FROM auctions"
            for name, expr in _A38_COLS
        )
        + """
    ),
    vc AS (
        SELECT column_name, val, COUNT(*) AS c
        FROM melt GROUP BY 1, 2
    ),
    ranked AS (
        SELECT column_name, val, c,
               ROW_NUMBER() OVER (PARTITION BY column_name
                                  ORDER BY c DESC, val ASC) AS rn
        FROM vc WHERE val IS NOT NULL
    )
    SELECT s.column_name, s.n, s.n_null, s.n_distinct,
           r.val AS top_value, r.c AS top_freq
    FROM (
        SELECT column_name,
               SUM(c) AS n,
               COALESCE(SUM(CASE WHEN val IS NULL THEN c END), 0) AS n_null,
               COUNT(CASE WHEN val IS NOT NULL THEN 1 END) AS n_distinct
        FROM vc GROUP BY 1
    ) s
    JOIN ranked r ON s.column_name = r.column_name AND r.rn = 1
    ORDER BY s.column_name
    """
    ),
    doc="A38 (EXT analytics/ops) — single-pass TABLE PROFILER: per "
    "column its row count, null count, exact distinct count, and the "
    "modal value with frequency (deterministic tie-break: highest "
    "count, then smallest value) — the deequ/great-expectations "
    "-style profile every ingestion pipeline materializes alongside "
    "a dataset before anyone queries it. The naive form is one "
    "aggregation pass PER COLUMN (k scans of a 100 TB table); this "
    "melts k columns into (column, value) rows in a narrow map — "
    "one scan — then a (column, value) hash-agg and a tiny "
    "per-column fold, the same shape regardless of k. Values cross "
    "the melt through per-type EXACT canonical strings (ints cast, "
    "doubles through the cents-decimal route, never a raw "
    "double→string whose notation differs between engines). Top-1 "
    "is per-column ROW_NUMBER over the value-count relation "
    "(distinct-bounded), not the raw rows.",
    tags=("ext", "agg", "analytics", "ops", "profile"),
    late=True,
)
def a38_table_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    # fanned=True (r15, guide §2.2): the melt's 5-per-row canonical
    # string casts + the (column,val) partial agg sat on the SCAN task
    # — one core on single-row-group local data. Fan-out is identity
    # at cluster scale (tables.fan_out guard). 2.67→1.73 s interleaved.
    au = auctions(spark, sf_dir, fanned=True)
    stack_args = ", ".join(
        f"'{name}', {expr}" for name, expr in _A38_COLS
    )
    melt = au.selectExpr(
        f"stack({len(_A38_COLS)}, {stack_args}) AS (column_name, val)"
    )
    vc = melt.groupBy("column_name", "val").agg(F.count("*").alias("c"))
    vc = vc.transform(lazy_barrier)  # feeds both the fold and the top-1 rank
    stats = vc.groupBy("column_name").agg(
        F.sum("c").alias("n"),
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("c"))), F.lit(0)
        ).alias("n_null"),
        F.count(F.when(F.col("val").isNotNull(), 1)).alias("n_distinct"),
    )
    wtop = Window.partitionBy("column_name").orderBy(
        F.col("c").desc(), F.col("val").asc()
    )
    top = (
        vc.filter(F.col("val").isNotNull())
        .select(
            "column_name", "val", "c",
            F.row_number().over(wtop).alias("rn"),
        )
        .filter(F.col("rn") == 1)
    )
    return (
        stats.join(top, "column_name")
        .select(
            "column_name", "n", "n_null", "n_distinct",
            F.col("val").alias("top_value"),
            F.col("c").alias("top_freq"),
        )
        .orderBy("column_name")
    )


# ---------------------------------------------------------------------------
# A39 — data-quality expectation suite (per-rule violation counts)
# ---------------------------------------------------------------------------

_A39_ENUM = ("A", "N", "R")  # valid time_left codes in the fixture


@register(
    "a39_dq_expectations",
    auctions_sql(
        f"""
    SELECT 'item_ref_integrity' AS rule,
           COUNT(*) AS n_checked,
           COALESCE(SUM(CASE WHEN p.p_partkey IS NULL THEN 1 END), 0)
               AS n_violations
    FROM auctions a LEFT JOIN part p ON a.item = p.p_partkey
    UNION ALL
    SELECT 'nonneg_buyout', COUNT(*),
           COALESCE(SUM(CASE WHEN buyout < 0 THEN 1 END), 0)
    FROM auctions
    UNION ALL
    SELECT 'positive_quantity', COUNT(*),
           COALESCE(SUM(CASE WHEN quantity < 1 THEN 1 END), 0)
    FROM auctions
    UNION ALL
    SELECT 'timeleft_enum', COUNT(*),
           COALESCE(SUM(CASE WHEN time_left IS NULL OR time_left NOT IN
               {_A39_ENUM!r} THEN 1 END), 0)
    FROM auctions
    UNION ALL
    SELECT 'unique_auc', COUNT(*), COUNT(*) - COUNT(DISTINCT auc)
    FROM auctions
    ORDER BY rule
    """
    ),
    doc="A39 (EXT analytics/ops) — DATA-QUALITY EXPECTATION SUITE: "
    "the five contract checks an intake pipeline asserts before "
    "promoting a snapshot to silver — key uniqueness (auc), "
    "referential integrity (every item resolves in the catalog "
    "dimension, LEFT-ANTI-shaped), domain bounds (buyout ≥ 0, "
    "quantity ≥ 1), and enum membership (time_left codes, with NULL "
    "counted as a violation — NOT IN alone evaluates to NULL and "
    "silently passes bad rows) — per rule the checked and violating "
    "row counts, deequ/expectations-style. These are the checks "
    "medallion's build_silver enforces by construction; here they "
    "are MEASURED so a report can say which contract broke and by "
    "how much instead of silently dropping rows. Shape: each rule "
    "is one map-combined conditional aggregate (the union is k tiny "
    "result rows, not k scans of a wide plan — column pruning cuts "
    "each branch to its own columns); the referential check joins "
    "the catalog dimension (broadcast-sized by Heaps-law catalog "
    "growth, AQE decides). All counts exact ints.",
    tags=("ext", "agg", "analytics", "ops", "dq"),
    late=True,
)
def a39_dq_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    part = tables.load(spark, sf_dir, "part")

    def rule(name: str, df: DataFrame, viol) -> DataFrame:
        return df.agg(
            F.lit(name).alias("rule"),
            F.count("*").alias("n_checked"),
            F.coalesce(F.sum(F.when(viol, 1)), F.lit(0)).alias(
                "n_violations"
            ),
        )

    ref = au.join(
        part.select(F.col("p_partkey").alias("item"), F.lit(1).alias("_hit")),
        "item",
        "left",
    )
    checks = [
        rule("item_ref_integrity", ref, F.col("_hit").isNull()),
        rule("nonneg_buyout", au, F.col("buyout") < 0),
        rule("positive_quantity", au, F.col("quantity") < 1),
        rule(
            "timeleft_enum",
            au,
            F.col("time_left").isNull()
            | ~F.col("time_left").isin(*_A39_ENUM),
        ),
    ]
    uniq = au.agg(
        F.lit("unique_auc").alias("rule"),
        F.count("*").alias("n_checked"),
        (F.count("*") - F.countDistinct("auc")).alias("n_violations"),
    )
    out = checks[0]
    for c in checks[1:] + [uniq]:
        out = out.unionByName(c)
    return out.orderBy("rule")


# ---------------------------------------------------------------------------
# J13 — as-of join with a staleness tolerance
# ---------------------------------------------------------------------------

_J13_TOL_DAYS = 3


@register(
    "j13_asof_tolerance",
    f"""
    WITH c AS (SELECT event_id, user_id, ts FROM events
               WHERE event_type = 'click'),
    p AS (SELECT event_id, user_id, ts, value FROM events
          WHERE event_type = 'purchase'),
    ranked AS (
        SELECT c.event_id, c.user_id, c.ts,
               p.ts AS pts, p.value AS pval,
               ROW_NUMBER() OVER (
                   PARTITION BY c.event_id
                   ORDER BY p.ts DESC, p.event_id DESC
               ) AS rn
        FROM c LEFT JOIN p
            ON c.user_id = p.user_id AND p.ts <= c.ts
    )
    SELECT event_id, user_id, ts,
           CASE WHEN pts >= ts - INTERVAL {_J13_TOL_DAYS} DAY
                THEN pval END AS recent_purchase_value,
           (pts IS NOT NULL
            AND pts < ts - INTERVAL {_J13_TOL_DAYS} DAY) AS is_stale
    FROM ranked WHERE rn = 1
    """,
    doc="J13 — as-of join WITH STALENESS TOLERANCE: each click aligned "
    "to the user's most recent purchase ONLY if it happened within "
    "the last 3 days; older matches surface as is_stale=true with a "
    "NULL value instead of silently serving ancient data — the "
    "don't-serve-stale-prices semantics a serving layer needs on top "
    "of j6's unbounded lookback. Spark form: the same single-shuffle "
    "union+window as operators/joins.asof_align, but the window "
    "carries a (match_ts, value) STRUCT through last(ignorenulls) so "
    "the staleness gate is one timestamp comparison after the "
    "window — still no range join, no second shuffle. Ties at equal "
    "ts stay visible via the kind-ordered sort (asof <= semantics); "
    "among purchases tying at the same ts the window breaks ties by "
    "event_id (highest wins) so the pick is deterministic — the "
    "oracle expresses the identical rule as an explicit "
    "argmax(ts, event_id) ranked join because DuckDB's ASOF cannot "
    "state a tiebreak.",
    tags=("join", "asof"),
    late=True,
)
def j13_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    ev = tables.load(spark, sf_dir, "events")
    clicks = (
        ev.filter(F.col("event_type") == "click")
        .select("event_id", "user_id", "ts")
        .withColumn("_kind", F.lit(1))
        .withColumn("_tie", F.col("event_id"))
        .withColumn(
            "_sv",
            F.lit(None).cast("struct<rts:timestamp,v:double>"),
        )
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id"),
        F.col("ts"),
        F.lit(0).alias("_kind"),
        F.col("event_id").alias("_tie"),
        F.struct(
            F.col("ts").alias("rts"),
            F.col("value").cast("double").alias("v"),
        ).alias("_sv"),
    )
    unioned = clicks.unionByName(purchases, allowMissingColumns=True)
    # total order: ts, then purchases-before-clicks at equal ts (asof
    # <= semantics), then event_id — so two purchases at the same ts
    # resolve deterministically (highest event_id wins via last())
    w = (
        W.partitionBy("user_id")
        .orderBy(F.col("ts").asc(), F.col("_kind").asc(),
                 F.col("_tie").asc())
        .rowsBetween(W.unboundedPreceding, 0)
    )
    picked = F.last("_sv", ignorenulls=True).over(w)
    cutoff = F.col("ts") - F.expr(f"INTERVAL {_J13_TOL_DAYS} DAYS")
    return (
        unioned.withColumn("_m", picked)
        .filter(F.col("_kind") == 1)
        .select(
            "event_id",
            "user_id",
            "ts",
            F.when(F.col("_m.rts") >= cutoff, F.col("_m.v")).alias(
                "recent_purchase_value"
            ),
            (
                F.col("_m").isNotNull() & (F.col("_m.rts") < cutoff)
            ).alias("is_stale"),
        )
    )


# ---------------------------------------------------------------------------
# T53 — max concurrent live listings per item (sweep line)
# ---------------------------------------------------------------------------

# listing lifetime by time_left class (the reference's auction duration
# buckets): hours each listing stays live after its dump snapshot
_T53_HOURS = {"A": 48, "N": 12, "R": 24}


@register(
    "t53_max_concurrent",
    auctions_sql(
        f"""
    , iv AS (
        SELECT auc, item, dump_ts AS t0,
               dump_ts + INTERVAL 1 HOUR * (CASE time_left
                   WHEN 'A' THEN {_T53_HOURS['A']}
                   WHEN 'N' THEN {_T53_HOURS['N']}
                   ELSE {_T53_HOURS['R']} END) AS t1
        FROM auctions
    ),
    ev AS (
        SELECT item, t0 AS ts, 1 AS delta, auc FROM iv
        UNION ALL
        SELECT item, t1 AS ts, -1 AS delta, auc FROM iv
    ),
    run AS (
        SELECT item, ts,
               SUM(delta) OVER (
                   PARTITION BY item
                   ORDER BY ts, delta, auc
                   ROWS UNBOUNDED PRECEDING
               ) AS live
        FROM ev
    ),
    mx AS (
        SELECT item, MAX(live) AS max_concurrent FROM run GROUP BY item
    )
    SELECT r.item,
           CAST(m.max_concurrent AS BIGINT) AS max_concurrent,
           MIN(r.ts) AS first_peak_ts,
           CAST(COUNT(*) OVER () AS BIGINT) AS n_items
    FROM run r JOIN mx m
      ON r.item = m.item AND r.live = m.max_concurrent
    GROUP BY r.item, m.max_concurrent
    ORDER BY max_concurrent DESC, r.item
    LIMIT 50
    """
    ),
    doc="T53 (EXT timeseries/join) — MAX CONCURRENT live listings per "
    "item via the classic SWEEP LINE: every listing contributes a +1 "
    "event at its snapshot and a −1 at snapshot + its time_left "
    "class's lifetime; the running sum per item is the live count, "
    "its max the peak concurrency, and the first timestamp attaining "
    "it the when — the supply-pressure read (t15 interval-JOINS two "
    "relations; this profiles ONE relation's self-overlap, the "
    "'how deep is the order book' question). Deterministic: ties at "
    "equal ts order (delta, auc) — expiries processed before "
    "arrivals, so back-to-back relist chains do not double-count. "
    "Shape: a 2× narrow union, ONE item-keyed window (items fan out "
    "across executors, per-item sequences are listing-bounded), one "
    "max join; top-50 emitted with a total order.",
    tags=("ext", "timeseries", "window", "join"),
    late=True,
)
def t53_max_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window as W

    from server_spark.sources.synthetic import auctions as _auc

    au = _auc(spark, sf_dir)
    dur = (
        F.when(F.col("time_left") == "A", _T53_HOURS["A"])
        .when(F.col("time_left") == "N", _T53_HOURS["N"])
        .otherwise(_T53_HOURS["R"])
    )
    iv = au.select(
        "auc",
        "item",
        F.col("dump_ts").alias("t0"),
        (
            F.col("dump_ts")
            + dur * F.expr("INTERVAL 1 HOUR")
        ).alias("t1"),
    )
    ev = iv.select(
        "item", F.col("t0").alias("ts"), F.lit(1).alias("delta"), "auc"
    ).unionByName(
        iv.select(
            "item", F.col("t1").alias("ts"), F.lit(-1).alias("delta"),
            "auc",
        )
    )
    w = (
        W.partitionBy("item")
        .orderBy("ts", "delta", "auc")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    # r14 (guide §2.4): the per-item max rides a SECOND window over
    # the SAME item partitioning instead of a groupBy + join-back —
    # the barrier (whose checkpoint scan loses the partitioning info
    # and forced the max agg and the join into fresh exchanges), one
    # aggregation, and one join all drop out; the filter live == max
    # over the windowed column selects exactly the rows the join
    # selected. groupBy (item, max_concurrent) then reuses the item
    # hash partitioning (subset clustering), so the whole peak
    # computation runs on ONE exchange.
    run = ev.select(
        "item",
        "ts",
        F.sum("delta").over(w).alias("live"),
    ).select(
        "item",
        "ts",
        "live",
        F.max("live").over(W.partitionBy("item")).alias("max_concurrent"),
    )
    peaks = (
        run.filter(F.col("live") == F.col("max_concurrent"))
        .groupBy("item", "max_concurrent")
        .agg(F.min("ts").alias("first_peak_ts"))
    )
    from pyspark.sql import Window as W2

    # unpartitioned count window over the CATALOG-bounded peaks
    # relation (one row per item) — in-plan, no driver action
    return (
        peaks.select(
            "item",
            F.col("max_concurrent").cast("bigint").alias("max_concurrent"),
            "first_peak_ts",
            F.count("*").over(
                W2.partitionBy(F.lit(1))
            ).cast("bigint").alias("n_items"),
        )
        .orderBy(F.col("max_concurrent").desc(), "item")
        .limit(50)
    )
