"""EXT analytics batch 2 — distribution tests, resampling inference,
multi-objective search, and graph link prediction (a40-a44).

These extend the a3x statistical-ops family (joins_sets.py) with the
remaining analyses a marketplace-analytics user runs on the reference's
relations: a two-sample distribution test (KS, complementing a37's
rank-sum location test), a bootstrap confidence interval (the
resampling inference primitive), a Pareto skyline (multi-objective
"best deals" search), Adamic-Adar link prediction over the
co-ownership graph (complements a18's co-listing affinity and a20/a21's
graph measures), and mutual information between categorical columns
(the feature-dependence screen).

Dialect-parity strategy is the house style: keep every statistic in
EXACT integer arithmetic as deep into the plan as possible (doubled
rank sums, cents, micro-unit weights, count algebra), let floats
appear only in final closed forms computed from identical integers,
and dress outputs with the r4 canonicalizer.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from server_spark.barrier import barrier, lazy_barrier
from server_spark.parity import r4, r4sql
from server_spark.registry import auctions_sql, register
from server_spark.sources.synthetic import auctions
from server_spark import tables

# ---------------------------------------------------------------------------
# A40 — two-sample Kolmogorov-Smirnov test (weekend vs weekday values)
# ---------------------------------------------------------------------------

# Two-sided 5% asymptotic coefficient c(alpha) for the KS critical
# value c(a) * sqrt((n1+n2)/(n1*n2)).
_A40_C = 1.3581


@register(
    "a40_ks_test",
    f"""
    WITH base AS (
        SELECT event_type, value AS v,
               CASE WHEN DATEDIFF('day', DATE '1970-01-05',
                                  CAST(ts AS DATE)) % 7 >= 5
                    THEN 1 ELSE 0 END AS wknd
        FROM events WHERE value IS NOT NULL
    ),
    g AS (
        SELECT event_type, v,
               SUM(wknd) AS cw, COUNT(*) - SUM(wknd) AS cd
        FROM base GROUP BY 1, 2
    ),
    r AS (
        SELECT event_type,
               SUM(cw) OVER (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
               SUM(cd) OVER (PARTITION BY event_type ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumd,
               SUM(cw) OVER (PARTITION BY event_type) AS n1,
               SUM(cd) OVER (PARTITION BY event_type) AS n2
        FROM g
    ),
    s AS (
        SELECT event_type, n1, n2,
               MAX(ABS(cumw * n2 - cumd * n1)) AS dnum
        FROM r GROUP BY 1, 2, 3
    )
    SELECT event_type, n1 AS n_weekend, n2 AS n_weekday,
           {{D}} AS d_stat,
           {{C}} AS d_crit,
           ({{D}} > {{C}}) AS significant
    FROM s
    ORDER BY event_type
    """.replace(
        "{D}", r4sql("dnum * 1.0 / (n1 * 1.0 * n2)")
    ).replace(
        "{C}",
        r4sql(f"{_A40_C} * SQRT((n1 + n2) * 1.0 / (n1 * 1.0 * n2))"),
    ),
    doc="A40 (EXT analytics) — two-sample KOLMOGOROV-SMIRNOV test per "
    "event type: weekend vs weekday value distributions. Complements "
    "a37's Mann-Whitney (U detects location shift only; KS detects "
    "ANY distributional difference — shape, spread, tails). Exactness "
    "trick: at each distinct value the scaled ECDF gap "
    "|cumw*n2 - cumd*n1| is an exact BIGINT (cross-multiplied instead "
    "of divided), so the max gap is integer algebra end to end and "
    "floats appear only in the final D = dnum/(n1*n2) — a correctly "
    "rounded division of identical ints, engine-identical before the "
    "r4 dress. The significance flag compares the r4-canonical D to "
    "the r4-canonical critical value (a19 boundary pattern). Scale "
    "shape: ECDFs come from cumulative frames over the DISTINCT-value "
    "relation (one hash-agg, one sort per event_type series), never a "
    "per-row global rank.",
    tags=("ext", "agg", "analytics", "stats"),
    late=True,
)
def a40_ks_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    dow = (
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-05").cast("date"))
        % 7
    )
    g = (
        # NULL values are meaningless to an ECDF and engines disagree
        # on NULL placement in window ORDER BY (Spark NULLS FIRST,
        # DuckDB NULLS LAST) — exclude them explicitly on both sides.
        ev.filter(F.col("value").isNotNull())
        .select(
            "event_type",
            F.col("value").alias("v"),
            (dow >= 5).cast("long").alias("wknd"),
        )
        .groupBy("event_type", "v")
        .agg(
            F.sum("wknd").alias("cw"),
            (F.count("*") - F.sum("wknd")).alias("cd"),
        )
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    r = g.select(
        "event_type",
        F.sum("cw").over(wcum).alias("cumw"),
        F.sum("cd").over(wcum).alias("cumd"),
        F.sum("cw").over(wall).alias("n1"),
        F.sum("cd").over(wall).alias("n2"),
    )
    s = r.groupBy("event_type", "n1", "n2").agg(
        F.max(
            F.abs(F.col("cumw") * F.col("n2") - F.col("cumd") * F.col("n1"))
        ).alias("dnum")
    )
    n1, n2 = F.col("n1"), F.col("n2")
    d = r4(F.col("dnum") * 1.0 / (n1 * 1.0 * n2))
    crit = r4(F.lit(_A40_C) * F.sqrt((n1 + n2) * 1.0 / (n1 * 1.0 * n2)))
    return s.select(
        "event_type",
        n1.alias("n_weekend"),
        n2.alias("n_weekday"),
        d.alias("d_stat"),
        crit.alias("d_crit"),
        (d > crit).alias("significant"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# A41 — Poisson bootstrap confidence interval (mean buyout per region)
# ---------------------------------------------------------------------------

_A41_REPS = 64
# Poisson(1) inverse-CDF cut points scaled to exact 15-bit units, so
# the weight draw is an INTEGER comparison (k = md5-uniform in
# [0, 32768)): P(X<=j) * 2^15 truncated for j = 0..6; the remaining
# tail mass (~9e-5) collapses to weight 7. 15-bit resolution biases
# each cut by < 2^-15 — vanishing next to bootstrap noise — and the
# extraction is pure integer algebra: one md5 per (row, block-of-8)
# funds EIGHT draws (two 60-bit ints parsed from the 32 hex chars,
# four 15-bit fields shifted out of each). Hashing and hex-parsing
# are the hot-path cost at R=64; this layout does 8 md5 + 16 parses
# per ROW instead of one md5 + parse per (row, replicate) — with the
# pre-explode repartition and branchless weights, measured 52s -> ~2s
# at sf0.1.
_A41_CUTS = (12054, 24109, 30136, 32145, 32648, 32748, 32765)
_A41_BLOCKS = _A41_REPS // 8

_A41_FACT_SQL = """
    fact AS (
        SELECT a.auc,
               CAST(CAST(a.buyout AS DECIMAL(18,2)) * 100 AS BIGINT)
                   AS cents,
               r.r_name AS region_name
        FROM auctions a
        JOIN supplier s ON a.owner = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    )
"""

# Branchless inverse CDF: with monotone cut points, the Poisson weight
# equals the count of cuts at or below the draw — a sum of comparison
# indicators, which stays in vectorized/codegen arithmetic instead of a
# 7-deep branch chain (measured ~10% off the fan-out stage).
_A41_WGT_SQL = " + ".join(
    f"CAST(k >= {cut} AS BIGINT)" for cut in _A41_CUTS
)


@register(
    "a41_bootstrap_ci",
    auctions_sql(
        f"""
    , {_A41_FACT_SQL},
    blk AS (
        SELECT region_name, cents,
               UNNEST(generate_series(0, {_A41_BLOCKS - 1})) AS blk,
               auc
        FROM fact
    ),
    hx AS (
        SELECT region_name, cents, blk,
               md5(concat_ws('|', auc, CAST(blk AS VARCHAR))) AS hex
        FROM blk
    ),
    vs AS (
        SELECT region_name, cents, blk,
               ('0x' || substr(hex, 1, 15))::BIGINT AS v1,
               ('0x' || substr(hex, 16, 15))::BIGINT AS v2
        FROM hx
    ),
    draws AS (
        SELECT region_name, cents,
               blk * 8 + j AS rep,
               ((CASE WHEN j < 4 THEN v1 ELSE v2 END)
                >> ((j % 4) * 15)) & 32767 AS k
        FROM vs, (SELECT UNNEST(generate_series(0, 7)) AS j)
    ),
    w AS (
        SELECT region_name, rep, cents,
               ({_A41_WGT_SQL}) AS wgt
        FROM draws
    ),
    pw AS (
        SELECT region_name, rep,
               SUM(wgt) AS wsum, SUM(wgt * cents) AS csum
        FROM w GROUP BY 1, 2
    ),
    means AS (
        SELECT region_name,
               CAST(csum AS DOUBLE) / (100.0 * wsum) AS m
        FROM pw
    ),
    boot AS (
        SELECT region_name, STDDEV_SAMP(m) AS se FROM means GROUP BY 1
    ),
    pt AS (
        SELECT region_name, COUNT(*) AS n,
               CAST(SUM(cents) AS DOUBLE) / (100.0 * COUNT(*)) AS mu
        FROM fact GROUP BY 1
    )
    SELECT p.region_name, p.n,
           {r4sql('p.mu')} AS mean_buyout,
           {r4sql('b.se')} AS boot_se,
           {r4sql('p.mu - 1.96 * b.se')} AS ci_lo,
           {r4sql('p.mu + 1.96 * b.se')} AS ci_hi
    FROM pt p JOIN boot b ON p.region_name = b.region_name
    ORDER BY p.region_name
    """
    ),
    doc="A41 (EXT analytics) — POISSON BOOTSTRAP confidence interval "
    "for mean buyout per region. The classic bootstrap resamples n "
    "rows WITH replacement R times — impossible to coordinate across "
    "a cluster; the Poisson bootstrap (the standard large-scale "
    "reformulation) gives every (row, replicate) an independent "
    "Poisson(1) weight, which needs no global coordination and is "
    "exact as n grows. Determinism: weights come from md5(auc|block) "
    "draws — each hash funds EIGHT 15-bit replicate uniforms (the "
    "hash is the hot-path cost, so this is an 8x cut vs one md5 per "
    "replicate) compared against INTEGER Poisson CDF cut points "
    "(reproducible across engines, runs, and cluster sizes — no RNG "
    "state; grid truncation bias < 2^-15). Replicate means stay exact "
    "(BIGINT cents x integer weights) until one final division; the "
    "replicate-spread stddev and the +-1.96se normal interval are the "
    "only float steps, r4-dressed. Scale shape: the explode is R* map "
    "rows but partial aggregation collapses them to (groups x R) rows "
    "BEFORE the exchange — the shuffle is R rows per group, not R "
    "copies of the fact table; dims join by AQE's choice (no forced "
    "broadcast).",
    tags=("ext", "agg", "analytics", "stats"),
    late=True,
)
def a41_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    # r15 (guide §2.2): FANNED loader — the dim joins all broadcast,
    # so the whole fact build (md5 row-ids + three joins + the
    # checkpoint write) sat on the SCAN task; fan_out parallelizes it
    # and is identity at cluster scale. Interleaved medians: 3.15 →
    # 2.39 s. Dropping the fact barrier as well measured 2.05 s
    # locally but the executed plan shows the lineitem scan + fan-out
    # exchange duplicated 4x (AQE reuses only the broadcast
    # exchanges, not the shuffle) — a 4x corpus re-scan at 100 TB for
    # a 0.3 s local win, rejected; the barrier stays.
    au = auctions(spark, sf_dir, fanned=True)
    sup = tables.load(spark, sf_dir, "supplier")
    nat = tables.load(spark, sf_dir, "nation")
    reg = tables.load(spark, sf_dir, "region")
    cents = (
        (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
    )
    fact = (
        au.join(sup, au.owner == sup.s_suppkey)
        .join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .select(
            "auc", cents.alias("cents"), F.col("r_name").alias("region_name")
        )
    )
    fact = fact.transform(lazy_barrier)  # feeds both the point and boot paths
    # Decouple fan-out parallelism from input splits: the explode stage
    # below does 8 md5 + 16 hex-parses per fact row, and a parquet scan
    # yields few, large partitions locally — without this the CPU-bound
    # stage runs on a handful of cores (measured 9s -> 2s at local[32]).
    nshuf = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    hx = fact.repartition(nshuf).select(
        "region_name",
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_A41_BLOCKS - 1))).alias("blk"),
        "auc",
    ).select(
        "region_name",
        "cents",
        "blk",
        F.md5(
            F.concat_ws("|", F.col("auc"), F.col("blk").cast("string"))
        ).alias("hex"),
    )
    vs = hx.select(
        "region_name",
        "cents",
        "blk",
        F.conv(F.substring("hex", 1, 15), 16, 10).cast("long").alias("v1"),
        F.conv(F.substring("hex", 16, 15), 16, 10).cast("long").alias("v2"),
    )
    draws = vs.select(
        "region_name",
        "cents",
        "v1",
        "v2",
        "blk",
        F.explode(F.sequence(F.lit(0), F.lit(7))).alias("j"),
    ).select(
        "region_name",
        "cents",
        (F.col("blk") * 8 + F.col("j")).alias("rep"),
        F.expr(
            "shiftright(CASE WHEN j < 4 THEN v1 ELSE v2 END, (j % 4) * 15)"
            " & 32767"
        ).alias("k"),
    )
    wgt = F.lit(0)
    for cut in _A41_CUTS:
        wgt = wgt + (F.col("k") >= cut).cast("long")
    pw = (
        draws.select("region_name", "rep", "cents", wgt.alias("wgt"))
        .groupBy("region_name", "rep")
        .agg(
            F.sum("wgt").alias("wsum"),
            F.sum(F.col("wgt") * F.col("cents")).alias("csum"),
        )
    )
    means = pw.select(
        "region_name",
        (F.col("csum").cast("double") / (100.0 * F.col("wsum"))).alias("m"),
    )
    boot = means.groupBy("region_name").agg(F.stddev_samp("m").alias("se"))
    pt = fact.groupBy("region_name").agg(
        F.count("*").alias("n"),
        (F.sum("cents").cast("double") / (100.0 * F.count("*"))).alias("mu"),
    )
    mu, se = F.col("mu"), F.col("se")
    return (
        pt.join(boot, "region_name")
        .select(
            "region_name",
            "n",
            r4(mu).alias("mean_buyout"),
            r4(se).alias("boot_se"),
            r4(mu - 1.96 * se).alias("ci_lo"),
            r4(mu + 1.96 * se).alias("ci_hi"),
        )
        .orderBy("region_name")
    )


# ---------------------------------------------------------------------------
# A42 — Pareto skyline (cheapest-price / largest-lot frontier)
# ---------------------------------------------------------------------------

# Fixed price-grid width for the distributed two-level skyline: the
# bucket table is bounded by (price range / width), a CONSTANT in the
# data contract, never by corpus size (the x40 fixed-grid lesson).
_A42_GRID = 65536

def skyline_frontier(cand: DataFrame, grid: int = _A42_GRID) -> DataFrame:
    """Two-level distributed 2-D skyline over ``(cents, qty)`` rows.

    ``cand`` must hold one row per distinct ``cents`` with the max
    ``qty`` for that price. Returns the Pareto frontier (minimize
    cents, maximize qty). Exposed separately so the property suite can
    drive it against brute-force dominance on adversarial inputs.
    """
    cand = cand.withColumn("bkt", F.expr(f"cents DIV {grid}"))
    cand = cand.transform(lazy_barrier)  # feeds bucket maxima and the filter
    # bounded bucket relation: <= price_range / grid rows by contract
    wlow = Window.orderBy("bkt").rowsBetween(Window.unboundedPreceding, -1)
    lower = (
        cand.groupBy("bkt")
        .agg(F.max("qty").alias("bqty"))
        .select("bkt", F.max("bqty").over(wlow).alias("lo_qty"))
    )
    win = (
        Window.partitionBy("bkt")
        .orderBy("cents")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    sky = (
        cand.join(lower, "bkt", "left")
        .withColumn("run_qty", F.max("qty").over(win))
        .filter(
            F.col("qty")
            > F.greatest(
                F.coalesce(F.col("run_qty"), F.lit(-1.0)),
                F.coalesce(F.col("lo_qty"), F.lit(-1.0)),
            )
        )
    )
    return sky.select(
        F.col("cents").alias("buyout_cents"), F.col("qty").alias("quantity")
    ).orderBy("buyout_cents")



@register(
    "a42_skyline",
    auctions_sql(
        """
    , cand AS (
        SELECT CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
               MAX(quantity) AS qty
        FROM auctions WHERE buyout > 0
        GROUP BY 1
    )
    SELECT cents AS buyout_cents, qty AS quantity
    FROM (
        SELECT cents, qty,
               MAX(qty) OVER (ORDER BY cents
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                   AS prevmax
        FROM cand
    )
    WHERE prevmax IS NULL OR qty > prevmax
    ORDER BY buyout_cents
    """
    ),
    doc="A42 (EXT analytics) — PARETO SKYLINE of the market: the "
    "frontier of listings not dominated on (lower price, larger lot) "
    "— the multi-objective 'best deals' query (a14's bargain finder "
    "scores one objective; the skyline returns every trade-off-"
    "optimal point). Exact integer dims (price cents, quantity). "
    "The oracle runs the textbook single-sorted-window form (keep a "
    "point iff qty exceeds the running max of all cheaper points); "
    "the Spark plan is the DISTRIBUTED two-level skyline that avoids "
    "any corpus-sized single partition: (1) reduce to per-price "
    "max quantity (hash-agg); (2) bucket prices on a FIXED grid — "
    "the bucket table is bounded by price-range/width (a data-"
    "contract constant), so its strictly-lower-bucket running max is "
    "a bounded-size window, never a corpus-sized single partition; "
    "(3) per-bucket windows (parallel across buckets) keep a point "
    "iff its quantity strictly exceeds every strictly-cheaper "
    "point's max — within-bucket running max OR the lower-bucket "
    "threshold. Equivalent to the dominance definition because the "
    "grid is monotone in price.",
    tags=("ext", "agg", "analytics"),
    late=True,
)


def a42_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    cents = (
        (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
    )
    cand = (
        au.filter(F.col("buyout") > 0)
        .groupBy(cents.alias("cents"))
        .agg(F.max("quantity").alias("qty"))
    )
    return skyline_frontier(cand)


# ---------------------------------------------------------------------------
# A43 — Adamic-Adar link prediction over the co-ownership graph
# ---------------------------------------------------------------------------

_A43_MIN_DEG = 2
_A43_MAX_DEG = 40  # hot-item cap: bounds the per-item pair fan-out at
# C(cap,2); items above it are boilerplate-grade hubs whose pairs carry
# ~no AA weight (1/ln n) anyway — the x21 hot-bucket lesson.
_A43_TOPK = 100

# 1/ln(n) in exact integer MICRO-units, precomputed host-side so the
# score is a BIGINT sum on both engines — no libm in either plan, and
# the top-k cut orders on an exact integer (no float-boundary flake).
_A43_MICRO = {
    n: int(math.floor(1_000_000.0 / math.log(n)))
    for n in range(_A43_MIN_DEG, _A43_MAX_DEG + 1)
}

_A43_CASE = (
    "CASE n "
    + " ".join(f"WHEN {n} THEN {w}" for n, w in _A43_MICRO.items())
    + " END"
)


@register(
    "a43_adamic_adar",
    auctions_sql(
        f"""
    , io AS (SELECT DISTINCT item, owner FROM auctions),
    deg AS (
        SELECT item, COUNT(*) AS n FROM io GROUP BY 1
        HAVING COUNT(*) BETWEEN {_A43_MIN_DEG} AND {_A43_MAX_DEG}
    ),
    gated AS (
        SELECT io.item, io.owner, d.n
        FROM io JOIN deg d ON io.item = d.item
    ),
    pairs AS (
        SELECT a.owner AS owner_a, b.owner AS owner_b,
               {_A43_CASE.replace('CASE n ', 'CASE a.n ')} AS w
        FROM gated a JOIN gated b
          ON a.item = b.item AND a.owner < b.owner
    )
    SELECT owner_a, owner_b, COUNT(*) AS n_shared,
           SUM(w) AS aa_micro,
           {r4sql('SUM(w) / 1000000.0')} AS aa_score
    FROM pairs GROUP BY 1, 2
    ORDER BY aa_micro DESC, owner_a, owner_b
    LIMIT {_A43_TOPK}
    """
    ),
    doc="A43 (EXT analytics) — ADAMIC-ADAR link prediction on the "
    "owner co-listing graph: for every owner pair sharing items, "
    "score = sum over shared items of 1/ln(item's owner count) — "
    "rare shared items say more than ones everyone lists (a18 counts "
    "co-listings; AA weights them by informativeness; a20/a21 "
    "measure the realized graph, this predicts MISSING edges). "
    "Exactness: 1/ln(n) is precomputed host-side into integer micro-"
    "units for the capped degree domain, so the pair score is a "
    "BIGINT sum — both engines do pure integer algebra and the "
    "top-k boundary cuts on an exact integer with a total tiebreak "
    "(no float-ulp membership flake; no libm divergence risk). "
    "Scale shape: degree gate caps per-item pair fan-out at "
    "C(cap,2) (the hot-bucket lesson — a viral item otherwise mints "
    "k^2 join rows); degree attaches by an equi-join on item (per-"
    "item table is corpus-linear: NOT broadcast, AQE decides); "
    "top-k is a distributed TakeOrdered, not a global sort.",
    tags=("ext", "agg", "analytics", "graph"),
    late=True,
)
def a43_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    io = au.select("item", "owner").distinct().transform(lazy_barrier)
    deg = (
        io.groupBy("item")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n").between(_A43_MIN_DEG, _A43_MAX_DEG))
    )
    # r15 (guide §2.4/§5): `gated` feeds BOTH sides of the pair join,
    # so without a cut the deg aggregation (exchange + agg over io +
    # broadcast build) ran TWICE — once per join side. Checkpointing
    # the TINY degree table (items with 2..40 distinct owners) dedupes
    # it for one small job: 3.67→3.09 s interleaved medians.
    # Checkpointing `gated` itself (io-sized) measured far WORSE
    # (6.5 s — it defeats AQE's broadcast of the pair join's build
    # side); A/B ledger in OPTIMIZATION_r15.md.
    deg = deg.transform(lazy_barrier)
    gated = io.join(deg, "item")
    b = gated.select(
        "item", F.col("owner").alias("owner_b")
    )
    w = F.element_at(
        F.create_map(
            *[F.lit(x) for kv in _A43_MICRO.items() for x in kv]
        ),
        F.col("n").cast("integer"),
    )
    pairs = (
        gated.select("item", F.col("owner").alias("owner_a"), w.alias("w"))
        .join(b, "item")
        .filter(F.col("owner_a") < F.col("owner_b"))
    )
    return (
        pairs.groupBy("owner_a", "owner_b")
        .agg(
            F.count("*").alias("n_shared"),
            F.sum("w").alias("aa_micro"),
        )
        .select(
            "owner_a",
            "owner_b",
            "n_shared",
            "aa_micro",
            r4(F.col("aa_micro") / 1_000_000.0).alias("aa_score"),
        )
        .orderBy(F.col("aa_micro").desc(), "owner_a", "owner_b")
        .limit(_A43_TOPK)
    )


# ---------------------------------------------------------------------------
# A44 — mutual information between categorical columns
# ---------------------------------------------------------------------------


@register(
    "a44_mutual_information",
    auctions_sql(
        """
    , fact AS (
        SELECT a.time_left, r.r_name AS region_name
        FROM auctions a
        JOIN supplier s ON a.owner = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    joint AS (
        SELECT time_left, region_name, COUNT(*) AS c FROM fact GROUP BY 1, 2
    ),
    mx AS (SELECT time_left, SUM(c) AS cx FROM joint GROUP BY 1),
    my AS (SELECT region_name, SUM(c) AS cy FROM joint GROUP BY 1),
    tot AS (SELECT SUM(c) AS n FROM joint),
    hx AS (
        SELECT SUM(-(cx * 1.0 / n) * LN(cx * 1.0 / n)) AS h_x
        FROM mx, tot
    ),
    hy AS (
        SELECT SUM(-(cy * 1.0 / n) * LN(cy * 1.0 / n)) AS h_y
        FROM my, tot
    ),
    mi AS (
        SELECT SUM((c * 1.0 / n)
                   * LN(c * 1.0 * n / (cx * 1.0 * cy))) AS mi_v
        FROM joint j
        JOIN mx ON j.time_left = mx.time_left
        JOIN my ON j.region_name = my.region_name
        CROSS JOIN tot
    )
    SELECT n,
           {HX} AS h_timeleft_nats,
           {HY} AS h_region_nats,
           {MI} AS mi_nats,
           {NMI} AS nmi
    FROM tot, hx, hy, mi
    """.replace("{HX}", r4sql("h_x"))
        .replace("{HY}", r4sql("h_y"))
        .replace("{MI}", r4sql("mi_v"))
        .replace("{NMI}", r4sql("mi_v / SQRT(h_x * h_y)"))
    ),
    doc="A44 (EXT analytics) — MUTUAL INFORMATION between two "
    "categorical columns (time_left x region): the model-free "
    "dependence screen feature pipelines run before trusting a "
    "column pair ('does listing duration carry any signal about "
    "region?'). Reports both marginal entropies, MI, and the "
    "sqrt-normalized NMI in [0,1]; suffix says the unit (nats — the "
    "x63 labeling lesson). Shape: ONE scan of the fact join builds "
    "the joint contingency table (bounded by |X|x|Y|, enum "
    "cardinalities); marginals, totals, and all entropy sums fold "
    "from the joint relation, never rescanning the fact. Counts are "
    "exact BIGINTs; LN appears only in the final closed forms on "
    "identical integer ratios, r4-dressed.",
    tags=("ext", "agg", "analytics", "stats"),
    late=True,
)
def a44_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    sup = tables.load(spark, sf_dir, "supplier")
    nat = tables.load(spark, sf_dir, "nation")
    reg = tables.load(spark, sf_dir, "region")
    fact = (
        au.join(sup, au.owner == sup.s_suppkey)
        .join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .select("time_left", F.col("r_name").alias("region_name"))
    )
    joint = (
        fact.groupBy("time_left", "region_name")
        .agg(F.count("*").alias("c"))
        .transform(lazy_barrier)  # tiny (|X| x |Y|), feeds every fold below
    )
    mx = joint.groupBy("time_left").agg(F.sum("c").alias("cx"))
    my = joint.groupBy("region_name").agg(F.sum("c").alias("cy"))
    tot = joint.agg(F.sum("c").alias("n"))
    hx = mx.crossJoin(tot).agg(
        F.sum(
            -(F.col("cx") * 1.0 / F.col("n"))
            * F.log(F.col("cx") * 1.0 / F.col("n"))
        ).alias("h_x")
    )
    hy = my.crossJoin(tot).agg(
        F.sum(
            -(F.col("cy") * 1.0 / F.col("n"))
            * F.log(F.col("cy") * 1.0 / F.col("n"))
        ).alias("h_y")
    )
    mi = (
        joint.join(mx, "time_left")
        .join(my, "region_name")
        .crossJoin(tot)
        .agg(
            F.sum(
                (F.col("c") * 1.0 / F.col("n"))
                * F.log(
                    F.col("c")
                    * 1.0
                    * F.col("n")
                    / (F.col("cx") * 1.0 * F.col("cy"))
                )
            ).alias("mi_v")
        )
    )
    return (
        tot.crossJoin(hx)
        .crossJoin(hy)
        .crossJoin(mi)
        .select(
            "n",
            r4("h_x").alias("h_timeleft_nats"),
            r4("h_y").alias("h_region_nats"),
            r4("mi_v").alias("mi_nats"),
            r4(F.col("mi_v") / F.sqrt(F.col("h_x") * F.col("h_y"))).alias(
                "nmi"
            ),
        )
    )


# ---------------------------------------------------------------------------
# A45 — trimmed and winsorized means (robust location estimates)
# ---------------------------------------------------------------------------

_A45_TRIM = 0.1  # two-sided trim fraction


@register(
    "a45_trimmed_mean",
    auctions_sql(
        f"""
    , c AS (
        SELECT time_left,
               CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        FROM auctions WHERE buyout IS NOT NULL
    ),
    r AS (
        SELECT time_left, cents,
               ROW_NUMBER() OVER (PARTITION BY time_left
                                  ORDER BY cents) AS rn,
               COUNT(*) OVER (PARTITION BY time_left) AS n
        FROM c
    ),
    kept AS (
        SELECT time_left, n,
               CAST(FLOOR(n * {_A45_TRIM}) AS BIGINT) AS t,
               SUM(cents) AS ksum,
               COUNT(*) AS kn,
               MIN(cents) AS klo,
               MAX(cents) AS khi
        FROM r
        WHERE rn > CAST(FLOOR(n * {_A45_TRIM}) AS BIGINT)
          AND rn <= n - CAST(FLOOR(n * {_A45_TRIM}) AS BIGINT)
        GROUP BY 1, 2
    ),
    tot AS (SELECT time_left, SUM(cents) AS allsum FROM c GROUP BY 1)
    SELECT k.time_left, k.n, k.t AS trim_k,
           {{M}} AS mean_buyout,
           {{TM}} AS trimmed_mean,
           {{WM}} AS winsorized_mean
    FROM kept k JOIN tot ON k.time_left = tot.time_left
    ORDER BY k.time_left
    """.replace("{M}", r4sql("allsum / (100.0 * n)"))
        .replace("{TM}", r4sql("ksum / (100.0 * kn)"))
        .replace(
            "{WM}",
            r4sql("(ksum + t * klo + t * khi) / (100.0 * n)"),
        )
    ),
    doc="A45 (EXT analytics) — TRIMMED and WINSORIZED means of buyout "
    "per time_left: the robust location estimates between the mean "
    "(a2, outlier-dragged) and the median (outlier-blind) — trim "
    "drops the extreme 10% per tail, winsorize clamps them to the "
    "cut values. Complements a31's MAD (robust SPREAD). Exactness: "
    "everything is BIGINT cents; with ties the kept-range SUM is "
    "tie-assignment-invariant (equal values are interchangeable), so "
    "ROW_NUMBER needs no tiebreak for the aggregate to be "
    "deterministic; floats appear only in the three final divisions. "
    "Scale shape: one per-group sort (the exact-order-statistic "
    "cost, same hazard class as a2's exact median — the approx "
    "variant at scale is approx_percentile cuts + conditional "
    "aggregation); the winsorized form needs NO second pass — "
    "boundary values fall out of the kept-range MIN/MAX.",
    tags=("ext", "agg", "analytics", "stats"),
    late=True,
)
def a45_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    # NULL buyouts would land in the rank window where engines disagree
    # on NULL placement — exclude explicitly on both sides.
    c = au.filter(F.col("buyout").isNotNull()).select(
        "time_left",
        (F.col("buyout").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("cents"),
    )
    part = Window.partitionBy("time_left")
    r = c.select(
        "time_left",
        "cents",
        F.row_number().over(part.orderBy("cents")).alias("rn"),
        F.count("*").over(part).alias("n"),
    )
    t = F.floor(F.col("n") * _A45_TRIM).cast("bigint")
    kept = (
        r.filter((F.col("rn") > t) & (F.col("rn") <= F.col("n") - t))
        .groupBy("time_left", "n")
        .agg(
            F.floor(F.first("n") * _A45_TRIM).cast("bigint").alias("t"),
            F.sum("cents").alias("ksum"),
            F.count("*").alias("kn"),
            F.min("cents").alias("klo"),
            F.max("cents").alias("khi"),
        )
    )
    tot = c.groupBy("time_left").agg(F.sum("cents").alias("allsum"))
    return (
        kept.join(tot, "time_left")
        .select(
            "time_left",
            "n",
            F.col("t").alias("trim_k"),
            r4(F.col("allsum") / (100.0 * F.col("n"))).alias(
                "mean_buyout"
            ),
            r4(F.col("ksum") / (100.0 * F.col("kn"))).alias(
                "trimmed_mean"
            ),
            r4(
                (
                    F.col("ksum")
                    + F.col("t") * F.col("klo")
                    + F.col("t") * F.col("khi")
                )
                / (100.0 * F.col("n"))
            ).alias("winsorized_mean"),
        )
        .orderBy("time_left")
    )


# ---------------------------------------------------------------------------
# A46 — l-diversity audit over the ownership quasi-identifier groups
# ---------------------------------------------------------------------------

_A46_L = 3


@register(
    "a46_l_diversity",
    auctions_sql(
        f"""
    , g AS (
        SELECT item, time_left, owner, COUNT(*) AS c
        FROM auctions GROUP BY 1, 2, 3
    ),
    grp AS (
        SELECT item, time_left,
               SUM(c) AS group_size,
               COUNT(*) AS distinct_owners,
               SUM(c * LN(c)) AS sclogc,
               SUM(c) * LN(SUM(c)) AS nlogn
        FROM g GROUP BY 1, 2
    )
    SELECT item, time_left, group_size, distinct_owners,
           {{EL}} AS entropy_l,
           distinct_owners < {_A46_L} AS at_risk
    FROM grp
    ORDER BY item, time_left
    """.replace(
            "{EL}", r4sql("EXP((nlogn - sclogc) / group_size)")
        )
    ),
    doc="A46 (EXT analytics/governance) — L-DIVERSITY audit "
    "(Machanavajjhala et al. 2007) over the (item, time_left) "
    "quasi-identifier groups with OWNER as the sensitive attribute: "
    "x76's k-anonymity only counts group SIZE — a group of 100 rows "
    "all owned by one seller still re-identifies them; l-diversity "
    "requires >= l distinct sensitive values, and entropy-l "
    "(exp of the owner-distribution entropy, the effective owner "
    "count) catches near-degenerate groups a distinct count "
    "misses. Exactness: entropy folds from exact counts via "
    "sum(c*ln c) and n*ln n (identical-integer closed form, ln only "
    "at the end, r4-dressed). Shape: two stacked hash-aggs over the "
    "pruned 3-column scan — map-combinable, no window, no join.",
    tags=("ext", "agg", "analytics", "governance"),
    late=True,
)
def a46_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    g = au.groupBy("item", "time_left", "owner").agg(
        F.count("*").alias("c")
    )
    grp = g.groupBy("item", "time_left").agg(
        F.sum("c").alias("group_size"),
        F.count("*").alias("distinct_owners"),
        F.sum(F.col("c") * F.log("c")).alias("sclogc"),
        (F.sum("c") * F.log(F.sum("c"))).alias("nlogn"),
    )
    return grp.select(
        "item",
        "time_left",
        "group_size",
        "distinct_owners",
        r4(
            F.exp(
                (F.col("nlogn") - F.col("sclogc")) / F.col("group_size")
            )
        ).alias("entropy_l"),
        (F.col("distinct_owners") < _A46_L).alias("at_risk"),
    ).orderBy("item", "time_left")


# ---------------------------------------------------------------------------
# A47 — chi-squared independence test + Cramer's V (contingency table)
# ---------------------------------------------------------------------------

# 95% chi-squared quantiles for df = 1..12 (host-side literals — no
# CDF machinery in either engine).
_A47_CRIT = {
    1: 3.841, 2: 5.991, 3: 7.815, 4: 9.488, 5: 11.070, 6: 12.592,
    7: 14.067, 8: 15.507, 9: 16.919, 10: 18.307, 11: 19.675, 12: 21.026,
}

# CAST to DOUBLE: DuckDB types a bare 15.507 literal as DECIMAL(5,3),
# which would hash differently from Spark's double column.
_A47_CRIT_CASE = (
    "CAST(CASE df "
    + " ".join(f"WHEN {d} THEN {c}" for d, c in _A47_CRIT.items())
    + " END AS DOUBLE)"
)


@register(
    "a47_chi2_independence",
    auctions_sql(
        f"""
    , fact AS (
        SELECT a.time_left, r.r_name AS region_name
        FROM auctions a
        JOIN supplier s ON a.owner = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey
    ),
    joint AS (
        SELECT time_left, region_name, COUNT(*) AS o FROM fact GROUP BY 1, 2
    ),
    mx AS (SELECT time_left, SUM(o) AS rx FROM joint GROUP BY 1),
    my AS (SELECT region_name, SUM(o) AS cy FROM joint GROUP BY 1),
    tot AS (
        SELECT SUM(o) AS n,
               (SELECT COUNT(*) FROM mx) AS nr,
               (SELECT COUNT(*) FROM my) AS nc
        FROM joint
    ),
    s AS (
        SELECT SUM(o * 1.0 * o / (rx * 1.0 * cy)) AS ssum
        FROM joint j
        JOIN mx ON j.time_left = mx.time_left
        JOIN my ON j.region_name = my.region_name
    ),
    calc AS (
        SELECT n, (nr - 1) * (nc - 1) AS df,
               n * ssum - n AS chi2_raw,
               LEAST(nr - 1, nc - 1) AS mindim
        FROM tot, s
    )
    SELECT n, df,
           {{CHI}} AS chi2,
           {_A47_CRIT_CASE} AS crit_95,
           ({{CHI}} > {_A47_CRIT_CASE}) AS dependent,
           {{V}} AS cramers_v
    FROM calc
    """.replace("{CHI}", r4sql("chi2_raw"))
        .replace("{V}", r4sql("SQRT(chi2_raw / (n * mindim))"))
    ),
    doc="A47 (EXT analytics) — CHI-SQUARED INDEPENDENCE test + "
    "CRAMER'S V over the (time_left x region) contingency table: a44 "
    "reports HOW MUCH information the columns share (MI); this "
    "reports whether the dependence is STATISTICALLY significant "
    "(chi2 vs the 95% quantile at the table's df) and its effect "
    "size on a [0,1] scale — the pair of questions every "
    "feature-dependence screen must answer together, since at 100 TB "
    "row counts everything is 'significant' and only V says whether "
    "it matters. Exactness: chi2 folds via the identity "
    "sum((o-e)^2/e) = n*sum(o^2/(rx*cy)) - n from exact integers; "
    "the df-indexed critical value is a host-side literal CASE (no "
    "CDF in either engine); the flag cuts on the r4-canonical chi2 "
    "(a19 pattern). Shape: one fact scan -> bounded joint table -> "
    "tiny folds, same as a44.",
    tags=("ext", "agg", "analytics", "stats"),
    late=True,
)
def a47_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    sup = tables.load(spark, sf_dir, "supplier")
    nat = tables.load(spark, sf_dir, "nation")
    reg = tables.load(spark, sf_dir, "region")
    fact = (
        au.join(sup, au.owner == sup.s_suppkey)
        .join(nat, sup.s_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .select("time_left", F.col("r_name").alias("region_name"))
    )
    joint = (
        fact.groupBy("time_left", "region_name")
        .agg(F.count("*").alias("o"))
        .transform(lazy_barrier)
    )
    mx = joint.groupBy("time_left").agg(F.sum("o").alias("rx"))
    my = joint.groupBy("region_name").agg(F.sum("o").alias("cy"))
    tot = joint.agg(F.sum("o").alias("n")).crossJoin(
        mx.agg(F.count("*").alias("nr"))
    ).crossJoin(my.agg(F.count("*").alias("nc")))
    s = (
        joint.join(mx, "time_left")
        .join(my, "region_name")
        .agg(
            F.sum(
                F.col("o") * 1.0 * F.col("o")
                / (F.col("rx") * 1.0 * F.col("cy"))
            ).alias("ssum")
        )
    )
    calc = tot.crossJoin(s).select(
        "n",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).alias("df"),
        (F.col("n") * F.col("ssum") - F.col("n")).alias("chi2_raw"),
        F.least(F.col("nr") - 1, F.col("nc") - 1).alias("mindim"),
    )
    crit = F.lit(None).cast("double")
    for d, c in reversed(list(_A47_CRIT.items())):
        crit = F.when(F.col("df") == d, c).otherwise(crit)
    chi = r4(F.col("chi2_raw"))
    return calc.select(
        "n",
        "df",
        chi.alias("chi2"),
        crit.alias("crit_95"),
        (chi > crit).alias("dependent"),
        r4(F.sqrt(F.col("chi2_raw") / (F.col("n") * F.col("mindim")))).alias(
            "cramers_v"
        ),
    )


# ---------------------------------------------------------------------------
# W15 — weighted median unit price (lot-size-weighted order statistic)
# ---------------------------------------------------------------------------


@register(
    "w15_weighted_median",
    auctions_sql(
        """
    , b AS (
        SELECT item, buyout / quantity AS v,
               CAST(CAST(quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS w
        FROM auctions WHERE quantity > 0 AND buyout > 0
    ),
    g AS (SELECT item, v, SUM(w) AS w FROM b GROUP BY 1, 2),
    c AS (
        SELECT item, v,
               SUM(w) OVER (PARTITION BY item ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumw,
               SUM(w) OVER (PARTITION BY item) AS totw
        FROM g
    )
    SELECT item,
           {TQ} AS total_quantity,
           {WM} AS weighted_median_per_unit
    FROM c
    WHERE 2 * cumw >= totw
    GROUP BY item, totw
    ORDER BY item
    """.replace("{TQ}", r4sql("totw / 100.0"))
        .replace("{WM}", r4sql("MIN(v)"))
    ),
    doc="W15 (EXT window/agg) — WEIGHTED MEDIAN unit price per item, "
    "weighted by lot size: a2's median treats a 1-unit and a "
    "200-unit listing as equal votes, so thin decoy listings drag "
    "the 'typical price a buyer actually pays'. The weighted median "
    "(lower form: least v with cumulative weight >= half the total) "
    "is the standard fix. Exactness: weights are exact BIGINT "
    "quantity-cents, the half-total cut 2*cumw >= totw is pure "
    "integer algebra, and the selected v is a MIN over "
    "engine-identical doubles (one correctly rounded division per "
    "distinct value) — no interpolation, no float accumulation. "
    "Shape: per-item cumulative frames over the distinct-value "
    "relation (hash-agg first, so ties collapse before the window); "
    "the exact-order-statistic cost class of a2, with the same "
    "approx_percentile escape hatch at scale.",
    tags=("ext", "window", "agg", "analytics"),
    late=True,
)
def w15_weighted_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    b = au.filter((F.col("quantity") > 0) & (F.col("buyout") > 0)).select(
        "item",
        (F.col("buyout") / F.col("quantity")).alias("v"),
        (F.col("quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("w"),
    )
    g = b.groupBy("item", "v").agg(F.sum("w").alias("w"))
    part = Window.partitionBy("item")
    c = g.select(
        "item",
        "v",
        F.sum("w")
        .over(part.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cumw"),
        F.sum("w").over(part).alias("totw"),
    )
    return (
        c.filter(2 * F.col("cumw") >= F.col("totw"))
        .groupBy("item", "totw")
        .agg(F.min("v").alias("_wm"))
        .select(
            "item",
            r4(F.col("totw") / 100.0).alias("total_quantity"),
            r4("_wm").alias("weighted_median_per_unit"),
        )
        .orderBy("item")
    )


# ---------------------------------------------------------------------------
# A50 — Spearman rank correlation (tie-corrected, integer-exact ranks)
# ---------------------------------------------------------------------------


@register(
    "a50_spearman",
    auctions_sql(
        """
    , base AS (
        SELECT time_left AS g,
               CAST(CAST(quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS x,
               CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
        FROM auctions WHERE quantity IS NOT NULL AND buyout IS NOT NULL
    ),
    joint AS (SELECT g, x, y, COUNT(*) AS c FROM base GROUP BY 1, 2, 3),
    mx AS (
        SELECT g, x,
               2 * COALESCE(SUM(cx) OVER (PARTITION BY g ORDER BY x
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cx + 1 AS rx2
        FROM (SELECT g, x, SUM(c) AS cx FROM joint GROUP BY 1, 2)
    ),
    my AS (
        SELECT g, y,
               2 * COALESCE(SUM(cy) OVER (PARTITION BY g ORDER BY y
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               + cy + 1 AS ry2
        FROM (SELECT g, y, SUM(c) AS cy FROM joint GROUP BY 1, 2)
    ),
    s AS (
        SELECT j.g,
               SUM(j.c) AS n,
               SUM(j.c * mx.rx2) AS sx,
               SUM(j.c * my.ry2) AS sy,
               SUM(j.c * mx.rx2 * mx.rx2) AS sxx,
               SUM(j.c * my.ry2 * my.ry2) AS syy,
               SUM(j.c * mx.rx2 * my.ry2) AS sxy
        FROM joint j
        JOIN mx ON j.g = mx.g AND j.x = mx.x
        JOIN my ON j.g = my.g AND j.y = my.y
        GROUP BY 1
    )
    SELECT g AS time_left, n,
           {RHO} AS spearman_rho
    FROM s
    ORDER BY time_left
    """.replace(
            "{RHO}",
            # explicit DOUBLE casts, not "* 1.0": DuckDB types a 1.0
            # literal as DECIMAL(2,1), keeps the whole expression in
            # DECIMAL(38), and the moment products overflow it at
            # sf0.1 (caught by the full sf0.1 parity sweep)
            r4sql(
                "(CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)"
                " - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))"
                " / SQRT((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)"
                "         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))"
                "      * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)"
                "         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))"
            ),
        )
    ),
    doc="A50 (EXT analytics) — SPEARMAN rank correlation between lot "
    "size and buyout per time_left: the monotone-association measure "
    "for skewed marketplace quantities where Pearson (w12's "
    "regression family) is dragged by price outliers — tie-corrected "
    "via average ranks, i.e. Pearson over the rank transforms. "
    "Exactness: DOUBLED average ranks (2r = 2·cum_before + c + 1) "
    "are exact BIGINTs, so every accumulated moment (sx, sxx, sxy, "
    "...) is integer algebra; the closed-form rho promotes to double "
    "only at the end, where both engines multiply/subtract the SAME "
    "integers (correctly rounded identically). Shape (r9): one "
    "(g,x,y) hash-agg; marginal ranks come from the TWO-PHASE grouped "
    "prefix sum (operators/ranking.grouped_cum_before — range-"
    "partition, parallel local prefix, broadcast offset shift) so no "
    "single window task ever holds a whole group's distinct-value "
    "relation (4 groups × 10⁷+ distinct cent-prices at 100 TB); rank "
    "tables join back on value keys — corpus-linear sides, unhinted.",
    tags=("ext", "agg", "analytics", "stats"),
    late=True,
)
def a50_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    base = au.filter(
        F.col("quantity").isNotNull() & F.col("buyout").isNotNull()
    ).select(
        F.col("time_left").alias("g"),
        (F.col("quantity").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("x"),
        (F.col("buyout").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("y"),
    )
    joint = base.groupBy("g", "x", "y").agg(F.count("*").alias("c"))
    joint = joint.transform(lazy_barrier)  # feeds both marginals + the fold

    # two-phase grouped prefix sum (r9, verdict item 5): the naive
    # `SUM(cv) OVER (PARTITION BY g ORDER BY v)` puts each group's
    # entire distinct-value relation in ONE window task — with 4
    # groups and 10⁷+ distinct cent-prices per group at 100 TB
    # that is a single-task bottleneck. grouped_cum_before range-
    # partitions, prefix-sums in parallel, and shifts by broadcast
    # per-partition offsets; results are exact integers either way so
    # parity is untouched.
    #
    # r14 optimization pass (guide §2.4 "remove shuffles outright"):
    # BOTH marginals ride ONE grouped_cum_before call — the x- and
    # y-rank relations are unioned with a marginal tag `_m` and the
    # prefix sum runs per (_m, g) group, which is exactly the two
    # per-marginal prefix sums on the same integers. This halves the
    # fixed machinery: one range exchange instead of two, one staged
    # barrier instead of two, one offsets window + broadcast join
    # instead of two (before: 7 hash exchanges / 4 broadcasts in the
    # final plan plus 3 construction-time barrier jobs; after: 5 / 3
    # and 2). Ranks are bit-identical (same exact integer algebra per
    # group; `_m` only separates the groups).
    from server_spark.operators.ranking import grouped_cum_before

    mboth = (
        joint.groupBy("g", "x")
        .agg(F.sum("c").alias("cv"))
        .select(F.lit(0).alias("_m"), "g", F.col("x").alias("v"), "cv")
        .unionAll(
            joint.groupBy("g", "y")
            .agg(F.sum("c").alias("cv"))
            .select(F.lit(1).alias("_m"), "g", F.col("y").alias("v"), "cv")
        )
    )
    # 16 range slices for the union (the old shape used 8 per
    # marginal — same per-slice volume); at 100 TB raise via
    # spark.sql.shuffle.partitions-sized num_partitions
    ranked = grouped_cum_before(
        mboth, ["_m", "g"], "v", "cv", "cb", num_partitions=16
    ).select(
        "_m", "g", "v", (2 * F.col("cb") + F.col("cv") + 1).alias("r2")
    )
    # the two marginal branches below each re-read `ranked`; barrier
    # it so the union+window runs once, not once per branch
    ranked = ranked.transform(lazy_barrier)
    mx = ranked.filter(F.col("_m") == 0).select(
        "g", F.col("v").alias("x"), F.col("r2").alias("rx2")
    )
    my = ranked.filter(F.col("_m") == 1).select(
        "g", F.col("v").alias("y"), F.col("r2").alias("ry2")
    )
    # moments in DECIMAL(38,0), not BIGINT: doubled ranks reach 2n per
    # group, so c*rank^2 sums hit ~n^3 — past 2^63 at a few million
    # rows (the r11 sf1.0 scale probe caught the ANSI long overflow
    # live). decimal(38,0) keeps the moments integer-EXACT (the whole
    # point of the rank fold) with headroom to ~1e38 ≈ n=10^12 rows
    # per group; the oracle's DuckDB side already sums in HUGEINT.
    cd = F.col("c").cast("decimal(38,0)")
    s = (
        joint.join(mx, ["g", "x"])
        .join(my, ["g", "y"])
        .groupBy("g")
        .agg(
            F.sum("c").alias("n"),
            F.sum(cd * F.col("rx2")).alias("sx"),
            F.sum(cd * F.col("ry2")).alias("sy"),
            F.sum(cd * F.col("rx2") * F.col("rx2")).alias("sxx"),
            F.sum(cd * F.col("ry2") * F.col("ry2")).alias("syy"),
            F.sum(cd * F.col("rx2") * F.col("ry2")).alias("sxy"),
        )
    )
    n = F.col("n")
    rho = r4(
        (n * 1.0 * F.col("sxy") - F.col("sx") * 1.0 * F.col("sy"))
        / F.sqrt(
            (n * 1.0 * F.col("sxx") - F.col("sx") * 1.0 * F.col("sx"))
            * (n * 1.0 * F.col("syy") - F.col("sy") * 1.0 * F.col("sy"))
        )
    )
    return s.select(
        F.col("g").alias("time_left"), "n", rho.alias("spearman_rho")
    ).orderBy("time_left")


# ---------------------------------------------------------------------------
# A51 — tail risk: exact VaR / CVaR of unit prices per time_left
# ---------------------------------------------------------------------------

@register(
    "a51_tail_risk",
    auctions_sql(
        """
    , c AS (
        SELECT time_left AS g,
               CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM auctions WHERE buyout IS NOT NULL
    ),
    d AS (SELECT g, v, COUNT(*) AS cnt FROM c GROUP BY 1, 2),
    cum AS (
        SELECT g, v, cnt,
               SUM(cnt) OVER (PARTITION BY g ORDER BY v
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumc,
               SUM(cnt) OVER (PARTITION BY g) AS n
        FROM d
    ),
    var_ AS (
        SELECT g, MAX(n) AS n, MIN(v) AS var_c
        FROM cum WHERE cumc >= (19 * n + 19) // 20
        GROUP BY g
    ),
    tail AS (
        SELECT d.g, SUM(d.cnt) AS n_tail,
               SUM(d.cnt * d.v) AS tail_sum
        FROM d JOIN var_ ON d.g = var_.g AND d.v >= var_.var_c
        GROUP BY 1
    )
    SELECT var_.g AS time_left, var_.n,
           {VAR} AS var_95,
           {CVAR} AS cvar_95,
           t.n_tail
    FROM var_ JOIN tail t ON var_.g = t.g
    ORDER BY time_left
    """.replace("{VAR}", r4sql("var_c / 100.0"))
        .replace(
            "{CVAR}",
            r4sql("CAST(tail_sum AS DOUBLE) / (100.0 * n_tail)"),
        )
    ),
    doc="A51 (EXT analytics) — TAIL RISK of buyout prices per "
    "time_left: exact 95% Value-at-Risk (the order statistic at "
    "ceil(0.95n), lower form) and the Conditional VaR / expected "
    "shortfall (exact mean of everything at or beyond it) — the pair "
    "a buyer-side budget model reads where a2's median reads the "
    "center (VaR says where the expensive tail starts; CVaR says how "
    "bad it is once you're in it). Exactness: the rank cut is pure "
    "integer algebra (cumc >= (19n+19) DIV 20 over the distinct-"
    "value cumulative frame — the a40 pattern), VaR is a MIN over "
    "exact cents, and CVaR is an exact-cents tail sum over one "
    "value-gated join; floats only in the two final divisions. Tail "
    "membership is VALUE-based (every row >= the VaR value), so ties "
    "at the boundary are deterministic on both engines. Same "
    "exact-order-statistic cost class as a2, same approx escape.",
    tags=("ext", "agg", "analytics", "stats", "finance"),
    late=True,
)
def a51_tail_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    c = au.filter(F.col("buyout").isNotNull()).select(
        F.col("time_left").alias("g"),
        (F.col("buyout").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    d = c.groupBy("g", "v").agg(F.count("*").alias("cnt"))
    d = d.transform(lazy_barrier)  # feeds the rank cut and the tail join
    part = Window.partitionBy("g")
    cum = d.select(
        "g",
        "v",
        "cnt",
        F.sum("cnt")
        .over(part.orderBy("v").rowsBetween(Window.unboundedPreceding, 0))
        .alias("cumc"),
        F.sum("cnt").over(part).alias("n"),
    )
    k = F.expr("(19 * n + 19) DIV 20")
    var_ = (
        cum.filter(F.col("cumc") >= k)
        .groupBy("g")
        .agg(F.max("n").alias("n"), F.min("v").alias("var_c"))
    )
    tail = (
        d.join(var_.select("g", "var_c"), "g")
        .filter(F.col("v") >= F.col("var_c"))
        .groupBy("g")
        .agg(
            F.sum("cnt").alias("n_tail"),
            F.sum(F.col("cnt") * F.col("v")).alias("tail_sum"),
        )
    )
    return (
        var_.join(tail, "g")
        .select(
            F.col("g").alias("time_left"),
            "n",
            r4(F.col("var_c") / 100.0).alias("var_95"),
            r4(
                F.col("tail_sum").cast("double")
                / (100.0 * F.col("n_tail"))
            ).alias("cvar_95"),
            "n_tail",
        )
        .orderBy("time_left")
    )


# ---------------------------------------------------------------------------
# A52 — Benjamini-Hochberg FDR screen over per-item price deviations
# ---------------------------------------------------------------------------

_A52_ALPHA = 0.05
_A52_MIN_N = 30


@register(
    "a52_bh_fdr_screen",
    auctions_sql(
        f"""
    , c AS (
        SELECT item,
               CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
        FROM auctions WHERE buyout IS NOT NULL
    ),
    g AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS ng,
               CAST(SUM(v) AS BIGINT) AS s1g,
               CAST(SUM(CAST(v AS DOUBLE) * CAST(v AS DOUBLE)) AS DOUBLE)
                   AS s2g
        FROM c
    ),
    per AS (
        SELECT item, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(v) AS BIGINT) AS s1
        FROM c GROUP BY item HAVING COUNT(*) >= {_A52_MIN_N}
    ),
    z AS (
        SELECT per.item, per.n,
               (CAST(per.s1 AS DOUBLE) / per.n
                - CAST(g.s1g AS DOUBLE) / g.ng)
               * SQRT(CAST(per.n AS DOUBLE))
               / SQRT((g.s2g - CAST(g.s1g AS DOUBLE) * g.s1g / g.ng)
                      / (g.ng - 1)) AS zval
        FROM per CROSS JOIN g
    ),
    p AS (
        SELECT item, n, zval,
               LEAST(CAST(1.0 AS DOUBLE),
                     2.0 * EXP(-zval * zval / 2.0)) AS pval
        FROM z
    ),
    ranked AS (
        SELECT item, n, zval, pval,
               ROW_NUMBER() OVER (ORDER BY pval, item) AS rk,
               COUNT(*) OVER () AS m
        FROM p
    ),
    kmax AS (
        SELECT COALESCE(MAX(CASE WHEN pval <= {_A52_ALPHA} * rk / m
                                 THEN rk END), 0) AS k
        FROM ranked
    )
    SELECT r.item, r.n, {{Z}} AS z, {{P}} AS p_bound,
           r.rk AS p_rank, r.m AS n_tested,
           {{T}} AS bh_threshold,
           (r.rk <= kmax.k) AS flagged
    FROM ranked r CROSS JOIN kmax
    ORDER BY r.rk
    """.replace("{Z}", r4sql("r.zval"))
        .replace("{P}", r4sql("r.pval"))
        .replace("{T}", r4sql(f"{_A52_ALPHA} * r.rk / r.m"))
    ),
    doc="A52 (EXT analytics) — BENJAMINI-HOCHBERG FDR screen over "
    "per-item mean-price deviations: every multi-hypothesis anomaly "
    "scan (a11/t11/t20 flag items one at a time) eventually floods "
    "review queues with false positives; BH is the standard control "
    "— sort p-values, find the largest k with p_(k) <= alpha*k/m, "
    "flag ranks <= k, bounding the EXPECTED false-discovery share at "
    "alpha. P-values here are conservative Chernoff tail bounds "
    "p = min(1, 2*exp(-z^2/2)) of the CLT z-score of the item's mean "
    "cent-price vs the global mean (conservative p-values keep BH "
    "valid; no erf needed, so both engines compute the IDENTICAL "
    "IEEE expression). Exactness: all moments are integer cent sums, "
    "so z is derived from the same integers on both engines and the "
    "rank order (pval, item) is total. Shape: one fact-table "
    "hash-agg; everything after is CATALOG-bounded (items), so the "
    "single-task rank window is bounded by the dimension, not the "
    "corpus — the documented exception to the two-phase rank rule.",
    tags=("ext", "agg", "analytics", "stats"),
    late=True,
)
def a52_bh_fdr_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    c = au.filter(F.col("buyout").isNotNull()).select(
        "item",
        (F.col("buyout").cast("decimal(18,2)") * 100)
        .cast("bigint")
        .alias("v"),
    )
    g = c.agg(
        F.count("*").alias("ng"),
        F.sum("v").alias("s1g"),
        F.sum(F.col("v").cast("double") * F.col("v").cast("double"))
        .alias("s2g"),
    )
    per = (
        c.groupBy("item")
        .agg(F.count("*").alias("n"), F.sum("v").alias("s1"))
        .filter(F.col("n") >= _A52_MIN_N)
    )
    zval = (
        (
            F.col("s1").cast("double") / F.col("n")
            - F.col("s1g").cast("double") / F.col("ng")
        )
        * F.sqrt(F.col("n").cast("double"))
        / F.sqrt(
            (
                F.col("s2g")
                - F.col("s1g").cast("double") * F.col("s1g") / F.col("ng")
            )
            / (F.col("ng") - 1)
        )
    )
    p = per.crossJoin(F.broadcast(g)).select(
        "item",
        "n",
        zval.alias("zval"),
        F.least(
            F.lit(1.0), 2.0 * F.exp(-zval * zval / 2.0)
        ).alias("pval"),
    )
    # items are catalog-bounded (a dimension): the global rank window
    # is bounded by the catalog, not the fact table — documented
    # exception to the two-phase rank rule (cf. a50)
    wr = Window.orderBy("pval", "item")
    ranked = p.select(
        "item", "n", "zval", "pval",
        F.row_number().over(wr).alias("rk"),
        F.count("*").over(
            Window.partitionBy(F.lit(1))
        ).alias("m"),
    ).transform(lazy_barrier)  # feeds kmax AND the final projection
    kmax = ranked.agg(
        F.coalesce(
            F.max(
                F.when(
                    F.col("pval") <= _A52_ALPHA * F.col("rk") / F.col("m"),
                    F.col("rk"),
                )
            ),
            F.lit(0),
        ).alias("k")
    )
    return (
        ranked.crossJoin(F.broadcast(kmax))
        .select(
            "item",
            "n",
            r4(F.col("zval")).alias("z"),
            r4(F.col("pval")).alias("p_bound"),
            F.col("rk").alias("p_rank"),
            F.col("m").alias("n_tested"),
            r4(_A52_ALPHA * F.col("rk") / F.col("m")).alias("bh_threshold"),
            (F.col("rk") <= F.col("k")).alias("flagged"),
        )
        .orderBy("p_rank")
    )


# ---------------------------------------------------------------------------
# A53 — price elasticity per item (log-log OLS over monthly aggregates)
# ---------------------------------------------------------------------------

_A53_MIN_MONTHS = 12


@register(
    "a53_price_elasticity",
    auctions_sql(
        f"""
    , m AS (
        SELECT item, date_trunc('month', dump_ts) AS mon,
               CAST(SUM(CAST(CAST(buyout AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS sb,
               CAST(SUM(CAST(CAST(quantity AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS sq
        FROM auctions
        WHERE buyout IS NOT NULL AND quantity IS NOT NULL
        GROUP BY 1, 2
        HAVING SUM(quantity) > 0 AND SUM(buyout) > 0
    ),
    pts AS (
        SELECT item,
               LN(CAST(sb AS DOUBLE) / sq) AS lp,
               LN(CAST(sq AS DOUBLE) / 100.0) AS lq
        FROM m
    ),
    s AS (
        SELECT item, COUNT(*) AS n,
               SUM(lp) AS sx, SUM(lq) AS sy,
               SUM(lp * lp) AS sxx, SUM(lq * lq) AS syy,
               SUM(lp * lq) AS sxy
        FROM pts GROUP BY item
        HAVING COUNT(*) >= {_A53_MIN_MONTHS}
    )
    SELECT item, n AS n_months,
           {{B}} AS elasticity,
           {{R2}} AS r2
    FROM s
    WHERE n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0
    ORDER BY item
    """.replace(
            "{B}", r4sql("(n * sxy - sx * sy) / (n * sxx - sx * sx)")
        ).replace(
            "{R2}",
            r4sql(
                "((n * sxy - sx * sy) * (n * sxy - sx * sy))"
                " / ((n * sxx - sx * sx) * (n * syy - sy * sy))"
            ),
        )
    ),
    doc="A53 (EXT analytics) — PRICE ELASTICITY per item: the OLS "
    "slope of ln(monthly quantity) on ln(monthly mean unit price) — "
    "the classic log-log demand-curve read (slope ≈ %Δq per %Δp; "
    "< −1 elastic, the repricing lever a marketplace team actually "
    "pulls; w12 fits TIME trends, this fits the PRICE response). "
    "Exactness: monthly sums are integer cents (sb) and integer "
    "centi-units (sq), so both engines take LN of the SAME exact "
    "ratios; the OLS moment sums run over month-bounded points "
    "(≤ 84 per item) and land in r4. Degenerate items (constant "
    "price or constant volume → zero variance) are excluded by the "
    "positive-variance gate, not emitted as NaN. Shape: one "
    "fact-table hash-agg to (item, month), one item-keyed hash-agg "
    "of OLS moments — output is catalog-bounded.",
    tags=("ext", "agg", "analytics", "stats"),
    late=True,
)
def a53_price_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    cents = (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
    centi_q = (F.col("quantity").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    m = (
        au.filter(
            F.col("buyout").isNotNull() & F.col("quantity").isNotNull()
        )
        .groupBy("item", F.date_trunc("month", "dump_ts").alias("mon"))
        .agg(
            F.sum(cents).alias("sb"),
            F.sum(centi_q).alias("sq"),
            F.sum("quantity").alias("rawq"),
            F.sum("buyout").alias("rawb"),
        )
        .filter((F.col("rawq") > 0) & (F.col("rawb") > 0))
    )
    lp = F.log(F.col("sb").cast("double") / F.col("sq"))
    lq = F.log(F.col("sq").cast("double") / 100.0)
    pts = m.select("item", lp.alias("lp"), lq.alias("lq"))
    s = (
        pts.groupBy("item")
        .agg(
            F.count("*").alias("n"),
            F.sum("lp").alias("sx"),
            F.sum("lq").alias("sy"),
            F.sum(F.col("lp") * F.col("lp")).alias("sxx"),
            F.sum(F.col("lq") * F.col("lq")).alias("syy"),
            F.sum(F.col("lp") * F.col("lq")).alias("sxy"),
        )
        .filter(F.col("n") >= _A53_MIN_MONTHS)
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    vx = n * sxx - sx * sx
    vy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    return (
        s.filter((vx > 0) & (vy > 0))
        .select(
            "item",
            n.alias("n_months"),
            r4(cov / vx).alias("elasticity"),
            r4(cov * cov / (vx * vy)).alias("r2"),
        )
        .orderBy("item")
    )


# ---------------------------------------------------------------------------
# A54 — Lorenz deciles of seller revenue (completes the a27 Gini read)
# ---------------------------------------------------------------------------


@register(
    "a54_lorenz_deciles",
    auctions_sql(
        """
    , per AS (
        SELECT owner,
               CAST(SUM(CAST(CAST(buyout AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS w
        FROM auctions WHERE buyout IS NOT NULL
        GROUP BY owner
    ),
    deci AS (
        SELECT owner, w,
               NTILE(10) OVER (ORDER BY w, owner) AS decile
        FROM per
    ),
    agg AS (
        SELECT decile,
               CAST(COUNT(*) AS BIGINT) AS n_owners,
               CAST(SUM(w) AS BIGINT) AS wealth
        FROM deci GROUP BY decile
    ),
    tot AS (SELECT CAST(SUM(wealth) AS BIGINT) AS t FROM agg)
    SELECT decile, n_owners,
           {S} AS share,
           {C} AS cum_share
    FROM (
        SELECT decile, n_owners, wealth,
               SUM(wealth) OVER (ORDER BY decile
                   ROWS UNBOUNDED PRECEDING) AS cw
        FROM agg
    ) CROSS JOIN tot
    ORDER BY decile
    """.replace("{S}", r4sql("CAST(wealth AS DOUBLE) / t"))
        .replace("{C}", r4sql("CAST(cw AS DOUBLE) / t"))
    ),
    doc="A54 (EXT analytics) — LORENZ CURVE deciles of seller revenue: "
    "owners sorted by total cent-revenue, split into ten "
    "equal-population bins, each bin's share and cumulative share of "
    "total revenue — the curve whose area deficit a27's Gini "
    "summarizes to one number; the deciles are what a marketplace "
    "review actually reads ('the top 10% of sellers hold X%'). "
    "Deterministic: NTILE over the total order (wealth, owner); all "
    "wealth sums are exact BIGINT cents, shares r4 at the end. "
    "Shape: one fact hash-agg to owners, one owner-bounded window "
    "(sellers are a dimension — the documented a52 exception), one "
    "10-row rollup.",
    tags=("ext", "agg", "analytics"),
    late=True,
)
def a54_lorenz_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    cents = (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
    per = (
        au.filter(F.col("buyout").isNotNull())
        .groupBy("owner")
        .agg(F.sum(cents).alias("w"))
    )
    # owners are catalog-bounded (a dimension): single-task windows
    # here are bounded by the dimension, not the fact table
    deci = per.select(
        "w", F.ntile(10).over(Window.orderBy("w", "owner")).alias("decile")
    )
    agg = deci.groupBy("decile").agg(
        F.count("*").alias("n_owners"), F.sum("w").alias("wealth")
    )
    tot = agg.agg(F.sum("wealth").alias("t"))
    cum = agg.select(
        "decile",
        "n_owners",
        "wealth",
        F.sum("wealth")
        .over(
            Window.orderBy("decile").rowsBetween(
                Window.unboundedPreceding, 0
            )
        )
        .alias("cw"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_owners",
            r4(F.col("wealth").cast("double") / F.col("t")).alias("share"),
            r4(F.col("cw").cast("double") / F.col("t")).alias("cum_share"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# A55 — matched-sample price index (Laspeyres / Paasche / Fisher)
# ---------------------------------------------------------------------------


@register(
    "a55_price_index",
    auctions_sql(
        """
    , m AS (
        SELECT item, date_trunc('month', dump_ts) AS mon,
               CAST(SUM(CAST(CAST(buyout AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS sb,
               CAST(SUM(CAST(CAST(quantity AS DECIMAL(18,2)) * 100
                        AS BIGINT)) AS BIGINT) AS sq
        FROM auctions
        WHERE buyout IS NOT NULL AND quantity IS NOT NULL
        GROUP BY 1, 2 HAVING SUM(quantity) > 0
    ),
    base AS (SELECT MIN(mon) AS mon0 FROM m),
    p0 AS (
        SELECT m.item,
               CAST(m.sb AS DOUBLE) / m.sq AS p0,
               CAST(m.sq AS DOUBLE) / 100.0 AS q0
        FROM m JOIN base ON m.mon = base.mon0
    ),
    paired AS (
        SELECT m.mon, m.item,
               CAST(m.sb AS DOUBLE) / m.sq AS pt,
               CAST(m.sq AS DOUBLE) / 100.0 AS qt,
               p0.p0, p0.q0
        FROM m JOIN p0 ON m.item = p0.item
    ),
    idx AS (
        SELECT mon, CAST(COUNT(*) AS BIGINT) AS n_items,
               SUM(pt * q0) / SUM(p0 * q0) AS laspeyres,
               SUM(pt * qt) / SUM(p0 * qt) AS paasche
        FROM paired GROUP BY mon
    )
    SELECT CAST(mon AS DATE) AS month, n_items,
           {L} AS laspeyres, {P} AS paasche, {F} AS fisher
    FROM idx
    ORDER BY month
    """.replace("{L}", r4sql("laspeyres"))
        .replace("{P}", r4sql("paasche"))
        .replace("{F}", r4sql("SQRT(laspeyres * paasche)"))
    ),
    doc="A55 (EXT analytics) — MATCHED-SAMPLE PRICE INDEX per month: "
    "Laspeyres (base-month basket weights — 'what the old basket "
    "costs now'), Paasche (current-month weights), and their "
    "geometric mean, the Fisher ideal index — THE standard way to "
    "turn per-item price chaos into one inflation series (a2 tracks "
    "each item separately; a53 fits per-item elasticities; this "
    "aggregates the whole market into an index a dashboard plots). "
    "Matched-sample: only items priced in BOTH the base month and "
    "month t enter month t's index — the standard treatment of entry/"
    "exit; n_items records the match width. Exactness: unit prices "
    "are exact integer-cent ratios and quantities exact centi-units, "
    "so both engines multiply identical doubles; index ratios land "
    "in r4. Shape: one fact hash-agg to (item, month), a broadcast "
    "scalar base month, one basket join keyed on the item dimension, "
    "one month-keyed hash-agg — output is calendar-bounded.",
    tags=("ext", "agg", "analytics"),
    late=True,
)
def a55_price_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    au = auctions(spark, sf_dir)
    cents = (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
    centi_q = (F.col("quantity").cast("decimal(18,2)") * 100).cast(
        "bigint"
    )
    m = (
        au.filter(
            F.col("buyout").isNotNull() & F.col("quantity").isNotNull()
        )
        .groupBy("item", F.date_trunc("month", "dump_ts").alias("mon"))
        .agg(
            F.sum(cents).alias("sb"),
            F.sum(centi_q).alias("sq"),
            F.sum("quantity").alias("rawq"),
        )
        .filter(F.col("rawq") > 0)
        .transform(lazy_barrier)  # feeds the base basket AND every month
    )
    base = m.agg(F.min("mon").alias("mon0"))
    p0 = (
        m.join(F.broadcast(base), m["mon"] == F.col("mon0"))
        .select(
            "item",
            (F.col("sb").cast("double") / F.col("sq")).alias("p0"),
            (F.col("sq").cast("double") / 100.0).alias("q0"),
        )
    )
    paired = m.join(p0, "item").select(
        "mon",
        "item",
        (F.col("sb").cast("double") / F.col("sq")).alias("pt"),
        (F.col("sq").cast("double") / 100.0).alias("qt"),
        "p0",
        "q0",
    )
    idx = paired.groupBy("mon").agg(
        F.count("*").alias("n_items"),
        (
            F.sum(F.col("pt") * F.col("q0"))
            / F.sum(F.col("p0") * F.col("q0"))
        ).alias("laspeyres"),
        (
            F.sum(F.col("pt") * F.col("qt"))
            / F.sum(F.col("p0") * F.col("qt"))
        ).alias("paasche"),
    )
    return idx.select(
        F.col("mon").cast("date").alias("month"),
        "n_items",
        r4(F.col("laspeyres")).alias("laspeyres"),
        r4(F.col("paasche")).alias("paasche"),
        r4(F.sqrt(F.col("laspeyres") * F.col("paasche"))).alias("fisher"),
    ).orderBy("month")
