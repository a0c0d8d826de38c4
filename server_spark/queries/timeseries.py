"""Window / time-series / streaming-shaped queries over ``events``
(SURVEY.md §2.5 W1–W4, §2.9 T2/T3/T4/T7, §2.2 P5/P7).

The ``events`` stream stands in for the reference's pricelist/token
histories: ``ts`` is the snapshot timestamp, ``event_type`` the
series key, ``value`` the price analog (FIXTURES.md §3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from server_spark.barrier import barrier, lazy_barrier

from server_spark import tables
from server_spark.operators import timeseries as ts_ops
from server_spark.oracles import holt_kernel
from server_spark.parity import r4, r4sql
from server_spark.registry import auctions_sql, register

RANGE_LO, RANGE_HI = "2024-01-05", "2024-01-15"
RETENTION_CUTOFF = "2024-01-20"
SESSION_GAP_MIN = 30


def _events(spark: SparkSession, sf_dir: str) -> DataFrame:
    return tables.load(spark, sf_dir, "events")


# ---------------------------------------------------------------------------
# P5 / P7(T7) — time-range and retention predicates
# ---------------------------------------------------------------------------


@register(
    "p5_time_range",
    f"""
    SELECT event_id, ts, user_id, event_type, value
    FROM events
    WHERE ts >= TIMESTAMP '{RANGE_LO}' AND ts < TIMESTAMP '{RANGE_HI}'
    """,
    doc="P5 (+P7/T7 family) — history query bounded by lower/upper ts "
    "(Bolt cursor range seek → parquet predicate pushdown / partition "
    "pruning). The retention predicate is the one-sided form of the "
    "same pushed bound (standalone: t7; partition-drop: medallion).",
    tags=("filter", "timeseries"),
)
def p5_time_range(spark: SparkSession, sf_dir: str) -> DataFrame:
    # range predicate applied to the RAW int64 ns column so it reaches
    # the parquet scan (tables.load_events_range); a filter on the
    # converted timestamp would never push down
    return tables.load_events_range(spark, sf_dir, RANGE_LO, RANGE_HI).select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


@register(
    "t7_retention_prune",
    f"""
    SELECT event_id, ts, user_id, event_type
    FROM events WHERE ts >= TIMESTAMP '{RETENTION_CUTOFF}'
    """,
    doc="T7 — RetentionLimit pruning: keep only entries newer than the "
    "cutoff; at scale this is a partition drop, not a scan. Late: the "
    "predicate family is driver-verified via p5.",
    tags=("filter", "timeseries"),
    late=True,
)
def t7_retention_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    # cutoff pushed to the scan as a raw int64 bound (see p5)
    return tables.load_events_range(spark, sf_dir, lo=RETENTION_CUTOFF).select(
        "event_id", "ts", "user_id", "event_type"
    )


# ---------------------------------------------------------------------------
# W1/T3 — tumbling buckets; W2 — bounded history series
# ---------------------------------------------------------------------------


@register(
    "w1_hourly_bucket",
    """
    SELECT event_type,
           date_trunc('hour', ts) AS bucket_ts,
           COUNT(*) AS n,
           {AVG} AS avg_value,
           {SUM} AS sum_value
    FROM events
    GROUP BY event_type, date_trunc('hour', ts)
    """.format(AVG=r4sql("AVG(value)"), SUM=r4sql("SUM(value)")),
    doc="W1/T3 — tumbling hourly window per series: one stats row per "
    "(event_type, hour), the pricelist-history snapshot cadence.",
    tags=("window", "timeseries"),
)
def w1_hourly_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("bucket_ts")
    ).agg(
        F.count("*").alias("n"),
        r4(F.avg("value")).alias("avg_value"),
        r4(F.sum("value")).alias("sum_value"),
    )


@register(
    "w2_history_series",
    f"""
    SELECT event_type,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
           COUNT(*) AS n,
           {r4sql("MIN(value)")} AS min_value,
           {r4sql("MAX(value)")} AS max_value,
           {r4sql("AVG(value)")} AS avg_value
    FROM events
    WHERE ts >= TIMESTAMP '{RANGE_LO}' AND ts < TIMESTAMP '{RANGE_HI}'
      AND event_type IN ('click', 'purchase')
    GROUP BY event_type, date_trunc('day', ts)
    """,
    doc="W2 — per-item history series for an item set + ts range "
    "(the priceListHistory query shape).",
    tags=("window", "timeseries"),
)
def w2_history_series(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load_events_range(spark, sf_dir, RANGE_LO, RANGE_HI).filter(
        F.col("event_type").isin("click", "purchase")
    )
    return ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("bucket_ts")
    ).agg(
        F.count("*").alias("n"),
        r4(F.min("value")).alias("min_value"),
        r4(F.max("value")).alias("max_value"),
        r4(F.avg("value")).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# W3 / W4 — analytic windows over the daily series
# ---------------------------------------------------------------------------

_DAILY_SQL = """
    daily AS (
        SELECT event_type,
               CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
               {AVG} AS avg_value
        FROM events
        GROUP BY event_type, date_trunc('day', ts)
    )
""".format(AVG=r4sql("AVG(value)"))


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("bucket_ts")
    ).agg(r4(F.avg("value")).alias("avg_value"))


@register(
    "w3_lag_moving_avg",
    f"""
    WITH {_DAILY_SQL}
    SELECT event_type, bucket_ts, avg_value,
           LAG(avg_value) OVER w AS prev_value,
           {r4sql("avg_value - LAG(avg_value) OVER w")} AS delta,
           {r4sql('''AVG(avg_value) OVER (
                PARTITION BY event_type ORDER BY bucket_ts
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)''')} AS moving_avg
    FROM daily
    WINDOW w AS (PARTITION BY event_type ORDER BY bucket_ts)
    """,
    doc="W3+W4 — day-over-day delta (lag) AND trailing 7-day moving "
    "average per series, both frames over ONE window partitioning of "
    "the daily aggregate: Spark evaluates both in a single sort within "
    "the same exchange (no global sort, no second shuffle).",
    tags=("window", "timeseries"),
)
def w3_lag_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("event_type").orderBy("bucket_ts")
    prev = F.lag("avg_value").over(w)
    return (
        _daily(spark, sf_dir)
        .withColumn("prev_value", prev)
        .withColumn("delta", r4(F.col("avg_value") - prev))
        .withColumn(
            "moving_avg", r4(F.avg("avg_value").over(w.rowsBetween(-6, 0)))
        )
    )


@register(
    "w5_token_history",
    """
    SELECT r_name AS region_name,
           CAST(date_trunc('day', ts) AS TIMESTAMP) AS bucket_ts,
           COUNT(*) AS n_purchases,
           {MIN} AS min_price,
           {MAX} AS max_price,
           {AVG} AS avg_price
    FROM events
    JOIN customer ON user_id = c_custkey
    JOIN nation ON c_nationkey = n_nationkey
    JOIN region ON n_regionkey = r_regionkey
    WHERE event_type = 'purchase'
    GROUP BY r_name, date_trunc('day', ts)
    """.format(
        MIN=r4sql("MIN(value)"), MAX=r4sql("MAX(value)"), AVG=r4sql("AVG(value)")
    ),
    doc="W5/TokenHistory — per-REGION daily price series (the "
    "TokenHistory entity: one averaged price row per region per "
    "interval). Fact joined to the broadcast region hierarchy "
    "(customer→nation→region), then one hash-agg on (region, day).",
    tags=("window", "timeseries", "join"),
)
def w5_token_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("event_type") == "purchase")
    cust = tables.load(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nation = tables.load(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey"
    )
    region = tables.load(spark, sf_dir, "region")
    dim = (
        cust.join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .select(F.col("c_custkey").alias("user_id"), "r_name")
    )
    return (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy(
            F.col("r_name").alias("region_name"),
            F.date_trunc("day", F.col("ts")).alias("bucket_ts"),
        )
        .agg(
            F.count("*").alias("n_purchases"),
            r4(F.min("value")).alias("min_price"),
            r4(F.max("value")).alias("max_price"),
            r4(F.avg("value")).alias("avg_price"),
        )
    )


_SLIDE_US = 15 * 60 * 1_000_000       # 15-min hop
_WIN_US = 60 * 60 * 1_000_000         # 1-hour window


@register(
    "w6_sliding_window",
    f"""
    WITH hops AS (
        SELECT event_type, value,
               (epoch_us(ts) // {_SLIDE_US} - j) * {_SLIDE_US} AS start_us
        FROM events, UNNEST([0, 1, 2, 3]) AS t(j)
        WHERE epoch_us(ts) - (epoch_us(ts) // {_SLIDE_US} - j) * {_SLIDE_US}
              < {_WIN_US}
    )
    SELECT event_type,
           make_timestamp(start_us) AS bucket_ts,
           COUNT(*) AS n,
           {r4sql("AVG(value)")} AS avg_value
    FROM hops
    GROUP BY event_type, start_us
    """,
    doc="T4 (sliding) — hopping 1-hour windows every 15 min per "
    "series: Spark's native window(ts, '1 hour', '15 minutes') "
    "(each event lands in 4 overlapping buckets); oracle derives the "
    "same epoch-aligned window starts arithmetically.",
    tags=("window", "timeseries", "sliding"),
    late=True,
)
def w6_sliding_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    return (
        ev.groupBy(
            "event_type",
            F.window("ts", "1 hour", "15 minutes").alias("win"),
        )
        .agg(F.count("*").alias("n"), r4(F.avg("value")).alias("avg_value"))
        .select(
            "event_type",
            F.col("win.start").alias("bucket_ts"),
            "n",
            "avg_value",
        )
    )


# ---------------------------------------------------------------------------
# T2 — watermark dedup (batch form)
# ---------------------------------------------------------------------------


@register(
    "t2_watermark_dedup",
    """
    SELECT event_id, user_id, event_type, ts FROM (
        SELECT event_id, user_id, event_type, ts,
               ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type, date_trunc('day', ts)
                   ORDER BY ts, event_id
               ) AS rn
        FROM events
    ) WHERE rn = 1
    """,
    doc="T2 — watermark dedup, batch form: first event per (user, "
    "type, day), survivor chosen by deterministic order (the "
    "lastModified-skip semantics; never dropDuplicates).",
    tags=("dedup", "timeseries"),
)
def t2_watermark_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    return ts_ops.watermark_dedup(
        ev,
        keys=["user_id", "event_type", "day"],
        order=[F.col("ts").asc(), F.col("event_id").asc()],
    ).select("event_id", "user_id", "event_type", "ts")


# ---------------------------------------------------------------------------
# T4 — session windows (gaps-and-islands, dialect-identical)
# ---------------------------------------------------------------------------


@register(
    "t4_session_gaps",
    f"""
    WITH flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                         > {SESSION_GAP_MIN} * 60 * 1000000
                    OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    )
    SELECT user_id, session_id,
           MIN(ts) AS session_start,
           MAX(ts) AS session_end,
           COUNT(*) AS n_events
    FROM numbered
    GROUP BY user_id, session_id
    """,
    doc="T4 — session windows (30-min inactivity gap) via "
    "gaps-and-islands: lag + cumulative sum, partitioned per user. "
    "Microsecond-exact gap arithmetic on both engines. Late: T4 is "
    "driver-verified via t4b (native session_window).",
    tags=("window", "timeseries", "session"),
    late=True,
)
def t4_session_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ts_ops.sessionize(
        _events(spark, sf_dir), "user_id", "ts", SESSION_GAP_MIN
    )


# ---------------------------------------------------------------------------
# T8 — funnel conversion (ordered event-sequence match)
# ---------------------------------------------------------------------------

FUNNEL_WINDOW_MIN = 10


@register(
    "t8_funnel_conversion",
    f"""
    WITH nxt AS (
        SELECT user_id, event_type,
               epoch_us(ts) AS ts_us,
               MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                   AS next_click_us
        FROM events
    ),
    views AS (
        SELECT user_id,
               COUNT(*) AS n_views,
               COUNT(CASE WHEN next_click_us
                          <= ts_us + {FUNNEL_WINDOW_MIN} * 60 * 1000000
                     THEN 1 END) AS n_converted
        FROM nxt WHERE event_type = 'view'
        GROUP BY user_id
    )
    SELECT user_id, n_views, n_converted,
           {{RATE}} AS conversion_rate
    FROM views
    """.format(RATE=r4sql("CAST(n_converted AS DOUBLE) / n_views")),
    doc="T8 — funnel: for every 'view', was there a 'click' by the "
    "same user within 10 minutes? The sequence match is ONE window "
    "pass per user (earliest following click via min-over-following "
    "frame, microsecond-exact) — no self-join of the event table "
    "against itself, so the plan stays a single shuffle on user_id "
    "regardless of funnel depth or corpus size. The MATCH_RECOGNIZE "
    "analog for the two-step case.",
    tags=("window", "timeseries", "funnel"),
    late=True,
)
def t8_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    click_us = F.when(
        F.col("event_type") == "click", F.unix_micros(F.col("ts"))
    )
    nxt = ev.select(
        "user_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("ts_us"),
        F.min(click_us).over(w).alias("next_click_us"),
    )
    views = nxt.filter(F.col("event_type") == "view")
    bound_us = FUNNEL_WINDOW_MIN * 60 * 1_000_000
    per_user = views.groupBy("user_id").agg(
        F.count("*").alias("n_views"),
        F.count(
            F.when(
                F.col("next_click_us") <= F.col("ts_us") + bound_us, F.lit(1)
            )
        ).alias("n_converted"),
    )
    return per_user.select(
        "user_id",
        "n_views",
        "n_converted",
        r4(F.col("n_converted").cast("double") / F.col("n_views")).alias(
            "conversion_rate"
        ),
    )


# ---------------------------------------------------------------------------
# W8 — daily OHLC candlesticks (first/last_value window family)
# ---------------------------------------------------------------------------


@register(
    "w8_ohlc_daily",
    f"""
    WITH seq AS (
        SELECT event_type,
               CAST(ts AS DATE) AS day,
               value,
               FIRST_VALUE(value) OVER w AS open,
               LAST_VALUE(value) OVER (PARTITION BY event_type, CAST(ts AS DATE)
                   ORDER BY ts, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
                   AS close
        FROM events
        WINDOW w AS (PARTITION BY event_type, CAST(ts AS DATE)
                     ORDER BY ts, event_id)
    )
    SELECT event_type, day,
           {{O}} AS open, {{H}} AS high, {{L}} AS low, {{C}} AS close,
           COUNT(*) AS n_events
    FROM seq
    GROUP BY event_type, day
    """.format(
        O=r4sql("MAX(open)"),
        H=r4sql("MAX(value)"),
        L=r4sql("MIN(value)"),
        C=r4sql("MAX(close)"),
    ),
    doc="W8 — daily OHLC per series: open/close via first_value / "
    "last_value over a DETERMINISTIC (ts, event_id) order — "
    "last_value needs the explicit unbounded-following frame (the "
    "default frame ends at CURRENT ROW, a classic silent-wrong-answer "
    "trap) — high/low/count from the follow-up agg. The window and "
    "the groupBy share one hash partitioning on (series, day): single "
    "shuffle. The token/price-history candlestick view a reference "
    "user would chart.",
    tags=("window", "timeseries"),
    late=True,
)
def w8_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "value",
        "ts",
        "event_id",
    )
    w = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    seq = ev.select(
        "event_type",
        "day",
        "value",
        F.first("value").over(w).alias("open"),
        F.last("value")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing))
        .alias("close"),
    )
    return seq.groupBy("event_type", "day").agg(
        r4(F.max("open")).alias("open"),
        r4(F.max("value")).alias("high"),
        r4(F.min("value")).alias("low"),
        r4(F.max("close")).alias("close"),
        F.count("*").alias("n_events"),
    )


# ---------------------------------------------------------------------------
# T9 — cohort retention matrix
# ---------------------------------------------------------------------------


@register(
    "t9_cohort_retention",
    """
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    firsts AS (
        SELECT user_id, MIN(day) AS cohort_day FROM active GROUP BY user_id
    )
    SELECT f.cohort_day,
           CAST(date_diff('day', f.cohort_day, a.day) AS INT) AS day_offset,
           COUNT(*) AS n_users
    FROM active a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
    doc="T9 — cohort retention: users grouped by first-seen day, "
    "counted on each later active day (the owner/user retention view "
    "an operator reads weekly). Distinct-activity set → per-user min "
    "→ join the cohort map back — the fact table is touched once; "
    "COUNT(*) suffices after the DISTINCT (no count-distinct shuffle "
    "per cell). The broadcast hint fits while one-row-per-user fits "
    "in memory (owners here ≈ thousands); at web-scale user counts "
    "drop the hint — both sides are already keyed on user_id and AQE "
    "picks the shuffle join.",
    tags=("timeseries", "cohort"),
    late=True,
)
def t9_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    active = (
        _events(spark, sf_dir)
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    firsts = active.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        active.join(F.broadcast(firsts), "user_id")
        .groupBy(
            "cohort_day",
            F.datediff(F.col("day"), F.col("cohort_day")).alias("day_offset"),
        )
        .agg(F.count("*").alias("n_users"))
    )


# ---------------------------------------------------------------------------
# T10 — 7-day rolling active users; A13 — time-hierarchy rollup
# ---------------------------------------------------------------------------


@register(
    "t10_rolling_active_users",
    """
    WITH active AS (
        SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
    ),
    grid AS (SELECT DISTINCT day FROM active)
    SELECT g.day, COUNT(DISTINCT a.user_id) AS mau7
    FROM grid g
    JOIN active a ON a.day BETWEEN g.day - 6 AND g.day
    GROUP BY g.day
    """,
    doc="T10 — 7-day rolling distinct actives per day (the MAU/WAU "
    "series). COUNT(DISTINCT) OVER a sliding frame isn't a window "
    "both engines support, so the portable-AND-scalable form is a "
    "band join of the (user, day) DISTINCT activity set against the "
    "tiny day grid (broadcast) + one count-distinct agg: the fact "
    "table is touched once; join fan-out is ≤7× the activity set, "
    "not the event stream. The HLL-sketch rollup (a9 machinery) is "
    "the approximate path when exactness can be traded away.",
    tags=("timeseries", "window"),
    late=True,
)
def t10_rolling_active_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    active = (
        _events(spark, sf_dir)
        .select("user_id", F.col("ts").cast("date").alias("day"))
        .distinct()
    )
    grid = active.select("day").distinct().withColumnRenamed("day", "g_day")
    joined = active.join(
        F.broadcast(grid),
        (F.col("day") >= F.date_sub(F.col("g_day"), 6))
        & (F.col("day") <= F.col("g_day")),
    )
    return (
        joined.groupBy(F.col("g_day").alias("day"))
        .agg(F.countDistinct("user_id").alias("mau7"))
    )


@register(
    "a13_time_rollup",
    """
    SELECT CAST(YEAR(ts) AS INT) AS yr,
           CAST(MONTH(ts) AS INT) AS mo,
           CAST(GROUPING(YEAR(ts)) AS INT) AS g_yr,
           CAST(GROUPING(MONTH(ts)) AS INT) AS g_mo,
           COUNT(*) AS n_events,
           {V} AS total_value
    FROM events
    GROUP BY ROLLUP (YEAR(ts), MONTH(ts))
    """.format(V=r4sql("SUM(value)")),
    doc="A13 — time-hierarchy rollup: (year, month) subtotals plus "
    "the grand total in ONE pass via GROUP BY ROLLUP — the reporting "
    "rollup a dashboard reads, without scanning the facts once per "
    "grain. GROUPING() flags disambiguate the subtotal rows from "
    "genuine NULL keys. Complements a8's CUBE over the status "
    "dimensions.",
    tags=("agg", "rollup"),
    late=True,
)
def a13_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        F.year("ts").alias("yr_"), F.month("ts").alias("mo_"), "value"
    )
    return (
        ev.rollup("yr_", "mo_")
        .agg(
            F.grouping("yr_").cast("int").alias("g_yr"),
            F.grouping("mo_").cast("int").alias("g_mo"),
            F.count("*").alias("n_events"),
            r4(F.sum("value")).alias("total_value"),
        )
        .select(
            F.col("yr_").cast("int").alias("yr"),
            F.col("mo_").cast("int").alias("mo"),
            "g_yr",
            "g_mo",
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# T11 — robust anomaly detection (median absolute deviation)
# ---------------------------------------------------------------------------

MAD_K = 3.0


@register(
    "t11_price_anomaly",
    """
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, SUM(value) AS v
        FROM events GROUP BY 1
    ),
    r1 AS (
        SELECT day, v,
               ROW_NUMBER() OVER (ORDER BY v, day) AS rn,
               COUNT(*) OVER () AS n
        FROM daily
    ),
    med AS (
        SELECT AVG(v) AS med FROM r1
        WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    ),
    dev AS (
        SELECT day, v, ABS(v - m.med) AS adev, m.med
        FROM daily, med m
    ),
    r2 AS (
        SELECT day, v, adev, med,
               ROW_NUMBER() OVER (ORDER BY adev, day) AS rn,
               COUNT(*) OVER () AS n
        FROM dev
    ),
    mad AS (
        SELECT AVG(adev) AS mad FROM r2
        WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
    )
    SELECT d.day, {V} AS v, {DEV} AS abs_dev,
           d.adev > {K} * m.mad AS is_anomaly
    FROM dev d, mad m
    """.format(V=r4sql("d.v"), DEV=r4sql("d.adev"), K=MAD_K),
    doc="T11 — robust market-anomaly watch: daily value totals flagged "
    "when |v − median| exceeds 3× the MEDIAN ABSOLUTE DEVIATION — "
    "median/MAD instead of mean/σ so one manipulated day cannot mask "
    "itself by inflating the baseline (and no order-dependent float "
    "sums for the oracle to diverge on: both medians are exact "
    "rank-selected raw values). The rank windows run over the "
    "DAY-level relation (365 rows/year at any corpus scale), never "
    "the event stream; the scalar med/MAD broadcast back via cross "
    "join.",
    tags=("timeseries", "anomaly"),
    late=True,
)
def t11_price_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _events(spark, sf_dir)
        .groupBy(F.col("ts").cast("date").alias("day"))
        .agg(F.sum("value").alias("v"))
    )

    def exact_median(df: DataFrame, col: str) -> DataFrame:
        # pinned single-group key on BOTH windows: semantically these
        # are global windows, but they run over the DAY-level relation
        # (365 rows/year regardless of event volume — see docstring),
        # so the single partition is bounded by calendar days, not
        # data. The non-foldable key documents that and silences
        # WindowExec's "No Partition Defined" warning, which at scale
        # would otherwise be indistinguishable from a pathological
        # full-data global window in the logs (lit(1) gets folded
        # away — see operators/windows.pinned_single_group).
        from server_spark.operators.windows import pinned_single_group

        one = Window.partitionBy(pinned_single_group(col))
        r = df.select(
            F.col(col),
            F.row_number()
            .over(one.orderBy(F.col(col), F.col("day")))
            .alias("rn"),
            F.count("*").over(one).alias("n"),
        )
        mid = (F.col("rn") == F.floor((F.col("n") + 1) / 2)) | (
            F.col("rn") == F.floor((F.col("n") + 2) / 2)
        )
        return r.filter(mid).agg(F.avg(col).alias("_m"))

    med = exact_median(daily, "v").withColumnRenamed("_m", "med")
    dev = daily.crossJoin(F.broadcast(med)).select(
        "day", "v", F.abs(F.col("v") - F.col("med")).alias("adev")
    )
    mad = exact_median(dev, "adev").withColumnRenamed("_m", "mad")
    return dev.crossJoin(F.broadcast(mad)).select(
        "day",
        r4("v").alias("v"),
        r4("adev").alias("abs_dev"),
        (F.col("adev") > MAD_K * F.col("mad")).alias("is_anomaly"),
    )


# ---------------------------------------------------------------------------
# T12 — calendar gap backfill (dense series + last-observation carry)
# ---------------------------------------------------------------------------


@register(
    "t12_gap_backfill",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               COUNT(*) AS n_events,
               CAST(SUM(value) AS DOUBLE) AS total
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
    types AS (SELECT DISTINCT event_type FROM daily),
    grid AS (
        SELECT t.event_type, UNNEST(generate_series(b.lo, b.hi,
               INTERVAL 1 DAY))::DATE AS day
        FROM types t CROSS JOIN bounds b
    ),
    dense AS (
        SELECT g.event_type, g.day,
               COALESCE(d.n_events, 0) AS n_events,
               d.total,
               d.total IS NULL AS is_gap
        FROM grid g LEFT JOIN daily d
          ON g.event_type = d.event_type AND g.day = d.day
    )
    SELECT event_type, day, n_events, is_gap,
           {LOCF} AS total_locf
    FROM dense
    """.format(
        LOCF=r4sql(
            "LAST_VALUE(total IGNORE NULLS) OVER ("
            "PARTITION BY event_type ORDER BY day "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        )
    ),
    doc="T12 — calendar gap BACKFILL: densify each event_type's daily "
    "series onto the full min→max day grid (sequence explode — the "
    "generate_series analog), flag the missing days, and fill their "
    "totals by last-observation-carried-forward (the standard "
    "history-table repair before charting/joins; the reference's "
    "pricelist histories have the same hole-filling need when a "
    "realm misses a dump). Scale shape: the grid is types × days "
    "(tiny — built from a broadcast min/max scalar), the per-day agg "
    "is one shuffle of the fact table, the LOCF window partitions by "
    "type over day-level rows.",
    tags=("timeseries", "backfill"),
    late=True,
)
def t12_gap_backfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum("value").cast("double").alias("total"),
        )
        .transform(lazy_barrier)  # feeds bounds, types AND the dense join
    )
    bounds = daily.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    types = daily.select("event_type").distinct()
    grid = types.crossJoin(F.broadcast(bounds)).select(
        "event_type",
        F.explode(
            F.sequence("lo", "hi", F.expr("interval 1 day"))
        ).alias("day"),
    )
    dense = grid.join(daily, ["event_type", "day"], "left").select(
        "event_type",
        "day",
        F.coalesce("n_events", F.lit(0)).alias("n_events"),
        "total",
        F.col("total").isNull().alias("is_gap"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return dense.select(
        "event_type",
        "day",
        "n_events",
        "is_gap",
        r4(F.last("total", ignorenulls=True).over(w)).alias("total_locf"),
    )


# ---------------------------------------------------------------------------
# T13 — cumulative distinct users (audience growth curve)
# ---------------------------------------------------------------------------


@register(
    "t13_cumulative_uniques",
    """
    WITH firsts AS (
        SELECT user_id, MIN(CAST(ts AS DATE)) AS day
        FROM events GROUP BY user_id
    ),
    daily AS (SELECT day, COUNT(*) AS n_new FROM firsts GROUP BY day)
    SELECT day, n_new,
           CAST(SUM(n_new) OVER (ORDER BY day ROWS UNBOUNDED PRECEDING)
                AS BIGINT) AS cum_uniques
    FROM daily
    """,
    doc="T13 — audience growth: per day, how many users appear for "
    "the FIRST time and the cumulative distinct-user count to date. "
    "The naive form (COUNT(DISTINCT) over an expanding window) "
    "rescans history per day; this is the scale shape — first-seen "
    "day per user (one agg), new-user counts per day, then a "
    "cumulative sum over the BOUNDED day-level relation (pinned "
    "single-group window).",
    tags=("timeseries", "window"),
    late=True,
)
def t13_cumulative_uniques(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.operators.windows import pinned_single_group

    firsts = (
        _events(spark, sf_dir)
        .groupBy("user_id")
        .agg(F.min(F.col("ts").cast("date")).alias("day"))
    )
    daily = firsts.groupBy("day").agg(F.count("*").alias("n_new"))
    w = (
        Window.partitionBy(pinned_single_group("n_new"))
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return daily.select(
        "day",
        "n_new",
        F.sum("n_new").over(w).cast("bigint").alias("cum_uniques"),
    )


# ---------------------------------------------------------------------------
# T14 — tiered retention downsampling (hypertable continuous-aggregate shape)
# ---------------------------------------------------------------------------

_T14_CUTOFF = "2024-01-24"  # recent tier boundary (events span Jan 1-30)


@register(
    "t14_downsample_tiers",
    """
    SELECT tier, bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {V} AS total_value
    FROM (
      SELECT CASE WHEN ts >= TIMESTAMP '{CUT} 00:00:00'
                  THEN 'hour' ELSE 'day' END AS tier,
             CASE WHEN ts >= TIMESTAMP '{CUT} 00:00:00'
                  THEN date_trunc('hour', ts)
                  ELSE date_trunc('day', ts) END AS bucket,
             value
      FROM events
    )
    GROUP BY tier, bucket
    """.format(V=r4sql("SUM(value)"), CUT=_T14_CUTOFF),
    doc="T14 — tiered retention downsampling (TimescaleDB continuous "
    "aggregate / retention policy shape): recent data keeps hourly "
    "resolution, older data is rolled to daily. The tier split is a "
    "CASE inside the projection, so the whole thing is ONE scan and "
    "ONE hash-agg shuffle — not a union of two filtered scans. At "
    "100 TB this runs incrementally: the hourly tier appends from "
    "the stream, the daily tier is written once when a day crosses "
    "the cutoff, and the raw slice older than both tiers is dropped "
    "by t7's retention predicate (partition drop, not delete).",
    tags=("timeseries", "downsample"),
    late=True,
)
def t14_downsample_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    cut = F.lit(_T14_CUTOFF + " 00:00:00").cast("timestamp")
    ev = _events(spark, sf_dir).select(
        F.when(F.col("ts") >= cut, "hour").otherwise("day").alias("tier"),
        F.when(
            F.col("ts") >= cut, F.date_trunc("hour", "ts")
        ).otherwise(F.date_trunc("day", "ts")).alias("bucket"),
        "value",
    )
    return ev.groupBy("tier", "bucket").agg(
        F.count("*").alias("n_events"),
        r4(F.sum("value")).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# W9 — ratio-to-report (share-of-market within group)
# ---------------------------------------------------------------------------


@register(
    "w9_share_of_market",
    auctions_sql(
        """
    SELECT item, owner,
           CAST(SUM(quantity) AS BIGINT) AS volume,
           {S} AS market_share
    FROM (
      SELECT item, owner, quantity,
             SUM(quantity) OVER (PARTITION BY item) AS item_total
      FROM auctions
    )
    GROUP BY item, owner, item_total
    """.format(
            S=r4sql("SUM(quantity) / CAST(item_total AS DOUBLE)")
        )
    ),
    doc="W9 — ratio-to-report: each owner's share of an item's "
    "market (per-owner volume over the item's windowed total). The "
    "window and the groupBy share the item partitioning; the window "
    "side needs no ORDER BY, so it plans as an unsorted full-frame "
    "aggregate — one shuffle for both steps.",
    tags=("window", "ratio"),
    late=True,
)
def w9_share_of_market(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.sources.synthetic import auctions

    w = Window.partitionBy("item")
    base = auctions(spark, sf_dir).select(
        "item", "owner", "quantity"
    ).withColumn("item_total", F.sum("quantity").over(w))
    return base.groupBy("item", "owner", "item_total").agg(
        F.sum("quantity").cast("long").alias("volume"),
        r4(
            F.sum("quantity") / F.col("item_total").cast("double")
        ).alias("market_share"),
    ).drop("item_total")


# ---------------------------------------------------------------------------
# W10 — exponentially weighted moving average (bounded lookback)
# ---------------------------------------------------------------------------

_EWMA_DECAY = 0.7   # (1 - alpha): weight on the k-th prior row is 0.7^k
_EWMA_LOOKBACK = 9  # rows before the current one in the frame


@register(
    "w10_ewma_price",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               {r4sql("AVG(value)")} AS avg_value
        FROM events GROUP BY event_type, CAST(ts AS DATE)
    ), s AS (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY event_type ORDER BY day) AS rn
        FROM daily
    )
    SELECT t.event_type, t.day, t.avg_value,
           {r4sql(f"SUM(p.avg_value * POWER({_EWMA_DECAY}, t.rn - p.rn)) / SUM(POWER({_EWMA_DECAY}, t.rn - p.rn))")} AS ewma
    FROM s t JOIN s p
      ON p.event_type = t.event_type
     AND p.rn BETWEEN t.rn - {_EWMA_LOOKBACK} AND t.rn
    GROUP BY t.event_type, t.day, t.avg_value
    """,
    doc="W10 — EWMA price smoothing: per-series daily averages "
    "smoothed with exponential weights over a bounded 10-row "
    "lookback (the reference smooths price histories for display; "
    "bounded frames keep the weights finite and the state O(1)). "
    "Spark: collect the window frame (frame-ordered), weight via "
    "transform+zip_with, fold with aggregate — all JVM expressions, "
    "one shuffle shared by the daily agg and the window. Oracle: the "
    "same normalized weighted sum via a row-number band self-join.",
    tags=("window", "timeseries", "ewma"),
    late=True,
)
def w10_ewma_price(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(r4(F.avg("value")).alias("avg_value"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-_EWMA_LOOKBACK, 0)
    )
    frame = F.collect_list("avg_value").over(w)  # frame order = day asc
    # weight element i (0-based, oldest first) by decay^(size-1-i)
    weights = F.transform(
        F.sequence(F.lit(1), F.size(frame)),
        lambda i: F.pow(F.lit(_EWMA_DECAY), F.size(frame) - i),
    )
    wsum = F.aggregate(
        F.zip_with(frame, weights, lambda x, wt: x * wt),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )
    nrm = F.aggregate(weights, F.lit(0.0), lambda acc, v: acc + v)
    return daily.select(
        "event_type",
        "day",
        "avg_value",
        r4(wsum / nrm).alias("ewma"),
    )


# ---------------------------------------------------------------------------
# T15 — interval join (the stream-stream join, batch form)
# ---------------------------------------------------------------------------


@register(
    "t15_interval_join",
    f"""
    SELECT c.event_id, c.user_id, c.ts,
           COUNT(p.event_id) AS n_prior_purchases,
           {r4sql("COALESCE(SUM(p.value), 0)")} AS prior_purchase_value
    FROM (SELECT event_id, user_id, ts FROM events
          WHERE event_type = 'click') c
    LEFT JOIN (SELECT event_id, user_id, ts, value FROM events
               WHERE event_type = 'purchase') p
      ON p.user_id = c.user_id
     AND p.ts >= c.ts - INTERVAL 1 HOUR
     AND p.ts < c.ts
    GROUP BY c.event_id, c.user_id, c.ts
    """,
    doc="T15 — interval join: each click aggregated against the same "
    "user's purchases in the preceding hour — the BATCH twin of a "
    "watermarked stream-stream join (Structured Streaming's canonical "
    "join shape; streaming form in streaming/pipeline.py). Plans as "
    "an equi-join on user_id with the time band as a post-join "
    "predicate — NOT a cartesian product; at 100 TB both sides "
    "shuffle once on user_id and AQE handles hot users. Differs from "
    "J6 (as-of = nearest single row) in aggregating ALL rows in the "
    "interval.",
    tags=("join", "timeseries", "interval"),
    late=True,
)
def t15_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
        F.col("value").alias("p_value"),
    )
    joined = clicks.join(
        purchases,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("p_ts") >= F.col("ts") - F.expr("INTERVAL 1 HOUR"))
        & (F.col("p_ts") < F.col("ts")),
        "left",
    )
    return joined.groupBy("event_id", "user_id", "ts").agg(
        F.count("p_id").alias("n_prior_purchases"),
        r4(F.coalesce(F.sum("p_value"), F.lit(0.0))).alias(
            "prior_purchase_value"
        ),
    )


# ---------------------------------------------------------------------------
# W11 — rolling median (order-statistic over a bounded frame)
# ---------------------------------------------------------------------------


@register(
    "w11_rolling_median",
    f"""
    SELECT event_id, event_type, ts,
           {r4sql("MEDIAN(value) OVER (PARTITION BY event_type ORDER BY ts, event_id ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)")}
               AS rolling_median
    FROM events
    """,
    doc="W11 — rolling median: the robust smoother for spiky price "
    "series (t11's anomaly gate uses mean±σ, which outliers drag; "
    "the frame median doesn't). Spark has no order-statistic window "
    "aggregate, so the 7-row frame is collected, sorted and indexed "
    "with JVM array functions — O(frame log frame) per row over a "
    "constant frame, state bounded by the frame; oracle = DuckDB's "
    "native windowed MEDIAN (both interpolate even counts as the "
    "mean of the middles).",
    tags=("window", "timeseries", "robust"),
    late=True,
)
def w11_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, 0)
    )
    arr = F.array_sort(F.collect_list("value").over(w))
    n = F.size(arr)
    med = (
        F.element_at(arr, ((n + 1) / 2).cast("int"))
        + F.element_at(arr, (n / 2 + 1).cast("int"))
    ) / 2
    # collect_list drops nulls (same as MEDIAN's null handling) — an
    # all-null frame leaves an empty array, whose median is NULL, not
    # an element_at(0) error
    return _events(spark, sf_dir).select(
        "event_id",
        "event_type",
        "ts",
        r4(F.when(n > 0, med)).alias("rolling_median"),
    )


# ---------------------------------------------------------------------------
# T17 — gap interpolation (linear resample onto the daily grid)
# ---------------------------------------------------------------------------


@register(
    "t17_linear_interpolate",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day,
               {r4sql("AVG(value)")} AS avg_value
        FROM events GROUP BY 1, 2
    ),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM daily),
    types AS (SELECT DISTINCT event_type FROM daily),
    grid AS (
        SELECT t.event_type, UNNEST(generate_series(b.lo, b.hi,
               INTERVAL 1 DAY))::DATE AS day
        FROM types t CROSS JOIN bounds b
    ),
    dense AS (
        SELECT g.event_type, g.day, d.avg_value,
               LAST_VALUE(d.avg_value IGNORE NULLS) OVER w_prev AS pv,
               LAST_VALUE(CASE WHEN d.avg_value IS NOT NULL THEN g.day END
                   IGNORE NULLS) OVER w_prev AS pd,
               FIRST_VALUE(d.avg_value IGNORE NULLS) OVER w_next AS nv,
               FIRST_VALUE(CASE WHEN d.avg_value IS NOT NULL THEN g.day END
                   IGNORE NULLS) OVER w_next AS nd
        FROM grid g LEFT JOIN daily d USING (event_type, day)
        WINDOW w_prev AS (PARTITION BY g.event_type ORDER BY g.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               w_next AS (PARTITION BY g.event_type ORDER BY g.day
                   ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, day,
           (avg_value IS NULL) AS interpolated,
           {r4sql("CASE WHEN avg_value IS NOT NULL THEN avg_value WHEN pv IS NULL THEN nv WHEN nv IS NULL THEN pv ELSE pv + (nv - pv) * (day - pd) / (nd - pd) END")}
               AS value_filled
    FROM dense
    """,
    doc="T17 — LINEAR interpolation onto the dense daily grid: gap "
    "days get the straight line between their surrounding "
    "observations (t12 fills gaps with zero/flags; a charting or "
    "model-feature consumer wants the interpolated level instead). "
    "Leading/trailing gaps clamp to the nearest observation. Shape: "
    "the daily agg and both ignore-nulls windows share the "
    "event_type partitioning; the grid is series×days — tiny.",
    tags=("timeseries", "interpolate", "window"),
    late=True,
)
def t17_linear_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(r4(F.avg("value")).alias("avg_value"))
    )
    bounds = daily.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    grid = (
        daily.select("event_type")
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            "event_type",
            F.explode(F.sequence("lo", "hi")).alias("day"),
        )
    )
    dense = grid.join(daily, ["event_type", "day"], "left")
    w_prev = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_next = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("avg_value").isNotNull(), F.col("day"))
    pv = F.last("avg_value", ignorenulls=True).over(w_prev)
    pd_ = F.last(obs_day, ignorenulls=True).over(w_prev)
    nv = F.first("avg_value", ignorenulls=True).over(w_next)
    nd = F.first(obs_day, ignorenulls=True).over(w_next)
    filled = (
        F.when(F.col("avg_value").isNotNull(), F.col("avg_value"))
        .when(pv.isNull(), nv)
        .when(nv.isNull(), pv)
        .otherwise(
            pv
            + (nv - pv)
            * F.datediff(F.col("day"), pd_)
            / F.datediff(nd, pd_)
        )
    )
    return dense.select(
        "event_type",
        "day",
        F.col("avg_value").isNull().alias("interpolated"),
        r4(filled).alias("value_filled"),
    )


# ---------------------------------------------------------------------------
# T18 — funnel conversion (ordered step reachability per user)
# ---------------------------------------------------------------------------

_FUNNEL = ("signup", "view", "click", "purchase")


@register(
    "t18_funnel_conversion",
    rf"""
    WITH s1 AS (
        SELECT user_id, MIN(ts) AS t FROM events
        WHERE event_type = '{_FUNNEL[0]}' GROUP BY 1
    ),
    s2 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s1 ON e.user_id = s1.user_id
        WHERE e.event_type = '{_FUNNEL[1]}' AND e.ts > s1.t GROUP BY 1
    ),
    s3 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s2 ON e.user_id = s2.user_id
        WHERE e.event_type = '{_FUNNEL[2]}' AND e.ts > s2.t GROUP BY 1
    ),
    s4 AS (
        SELECT e.user_id, MIN(e.ts) AS t FROM events e
        JOIN s3 ON e.user_id = s3.user_id
        WHERE e.event_type = '{_FUNNEL[3]}' AND e.ts > s3.t GROUP BY 1
    ),
    counts AS (
        SELECT 1 AS step, '{_FUNNEL[0]}' AS step_name,
               (SELECT COUNT(*) FROM s1) AS n_users
        UNION ALL SELECT 2, '{_FUNNEL[1]}', (SELECT COUNT(*) FROM s2)
        UNION ALL SELECT 3, '{_FUNNEL[2]}', (SELECT COUNT(*) FROM s3)
        UNION ALL SELECT 4, '{_FUNNEL[3]}', (SELECT COUNT(*) FROM s4)
    )
    SELECT step, step_name, CAST(n_users AS BIGINT) AS n_users,
           {r4sql("n_users * 1.0 / FIRST_VALUE(n_users) OVER (ORDER BY step)")}
               AS conversion
    FROM counts
    ORDER BY step
    """,
    doc="T18 (EXT analytics) — FUNNEL: users reaching each ORDERED "
    "step signup → view → click → purchase, each step's earliest "
    "qualifying event strictly after the previous step's (the product "
    "analytics primitive; same per-user ordered-sequence machinery as "
    "the reference's intake-state progressions). Shape: four "
    "user-keyed min-aggs, each joined to the shrinking previous-step "
    "relation — co-partitioned on user_id throughout, so AQE reuses "
    "the exchange; the output is four rows.",
    tags=("ext", "window", "agg"),
    late=True,
)
def t18_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "event_type", "ts")

    def step(prev: DataFrame | None, etype: str) -> DataFrame:
        e = ev.filter(F.col("event_type") == etype)
        if prev is not None:
            e = e.join(
                prev.select("user_id", F.col("t").alias("_pt")), "user_id"
            ).filter(F.col("ts") > F.col("_pt"))
        return e.groupBy("user_id").agg(F.min("ts").alias("t"))

    reached, prev = [], None
    for etype in _FUNNEL:
        prev = step(prev, etype)
        reached.append(prev)

    rows = None
    for i, (etype, df) in enumerate(zip(_FUNNEL, reached), start=1):
        one = df.agg(F.count("*").alias("n_users")).select(
            F.lit(i).alias("step"),
            F.lit(etype).alias("step_name"),
            F.col("n_users").cast("bigint").alias("n_users"),
        )
        rows = one if rows is None else rows.unionByName(one)
    from server_spark.operators.windows import pinned_single_group

    w = Window.partitionBy(pinned_single_group("step")).orderBy("step")
    top = F.first("n_users").over(w)
    return (
        rows.withColumn(
            # empty-funnel guard: 0 users at step 1 → NULL conversion
            # (ANSI mode would otherwise raise DIVIDE_BY_ZERO)
            "conversion",
            F.when(top > 0, r4(F.col("n_users") / top)),
        )
        .orderBy("step")
    )


# ---------------------------------------------------------------------------
# T19 — cohort retention matrix (weekly)
# ---------------------------------------------------------------------------


@register(
    "t19_cohort_retention",
    rf"""
    WITH firsts AS (
        SELECT user_id, DATE_TRUNC('week', MIN(ts)) AS cohort_week
        FROM events GROUP BY 1
    ),
    cohort_size AS (
        SELECT cohort_week, COUNT(*) AS n_cohort FROM firsts GROUP BY 1
    ),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(DATE_DIFF('week', f.cohort_week,
                              DATE_TRUNC('week', e.ts)) AS INT) AS week_offset
        FROM events e JOIN firsts f USING (user_id)
    )
    SELECT a.cohort_week, a.week_offset,
           COUNT(*) AS n_active,
           {r4sql("COUNT(*) * 1.0 / cs.n_cohort")} AS retention
    FROM activity a JOIN cohort_size cs USING (cohort_week)
    GROUP BY a.cohort_week, a.week_offset, cs.n_cohort
    ORDER BY a.cohort_week, a.week_offset
    """,
    doc="T19 (EXT analytics) — COHORT RETENTION: users grouped by the "
    "week of their first event; for each (cohort, weeks-since) cell, "
    "the share of the cohort active that week — the standard "
    "engagement-decay matrix (the reference's per-realm 'still "
    "uploading N weeks after first dump' view is this exact shape). "
    "Shape: one user-keyed min-agg for cohorts, a broadcast-back "
    "join, one distinct + hash-agg per cell; weeks via date_trunc so "
    "both engines bucket identically (Monday-start ISO weeks).",
    tags=("ext", "window", "agg"),
    late=True,
)
def t19_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select("user_id", "ts")
    firsts = ev.groupBy("user_id").agg(
        # cast to DATE: Spark date_trunc yields a timestamp, DuckDB a
        # date — the oracle compares the date form
        F.date_trunc("week", F.min("ts")).cast("date").alias("cohort_week")
    ).transform(lazy_barrier)  # feeds cohort sizes AND the activity join
    cohort_size = firsts.groupBy("cohort_week").agg(
        F.count("*").alias("n_cohort")
    )
    activity = (
        ev.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            F.floor(
                F.datediff(F.date_trunc("week", F.col("ts")),
                           F.col("cohort_week")) / 7
            ).cast("int").alias("week_offset"),
        )
        .distinct()
    )
    return (
        activity.groupBy("cohort_week", "week_offset")
        .agg(F.count("*").alias("n_active"))
        .join(F.broadcast(cohort_size), "cohort_week")
        .select(
            "cohort_week", "week_offset", "n_active",
            r4(F.col("n_active") / F.col("n_cohort")).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


# ---------------------------------------------------------------------------
# T20 — rolling z-score anomaly flags (series monitoring)
# ---------------------------------------------------------------------------

_T20_WIN = 14   # trailing days in the reference window
_T20_Z = 2.0    # |z| threshold


@register(
    "t20_zscore_anomalies",
    rf"""
    WITH daily AS (
        SELECT event_type, CAST(DATE_TRUNC('day', ts) AS DATE) AS day,
               SUM(value) AS v
        FROM events GROUP BY 1, 2
    ),
    scored AS (
        SELECT event_type, day, v,
               AVG(v) OVER w AS mu,
               COUNT(*) OVER w AS n,
               STDDEV_SAMP(v) OVER w AS sd
        FROM daily
        WINDOW w AS (
            PARTITION BY event_type ORDER BY day
            ROWS BETWEEN {_T20_WIN} PRECEDING AND 1 PRECEDING
        )
    )
    SELECT event_type, day, {r4sql("v")} AS v,
           {r4sql("(v - mu) / sd")} AS zscore,
           ABS(v - mu) > {_T20_Z} * sd AS is_anomaly
    FROM scored
    WHERE n >= {_T20_WIN} AND sd > 0
    ORDER BY event_type, day
    """,
    doc="T20 (EXT analytics) — ROLLING Z-SCORE anomaly flags: each "
    "day's series value scored against the TRAILING 14-day window's "
    "mean/stddev (window excludes the current row, so an anomaly "
    "can't mask itself) — the standard monitoring primitive for the "
    "reference's per-realm intake volumes (a realm whose dump size "
    "jumps 2σ is the page-the-operator signal). Shape: one daily "
    "hash-agg, one series-keyed window pass; the anomaly flag derives "
    "from raw-double comparison on both engines, never from rounded "
    "values.",
    tags=("ext", "window"),
    late=True,
)
def t20_zscore_anomalies(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.date_trunc("day", F.col("ts")).cast("date").alias("day"),
    ).agg(F.sum("value").alias("v"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-_T20_WIN, -1)
    )
    scored = daily.select(
        "event_type", "day", "v",
        F.avg("v").over(w).alias("mu"),
        F.count("*").over(w).alias("n"),
        F.stddev_samp("v").over(w).alias("sd"),
    )
    return (
        scored.filter((F.col("n") >= _T20_WIN) & (F.col("sd") > 0))
        .select(
            "event_type", "day", r4(F.col("v")).alias("v"),
            r4((F.col("v") - F.col("mu")) / F.col("sd")).alias("zscore"),
            (F.abs(F.col("v") - F.col("mu")) > _T20_Z * F.col("sd")).alias(
                "is_anomaly"
            ),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# T21 — last-touch attribution (single window pass, no as-of join)
# ---------------------------------------------------------------------------

_T21_CHANNELS = ("click", "view")
_T21_WINDOW_US = 7 * 86400 * 1_000_000  # 7-day lookback, microseconds


@register(
    "t21_last_touch_attribution",
    rf"""
    WITH tagged AS (
        SELECT user_id, ts, event_id, event_type, value,
               CASE WHEN event_type IN {_T21_CHANNELS}
                    THEN event_type END AS ch_type,
               CASE WHEN event_type IN {_T21_CHANNELS}
                    THEN ts END AS ch_ts
        FROM events
    ),
    attrib AS (
        SELECT event_type, value, ts,
               LAST_VALUE(ch_type IGNORE NULLS) OVER w AS last_ch_type,
               LAST_VALUE(ch_ts IGNORE NULLS) OVER w AS last_ch_ts
        FROM tagged
        WINDOW w AS (
            PARTITION BY user_id ORDER BY ts, event_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
        )
    )
    SELECT COALESCE(
               CASE WHEN epoch_us(ts) - epoch_us(last_ch_ts)
                         <= {_T21_WINDOW_US}
                    THEN last_ch_type END,
               'direct') AS channel,
           COUNT(*) AS conversions,
           {r4sql("SUM(value)")} AS attributed_value
    FROM attrib
    WHERE event_type = 'purchase'
    GROUP BY 1 ORDER BY 1
    """,
    doc="T21 (EXT analytics) — LAST-TOUCH ATTRIBUTION: every purchase "
    "is credited to the same user's most recent click/view within a "
    "7-day lookback, else 'direct' — the standard marketing-analytics "
    "join, computed WITHOUT a join: one user-keyed window pass with "
    "last(..., ignorenulls) carries the latest channel row forward, "
    "so the plan is a single sort within one exchange (the as-of-join "
    "form j6 shuffles twice and merges; this shape wins whenever "
    "touches and conversions live in the SAME stream). Scale: the "
    "window key is user_id (high cardinality, no skew); the final "
    "rollup is a 3-row hash-agg.",
    tags=("ext", "window", "attribution"),
    late=True,
)
def t21_last_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    is_ch = F.col("event_type").isin(*_T21_CHANNELS)
    tagged = ev.select(
        "user_id", "ts", "event_id", "event_type", "value",
        F.when(is_ch, F.col("event_type")).alias("ch_type"),
        F.when(is_ch, F.col("ts")).alias("ch_ts"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    attrib = tagged.select(
        "event_type", "value", "ts",
        F.last("ch_type", ignorenulls=True).over(w).alias("last_ch_type"),
        F.last("ch_ts", ignorenulls=True).over(w).alias("last_ch_ts"),
    )
    in_window = (
        F.unix_micros(F.col("ts")) - F.unix_micros(F.col("last_ch_ts"))
    ) <= _T21_WINDOW_US
    return (
        attrib.filter(F.col("event_type") == "purchase")
        .select(
            F.coalesce(
                F.when(in_window, F.col("last_ch_type")), F.lit("direct")
            ).alias("channel"),
            "value",
        )
        .groupBy("channel")
        .agg(
            F.count("*").alias("conversions"),
            r4(F.sum("value")).alias("attributed_value"),
        )
        .orderBy("channel")
    )


# ---------------------------------------------------------------------------
# T22 — event-type Markov transition matrix (next-step behavior model)
# ---------------------------------------------------------------------------


@register(
    "t22_markov_transitions",
    rf"""
    WITH steps AS (
        SELECT event_type,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS next_type
        FROM events
    ),
    counts AS (
        SELECT event_type, next_type, COUNT(*) AS transitions
        FROM steps WHERE next_type IS NOT NULL
        GROUP BY 1, 2
    )
    SELECT event_type, next_type, transitions,
           {r4sql("transitions * 1.0 / SUM(transitions) "
                  "OVER (PARTITION BY event_type)")} AS p
    FROM counts
    ORDER BY event_type, next_type
    """,
    doc="T22 (EXT analytics) — first-order MARKOV TRANSITION MATRIX "
    "over per-user event sequences: P(next event type | current), the "
    "behavior model behind next-action prediction and funnel-dropoff "
    "simulation. Shape: one user-keyed lead() window pass, one "
    "25-cell hash-agg, and a tiny partition-total window for the row "
    "normalization — nothing driver-side, the transition matrix stays "
    "a DataFrame (at 100 TB the lead() sort rides the same user-keyed "
    "exchange every sessionization query already pays).",
    tags=("ext", "window", "markov"),
    late=True,
)
def t22_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        "event_type", F.lead("event_type").over(w).alias("next_type")
    )
    counts = (
        steps.filter(F.col("next_type").isNotNull())
        .groupBy("event_type", "next_type")
        .agg(F.count("*").alias("transitions"))
    )
    wt = Window.partitionBy("event_type")
    return counts.select(
        "event_type", "next_type", "transitions",
        r4(
            F.col("transitions") * 1.0 / F.sum("transitions").over(wt)
        ).alias("p"),
    ).orderBy("event_type", "next_type")


# ---------------------------------------------------------------------------
# T24 — behavioral sequence similarity (trajectory-similarity analog)
# ---------------------------------------------------------------------------

_T24_USERS = 40     # blocked pair space: first N users
_T24_SEQ_LEN = 50   # first K events per user
_T24_TOP = 25


@register(
    "t24_sequence_similarity",
    rf"""
    WITH seqs AS (
        SELECT user_id,
               substr(string_agg(substr(event_type, 1, 1), ''
                                 ORDER BY ts, event_id),
                      1, {_T24_SEQ_LEN}) AS seq
        FROM events
        WHERE user_id < {_T24_USERS}
        GROUP BY user_id
    )
    SELECT a.user_id AS user_a, b.user_id AS user_b,
           levenshtein(a.seq, b.seq) AS edit_dist,
           {r4sql("1.0 - levenshtein(a.seq, b.seq) * 1.0 / "
                  "GREATEST(LENGTH(a.seq), LENGTH(b.seq))")} AS similarity
    FROM seqs a JOIN seqs b ON a.user_id < b.user_id
    ORDER BY similarity DESC, user_a, user_b
    LIMIT {_T24_TOP}
    """,
    doc="T24 (EXT analytics) — BEHAVIORAL SEQUENCE similarity: each "
    "user's event history becomes an ordered type-initial string "
    "(capped at 50 steps), and user pairs are scored by normalized "
    "edit distance — the trajectory-similarity workload (REPOSE ICDE "
    "'21 family) on the engine's own event stream: 'which users "
    "behave alike' feeds cohorting, bot-ring detection and "
    "look-alike audiences. Shape: sequence assembly is one user-keyed "
    "sort-agg (same exchange sessionization pays); the pair space is "
    "BLOCKED (gated user subset here; at scale, block by an LSH over "
    "k-gram profiles exactly like x56 blocks on name tokens, or "
    "band by the x8 machinery over sequence shingles) so the "
    "quadratic edit-distance zone is per-block, never corpus-wide; "
    "levenshtein evaluates JVM-side (no UDF).",
    tags=("ext", "timeseries", "similarity"),
    late=True,
)
def t24_sequence_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).filter(F.col("user_id") < _T24_USERS)
    ordered = F.array_sort(
        F.collect_list(
            F.struct("ts", "event_id", F.substring("event_type", 1, 1).alias("c"))
        )
    )
    seqs = (
        ev.groupBy("user_id")
        .agg(ordered.alias("evs"))
        .select(
            "user_id",
            F.substring(
                F.array_join(
                    F.transform(F.col("evs"), lambda x: x["c"]), ""
                ),
                1,
                _T24_SEQ_LEN,
            ).alias("seq"),
        )
    )
    a = seqs.select(F.col("user_id").alias("user_a"), F.col("seq").alias("sa"))
    b = seqs.select(F.col("user_id").alias("user_b"), F.col("seq").alias("sb"))
    pairs = a.join(b, F.col("user_a") < F.col("user_b"))
    dist = F.levenshtein("sa", "sb")
    sim = 1.0 - dist * 1.0 / F.greatest(F.length("sa"), F.length("sb"))
    return (
        pairs.select(
            "user_a", "user_b",
            dist.alias("edit_dist"),
            r4(sim).alias("similarity"),
        )
        .orderBy(F.col("similarity").desc(), "user_a", "user_b")
        .limit(_T24_TOP)
    )


# ---------------------------------------------------------------------------
# W12 — OLS trend estimation per series (the regr_* aggregate surface)
# ---------------------------------------------------------------------------


@register(
    "w12_trend_regression",
    rf"""
    WITH daily AS (
        SELECT event_type,
               CAST(epoch_us(CAST(CAST(ts AS DATE) AS TIMESTAMP))
                    / 86400000000 AS BIGINT) AS day_x,
               SUM(value) AS v
        FROM events GROUP BY 1, 2
    )
    SELECT event_type,
           COUNT(*) AS n_days,
           {r4sql("regr_slope(v, day_x)")} AS slope,
           {r4sql("regr_intercept(v, day_x)")} AS intercept,
           {r4sql("regr_r2(v, day_x)")} AS r2
    FROM daily
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="W12 — TREND ESTIMATION: per-series OLS regression of daily "
    "totals against the day index via the SQL regression aggregates "
    "(regr_slope / regr_intercept / regr_r2) — the dashboard trend "
    "line and its fit quality in ONE map-side-combinable hash-agg "
    "(the regr_* family carries its sums/products moments, so it "
    "partial-aggregates like AVG: no sort, no window, no second "
    "pass — the textbook reason to prefer it over collecting the "
    "series and fitting driver-side). x is integral days-since-epoch "
    "so both engines regress on identical abscissae.",
    tags=("window", "timeseries", "regression"),
    late=True,
)
def w12_trend_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    daily = ev.groupBy(
        "event_type",
        F.unix_date(F.col("ts").cast("date")).alias("day_x"),
    ).agg(F.sum("value").alias("v"))
    return (
        daily.groupBy("event_type")
        .agg(
            F.count("*").alias("n_days"),
            r4(F.regr_slope("v", "day_x")).alias("slope"),
            r4(F.regr_intercept("v", "day_x")).alias("intercept"),
            r4(F.regr_r2("v", "day_x")).alias("r2"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# T25 — common session paths (top user journeys)
# ---------------------------------------------------------------------------

_T25_TOP = 20
_T25_MAX_STEPS = 8


@register(
    "t25_common_paths",
    rf"""
    WITH flagged AS (
        SELECT user_id, ts, event_id, event_type,
               CASE WHEN epoch_us(ts) - LAG(epoch_us(ts)) OVER w
                         > {SESSION_GAP_MIN} * 60 * 1000000
                    OR LAG(ts) OVER w IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    numbered AS (
        SELECT user_id, ts, event_id, event_type,
               CAST(SUM(new_session) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged
    ),
    paths AS (
        SELECT user_id, session_id,
               substr(string_agg(substr(event_type, 1, 1), '>'
                                 ORDER BY ts, event_id),
                      1, {2 * _T25_MAX_STEPS - 1}) AS path
        FROM numbered
        GROUP BY user_id, session_id
    )
    SELECT path, COUNT(*) AS n_sessions,
           COUNT(DISTINCT user_id) AS n_users
    FROM paths
    GROUP BY path
    ORDER BY n_sessions DESC, path
    LIMIT {_T25_TOP}
    """,
    doc="T25 (EXT analytics) — COMMON SESSION PATHS: each 30-min-gap "
    "session (t4's islands) becomes an ordered journey string of "
    "type initials (capped at 8 steps), counted corpus-wide — the "
    "'top user journeys' view behind funnel design and navigation "
    "audits (t18 checks ONE prescribed funnel; this discovers which "
    "paths actually happen). Shape: the session numbering rides the "
    "same user-keyed sort every session query pays, path assembly is "
    "one per-session sort-agg, and the journey ranking is a "
    "TakeOrderedAndProject over the (small) distinct-path table.",
    tags=("ext", "timeseries", "session"),
    late=True,
)
def t25_common_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir).select(
        "user_id", "ts", "event_id", "event_type"
    )
    numbered = ts_ops.session_ids(ev, "user_id", "ts", SESSION_GAP_MIN)
    ordered = F.array_sort(
        F.collect_list(
            F.struct(
                "ts", "event_id",
                F.substring("event_type", 1, 1).alias("c"),
            )
        )
    )
    paths = (
        numbered.groupBy("user_id", "session_id")
        .agg(ordered.alias("evs"))
        .select(
            "user_id",
            F.substring(
                F.array_join(
                    F.transform(F.col("evs"), lambda x: x["c"]), ">"
                ),
                1,
                2 * _T25_MAX_STEPS - 1,
            ).alias("path"),
        )
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count("*").alias("n_sessions"),
            F.countDistinct("user_id").alias("n_users"),
        )
        .orderBy(F.col("n_sessions").desc(), "path")
        .limit(_T25_TOP)
    )


# ---------------------------------------------------------------------------
# T26 — time-weighted average (TWAP, the irregular-sampling twin of VWAP)
# ---------------------------------------------------------------------------


@register(
    "t26_twap",
    rf"""
    WITH stepped AS (
        SELECT event_type, value,
               epoch_us(LEAD(ts) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               )) - epoch_us(ts) AS dt_us
        FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_intervals,
           {r4sql("SUM(value * dt_us) / SUM(dt_us)")} AS twap,
           {r4sql("AVG(value)")} AS naive_avg
    FROM stepped
    WHERE dt_us IS NOT NULL
    GROUP BY event_type
    ORDER BY event_type
    """,
    doc="T26 (EXT analytics) — TIME-WEIGHTED AVERAGE: each "
    "observation weighted by how long it remained the latest one "
    "(lead(ts) − ts), per series — the correct mean under IRREGULAR "
    "sampling, where the naive row average over-weights bursts "
    "(a16's VWAP weights by traded volume; TWAP weights by elapsed "
    "time — the two canonical de-biasings, reported side by side "
    "with the naive mean so the bias is visible). Shape: one "
    "series-keyed lead() window riding the standard exchange, one "
    "hash-agg; microsecond-integer weights so both engines sum "
    "identical products.",
    tags=("ext", "timeseries", "twap"),
    late=True,
)
def t26_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    stepped = ev.select(
        "event_type", "value",
        (
            F.unix_micros(F.lead("ts").over(w)) - F.unix_micros("ts")
        ).alias("dt_us"),
    )
    return (
        stepped.filter(F.col("dt_us").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_intervals"),
            r4(F.sum(F.col("value") * F.col("dt_us")) / F.sum("dt_us")).alias(
                "twap"
            ),
            r4(F.avg("value")).alias("naive_avg"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# T27 — single-changepoint detection (AMOC) per daily item price series
# ---------------------------------------------------------------------------

_T27_MIN_DAYS = 8
_T27_MAX_ITEM = 60  # bound the reported series set (catalog slice)


@register(
    "t27_changepoint_amoc",
    auctions_sql(
        f"""
        , daily AS (
            SELECT item, CAST(dump_ts AS DATE) AS day,
                   SUM(CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT))
                       AS s_cents,
                   COUNT(*) AS c
            FROM auctions WHERE item <= {_T27_MAX_ITEM} AND buyout > 0
            GROUP BY 1, 2
        ),
        pre AS (
            SELECT item, day, s_cents, c,
                   SUM(s_cents) OVER w AS cs,
                   SUM(c)       OVER w AS cc,
                   SUM(s_cents) OVER (PARTITION BY item) AS ts,
                   SUM(c)       OVER (PARTITION BY item) AS tc,
                   COUNT(*)     OVER (PARTITION BY item) AS nd
            FROM daily
            WINDOW w AS (
                PARTITION BY item ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
            )
        ),
        scored AS (
            SELECT item, day, nd,
                   {r4sql("(cc * 1.0 * (tc - cc) / tc) * "
                          "POW(cs * 1.0 / cc - (ts - cs) * 1.0 / (tc - cc), 2)"
                          " / 10000.0")} AS gain
            FROM pre
            WHERE nd >= {_T27_MIN_DAYS} AND cc < tc
        ),
        best AS (
            SELECT item, day AS change_day, nd AS n_days, gain,
                   ROW_NUMBER() OVER (
                       PARTITION BY item ORDER BY gain DESC, day
                   ) AS rk
            FROM scored
        )
        SELECT item, change_day, n_days, gain
        FROM best WHERE rk = 1
        ORDER BY item
        """
    ),
    doc="T27 (EXT timeseries) — At-Most-One-Changepoint detection per "
    "item: the split day maximizing the between-segment mean-shift "
    "gain n₁n₂/n·(μ₁−μ₂)² over the daily mean-price series — the "
    "screening form of binary-segmentation changepoint detection "
    "(each accepted split recurses on the halves; this query is one "
    "level, which is also the monitoring alert primitive 'did this "
    "series shift and when'). Determinism: prefix sums run over exact "
    "CENTS bigints (no float accumulation-order drift; the only "
    "double math is per-row from exact integers), the argmax ranks on "
    "the r4-CANONICAL gain with a day tiebreak, so both engines pick "
    "the same day even when two raw gains differ below canonical "
    "precision. Shape: one (item, day) hash-agg, item-partitioned "
    "cumulative windows (series-bounded, reused exchange), one "
    "WindowGroupLimit-able rank. Gain reported in gold² units "
    "(cents²/10⁴).",
    tags=("ext", "timeseries", "anomaly"),
    late=True,
)
def t27_changepoint_amoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.sources.synthetic import auctions as _auctions

    cents = (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (
        _auctions(spark, sf_dir)
        .filter((F.col("item") <= _T27_MAX_ITEM) & (F.col("buyout") > 0))
        .groupBy("item", F.col("dump_ts").cast("date").alias("day"))
        .agg(F.sum(cents).alias("s_cents"), F.count("*").alias("c"))
    )
    wp = Window.partitionBy("item")
    wcum = wp.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pre = daily.select(
        "item", "day",
        F.sum("s_cents").over(wcum).alias("cs"),
        F.sum("c").over(wcum).alias("cc"),
        F.sum("s_cents").over(wp).alias("ts"),
        F.sum("c").over(wp).alias("tc"),
        F.count("*").over(wp).alias("nd"),
    ).filter((F.col("nd") >= _T27_MIN_DAYS) & (F.col("cc") < F.col("tc")))
    m1 = F.col("cs") * 1.0 / F.col("cc")
    m2 = (F.col("ts") - F.col("cs")) * 1.0 / (F.col("tc") - F.col("cc"))
    weight = F.col("cc") * 1.0 * (F.col("tc") - F.col("cc")) / F.col("tc")
    scored = pre.select(
        "item",
        F.col("day").alias("change_day"),
        F.col("nd").alias("n_days"),
        r4(weight * F.pow(m1 - m2, 2) / 10000.0).alias("gain"),
    )
    wrk = Window.partitionBy("item").orderBy(
        F.col("gain").desc(), "change_day"
    )
    return (
        scored.withColumn("rk", F.row_number().over(wrk))
        .filter(F.col("rk") == 1)
        .drop("rk")
        .orderBy("item")
    )


# ---------------------------------------------------------------------------
# W13 — day-of-week seasonality index per event type
# ---------------------------------------------------------------------------


@register(
    "w13_dow_seasonality",
    """
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    tagged AS (
        SELECT event_type,
               DATEDIFF('day', DATE '1970-01-05', day) % 7 AS dow,
               c
        FROM daily
    ),
    per_dow AS (
        SELECT event_type, dow,
               SUM(c) AS n_events, COUNT(*) AS n_days
        FROM tagged GROUP BY 1, 2
    ),
    base AS (
        SELECT event_type,
               SUM(n_events) AS tot_events, SUM(n_days) AS tot_days
        FROM per_dow GROUP BY 1
    )
    SELECT p.event_type, p.dow, p.n_events, p.n_days,
           {IDX} AS seasonal_index
    FROM per_dow p JOIN base b ON p.event_type = b.event_type
    ORDER BY p.event_type, p.dow
    """.format(
        IDX=r4sql(
            "(p.n_events * 1.0 / p.n_days)"
            " / (b.tot_events * 1.0 / b.tot_days)"
        )
    ),
    doc="W13 (EXT window/seasonal) — DAY-OF-WEEK seasonality index per "
    "event type: mean daily volume on each weekday divided by the "
    "overall mean daily volume — the multiplicative seasonal factor a "
    "forecast divides out before trend fitting (w12) and the load "
    "model capacity planning reads ('weekends run at 0.7×'). Weekday "
    "derived as days-since-a-known-Monday mod 7 (0=Mon) — pure date "
    "arithmetic, engine-identical, immune to the locale/convention "
    "split between engines' dayofweek() (Spark 1=Sun, DuckDB 0=Sun). "
    "Determinism: integer counts all the way; the one double ratio is "
    "r4-canonicalized. Shape: two stacked hash-aggs (day, then dow) "
    "and a 7-rows-per-type join — fully map-combinable, "
    "dimension-bounded everywhere.",
    tags=("ext", "window", "timeseries"),
    late=True,
)
def w13_dow_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("c"))
    )
    tagged = daily.select(
        "event_type",
        (F.datediff(F.col("day"), F.lit("1970-01-05").cast("date")) % 7)
        .alias("dow"),
        "c",
    )
    per_dow = tagged.groupBy("event_type", "dow").agg(
        F.sum("c").alias("n_events"), F.count("*").alias("n_days")
    )
    base = per_dow.groupBy("event_type").agg(
        F.sum("n_events").alias("tot_events"),
        F.sum("n_days").alias("tot_days"),
    )
    idx = (F.col("n_events") * 1.0 / F.col("n_days")) / (
        F.col("tot_events") * 1.0 / F.col("tot_days")
    )
    return (
        per_dow.join(base, "event_type")
        .select(
            "event_type", "dow", "n_events", "n_days",
            r4(idx).alias("seasonal_index"),
        )
        .orderBy("event_type", "dow")
    )


# ---------------------------------------------------------------------------
# T30 — MAD-based robust outliers (modified z-score, Iglewicz–Hoaglin)
# ---------------------------------------------------------------------------

_T30_CUT = 3.5  # the Iglewicz–Hoaglin recommended cut


@register(
    "t30_robust_outliers",
    auctions_sql(
        f"""
        , priced AS (
            SELECT auc, item, buyout FROM auctions WHERE buyout > 0
        ),
        r1 AS (
            SELECT auc, item, buyout,
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
            SELECT r1.auc, r1.item, r1.buyout, med.med,
                   ABS(r1.buyout - med.med) AS d
            FROM r1 JOIN med ON r1.item = med.item
        ),
        r2 AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY item ORDER BY d) AS rn,
                   COUNT(*) OVER (PARTITION BY item) AS n
            FROM dev
        ),
        mad AS (
            SELECT item, AVG(d) AS mad
            FROM r2 WHERE rn = (n + 1) // 2 OR rn = (n + 2) // 2
            GROUP BY item
        )
        SELECT dev.auc, dev.item, dev.buyout,
               {r4sql("dev.med")} AS median_buyout,
               {r4sql("mad.mad")} AS mad,
               {r4sql("0.6745 * (dev.buyout - dev.med) / mad.mad")}
                   AS robust_z
        FROM dev JOIN mad ON dev.item = mad.item
        WHERE mad.mad > 0
          AND ABS({r4sql("0.6745 * (dev.buyout - dev.med) / mad.mad")})
              > {_T30_CUT}
        ORDER BY dev.item, dev.auc
        """
    ),
    doc="T30 (EXT anomaly) — ROBUST outlier listings via the modified "
    "z-score 0.6745·(x−median)/MAD with the Iglewicz–Hoaglin 3.5 cut: "
    "the production form of t11/t20's z-score anomaly flags — mean/"
    "stddev are themselves dragged by the very outliers being hunted "
    "(one 1000× typo inflates σ enough to hide every real anomaly), "
    "while median/MAD have a 50% breakdown point. Composes a31's "
    "double rank-median (spelled rank-and-average-middles on BOTH "
    "engines); the threshold cuts on the r4-CANONICAL score so the "
    "flag set is engine-identical at the boundary (a19/a26 lesson). "
    "Degenerate groups (MAD = 0: over half the listings identical) "
    "are excluded — a fixed-price item has no price dispersion to "
    "score against. Shape: two item-partitioned windows + two "
    "item-keyed joins, exchange-reusing throughout.",
    tags=("ext", "timeseries", "anomaly"),
    late=True,
)
def t30_robust_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.sources.synthetic import auctions as _auctions

    priced = (
        _auctions(spark, sf_dir)
        .filter(F.col("buyout") > 0)
        .select("auc", "item", "buyout")
    )
    w = Window.partitionBy("item")

    def mids(rn, n):
        return (rn == F.floor((n + 1) / 2)) | (rn == F.floor((n + 2) / 2))

    r1 = priced.select(
        "auc", "item", "buyout",
        F.row_number().over(w.orderBy("buyout")).alias("rn"),
        F.count("*").over(w).alias("n"),
    )
    med = (
        r1.filter(mids(F.col("rn"), F.col("n")))
        .groupBy("item")
        .agg(F.avg("buyout").alias("med"))
    )
    # r15 (guide §2.4/§5): `dev` is consumed twice (the MAD branch and
    # the final join), and without a cut the whole med subtree —
    # scan → exchange(item) → two windows → two aggs — was DUPLICATED
    # into both consumers (plan showed 4 scans / the med build twice).
    # Checkpointing the TINY per-item median relation dedupes it at
    # the cost of one small job; checkpointing `dev` itself (corpus-
    # sized) measured WORSE (2.57→3.00 s) while this form measured
    # 2.57→2.37 s (interleaved medians, 8/8 runs lower).
    med = med.transform(lazy_barrier)
    dev = r1.select("auc", "item", "buyout").join(med, "item").withColumn(
        "d", F.abs(F.col("buyout") - F.col("med"))
    )
    r2 = dev.select(
        "item", "d",
        F.row_number().over(w.orderBy("d")).alias("rn"),
        F.count("*").over(w).alias("n"),
    )
    mad = (
        r2.filter(mids(F.col("rn"), F.col("n")))
        .groupBy("item")
        .agg(F.avg("d").alias("mad"))
    )
    z = r4(0.6745 * (F.col("buyout") - F.col("med")) / F.col("mad"))
    return (
        dev.join(mad, "item")
        .filter((F.col("mad") > 0) & (F.abs(z) > _T30_CUT))
        .select(
            "auc", "item", "buyout",
            r4(F.col("med")).alias("median_buyout"),
            r4(F.col("mad")).alias("mad"),
            z.alias("robust_z"),
        )
        .orderBy("item", "auc")
    )


# ---------------------------------------------------------------------------
# A34 — Wald–Wolfowitz runs test on daily price direction (bot screen)
# ---------------------------------------------------------------------------

_A34_MIN_DAYS = 12


@register(
    "a34_runs_test",
    auctions_sql(
        f"""
        , daily AS (
            SELECT item, CAST(dump_ts AS DATE) AS day,
                   SUM(CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT))
                       AS s_cents,
                   COUNT(*) AS c
            FROM auctions WHERE item <= {_T27_MAX_ITEM} AND buyout > 0
            GROUP BY 1, 2
        ),
        delta AS (
            SELECT item, day,
                   CASE WHEN s_cents * 1.0 / c
                             > LAG(s_cents * 1.0 / c) OVER w
                        THEN 1 ELSE 0 END AS up,
                   LAG(s_cents) OVER w AS prev
            FROM daily WINDOW w AS (PARTITION BY item ORDER BY day)
        ),
        signs AS (
            SELECT item, day, up,
                   LAG(up) OVER (PARTITION BY item ORDER BY day) AS pup
            FROM delta WHERE prev IS NOT NULL
        ),
        agg AS (
            SELECT item,
                   COUNT(*) AS n,
                   CAST(SUM(up) AS BIGINT) AS n_up,
                   CAST(SUM(CASE WHEN pup IS NULL OR up <> pup
                                 THEN 1 ELSE 0 END) AS BIGINT) AS runs
            FROM signs GROUP BY item
        )
        SELECT item, n AS n_days, n_up, n - n_up AS n_down, runs,
               {r4sql("(runs - (2.0 * n_up * (n - n_up) / n + 1))"
                      " / SQRT(GREATEST(((2.0 * n_up * (n - n_up))"
                      " * (2.0 * n_up * (n - n_up) - n))"
                      " / (n * n * (n - 1)), 1e-12))")} AS runs_z
        FROM agg
        WHERE n >= {_A34_MIN_DAYS} AND n_up > 0 AND n_up < n
        ORDER BY item
        """
    ),
    doc="A34 (EXT analytics) — WALD–WOLFOWITZ RUNS TEST on the daily "
    "price-direction sequence per item: count maximal runs of "
    "consecutive up/down moves and standardize against the "
    "random-ordering expectation E[R] = 2n₊n₋/n + 1 — organic prices "
    "wander (z near 0), scripted undercut ladders alternate or trend "
    "(|z| large): the sequence-level bot screen complementing a26's "
    "digit-level Benford screen. Determinism: direction bits come "
    "from exact-cents daily means (lag over a day-ordered window), "
    "all counts are integers, and the single z-statistic is one "
    "r4-canonicalized expression from exact integers (variance "
    "floored at 1e-12 against the degenerate n=1 denominator). "
    "Shape: one (item, day) hash-agg and two item-partitioned lag "
    "windows riding the same exchange, then a catalog-bounded agg.",
    tags=("ext", "agg", "fraud", "timeseries"),
    late=True,
)
def a34_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.sources.synthetic import auctions as _auctions

    cents = (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (
        _auctions(spark, sf_dir)
        .filter((F.col("item") <= _T27_MAX_ITEM) & (F.col("buyout") > 0))
        .groupBy("item", F.col("dump_ts").cast("date").alias("day"))
        .agg(F.sum(cents).alias("s_cents"), F.count("*").alias("c"))
    )
    w = Window.partitionBy("item").orderBy("day")
    mean = F.col("s_cents") * 1.0 / F.col("c")
    delta = daily.select(
        "item", "day",
        F.when(mean > F.lag(mean).over(w), 1).otherwise(0).alias("up"),
        F.lag("s_cents").over(w).alias("prev"),
    )
    signs = delta.filter(F.col("prev").isNotNull()).select(
        "item", "day", "up", F.lag("up").over(w).alias("pup")
    )
    agg = signs.groupBy("item").agg(
        F.count("*").alias("n"),
        F.sum("up").cast("bigint").alias("n_up"),
        F.sum(
            (F.col("pup").isNull() | (F.col("up") != F.col("pup"))).cast(
                "int"
            )
        ).cast("bigint").alias("runs"),
    )
    n, nu = F.col("n"), F.col("n_up")
    two_pq = 2.0 * nu * (n - nu)
    var = F.greatest(
        (two_pq * (two_pq - n)) / (n * n * (n - 1)), F.lit(1e-12)
    )
    return (
        agg.filter((n >= _A34_MIN_DAYS) & (nu > 0) & (nu < n))
        .select(
            "item",
            n.alias("n_days"),
            "n_up",
            (n - nu).alias("n_down"),
            "runs",
            r4(
                (F.col("runs") - (two_pq / n + 1)) / F.sqrt(var)
            ).alias("runs_z"),
        )
        .orderBy("item")
    )


# ---------------------------------------------------------------------------
# T31 — Theil–Sen robust trend slope (median of pairwise slopes)
# ---------------------------------------------------------------------------

_T31_MIN_DAYS = 8


@register(
    "t31_theil_sen",
    auctions_sql(
        f"""
        , daily AS (
            SELECT item, CAST(dump_ts AS DATE) AS day,
                   SUM(CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT))
                       AS s_cents,
                   COUNT(*) AS c
            FROM auctions WHERE item <= {_T27_MAX_ITEM} AND buyout > 0
            GROUP BY 1, 2
        ),
        sized AS (
            SELECT *, COUNT(*) OVER (PARTITION BY item) AS nd FROM daily
        ),
        pairs AS (
            SELECT a.item, a.nd,
                   (b.s_cents * 1.0 / b.c - a.s_cents * 1.0 / a.c)
                   / (DATE_DIFF('day', a.day, b.day) * 100.0) AS slope
            FROM sized a JOIN sized b
              ON a.item = b.item AND b.day > a.day
            WHERE a.nd >= {_T31_MIN_DAYS}
        ),
        r1 AS (
            SELECT item, nd, slope,
                   ROW_NUMBER() OVER (PARTITION BY item ORDER BY slope)
                       AS rn,
                   COUNT(*) OVER (PARTITION BY item) AS np
            FROM pairs
        )
        SELECT item, MAX(nd) AS n_days, MAX(np) AS n_pairs,
               {r4sql("AVG(slope)")} AS slope_gold_per_day
        FROM r1
        WHERE rn = (np + 1) // 2 OR rn = (np + 2) // 2
        GROUP BY item
        ORDER BY item
        """
    ),
    doc="T31 (EXT timeseries) — THEIL–SEN robust trend slope per item: "
    "the median of all pairwise slopes (mⱼ−mᵢ)/(dⱼ−dᵢ) over the daily "
    "mean-price series — the robust sibling of w12's OLS regr_slope "
    "(OLS has breakdown point 0: one fat-finger day drags the fitted "
    "line; the pairwise-slope median tolerates ~29% contamination, "
    "the estimator monitoring pipelines fit to dirty market data). "
    "Determinism: slopes are single IEEE expressions from exact-cents "
    "integer sums (identical on both engines, so the rank order and "
    "the rank-and-average-middles median are engine-identical — the "
    "a31/t30 double-median pattern). Scale shape: the O(d²) pair "
    "join is per-item and BOUNDED by the series length — at 100 TB "
    "the series is a date-windowed slice (90-day trend), so d≤90 → "
    "≤4 005 pairs/item, embarrassingly parallel by item; the catalog "
    "gate here stands in for that window.",
    tags=("ext", "timeseries", "robust"),
    late=True,
)
def t31_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.sources.synthetic import auctions as _auctions

    cents = (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (
        _auctions(spark, sf_dir)
        .filter((F.col("item") <= _T27_MAX_ITEM) & (F.col("buyout") > 0))
        .groupBy("item", F.col("dump_ts").cast("date").alias("day"))
        .agg(F.sum(cents).alias("s_cents"), F.count("*").alias("c"))
        .withColumn("nd", F.count("*").over(Window.partitionBy("item")))
        .filter(F.col("nd") >= _T31_MIN_DAYS)
    )
    a = daily.select(
        "item", "nd",
        F.col("day").alias("day_a"),
        F.col("s_cents").alias("sa"), F.col("c").alias("ca"),
    )
    b = daily.select(
        "item",
        F.col("day").alias("day_b"),
        F.col("s_cents").alias("sb"), F.col("c").alias("cb"),
    )
    slope = (
        F.col("sb") * 1.0 / F.col("cb") - F.col("sa") * 1.0 / F.col("ca")
    ) / (F.datediff("day_b", "day_a") * 100.0)
    pairs = (
        a.join(b, "item")
        .filter(F.col("day_b") > F.col("day_a"))
        .select("item", "nd", slope.alias("slope"))
    )
    wr = Window.partitionBy("item")
    r1 = pairs.select(
        "item", "nd", "slope",
        F.row_number().over(wr.orderBy("slope")).alias("rn"),
        F.count("*").over(wr).alias("np"),
    )
    mid = (F.col("rn") == F.floor((F.col("np") + 1) / 2)) | (
        F.col("rn") == F.floor((F.col("np") + 2) / 2)
    )
    return (
        r1.filter(mid)
        .groupBy("item")
        .agg(
            F.max("nd").alias("n_days"),
            F.max("np").alias("n_pairs"),
            r4(F.avg("slope")).alias("slope_gold_per_day"),
        )
        .orderBy("item")
    )


# ---------------------------------------------------------------------------
# T32 — sample autocorrelation function (lags 1..3) per event series
# ---------------------------------------------------------------------------

_T32_LAGS = (1, 2, 3)

# ONE definition of the ACF substrate (daily mean series → indexed →
# mean-centered deviations → per-series Σdev²), shared by t32 (ACF),
# t46 (Ljung-Box), and t51 (effective sample size) in BOTH dialects —
# the _dense_daily lesson applied to this family: three inline copies
# of the centering/lag-join machinery drifted one-at-a-time risk (r11
# review finding).
_ACF_CTES = """daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, AVG(value) AS x
        FROM events GROUP BY 1, 2
    ),
    idx AS (
        SELECT event_type, x,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY day
               ) AS rn
        FROM daily
    ),
    stats AS (
        SELECT event_type, AVG(x) AS xbar, COUNT(*) AS n
        FROM idx GROUP BY event_type
    ),
    devs AS (
        SELECT i.event_type, i.rn, i.x - s.xbar AS dev, s.n
        FROM idx i JOIN stats s ON i.event_type = s.event_type
    ),
    ss AS (
        SELECT event_type, SUM(dev * dev) AS ss0, MAX(n) AS n
        FROM devs GROUP BY event_type
    )"""


def _acf_substrate(spark: SparkSession, sf_dir: str):
    """Spark twin of _ACF_CTES: (devs, ss) — devs is barriered (it
    feeds ss AND both sides of every lag join)."""
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.avg("value").alias("x"))
    )
    idx = daily.select(
        "event_type",
        "x",
        F.row_number()
        .over(Window.partitionBy("event_type").orderBy("day"))
        .alias("rn"),
    )
    stats = idx.groupBy("event_type").agg(
        F.avg("x").alias("xbar"), F.count("*").alias("n")
    )
    devs = (
        idx.join(stats, "event_type")
        .select(
            "event_type",
            "rn",
            (F.col("x") - F.col("xbar")).alias("dev"),
            "n",
        )
        .transform(lazy_barrier)
    )
    ss = devs.groupBy("event_type").agg(
        F.sum(F.col("dev") * F.col("dev")).alias("ss0"),
        F.max("n").alias("n"),
    )
    return devs, ss


def _acf_r_raw(devs, ss, lags) -> DataFrame:
    """(event_type, lag, r_raw, n): the raw autocorrelation ratio at
    each requested lag — a constant |lags| fan-out of the bounded
    devs relation joined on rn+lag, one shuffle."""
    lagc = F.explode(F.array(*[F.lit(k) for k in lags])).alias("lag")
    d1 = devs.select("event_type", "rn", F.col("dev").alias("dev1"), lagc)
    d2 = devs.select(
        F.col("event_type").alias("_et2"),
        F.col("rn").alias("rn2"),
        F.col("dev").alias("dev2"),
    )
    return (
        d1.join(
            d2,
            (F.col("event_type") == F.col("_et2"))
            & (F.col("rn2") == F.col("rn") + F.col("lag")),
        )
        .drop("_et2")
        .join(ss.filter(F.col("ss0") > 0), "event_type")
        .groupBy("event_type", "lag")
        .agg(
            (F.sum(F.col("dev1") * F.col("dev2")) / F.max("ss0")).alias(
                "r_raw"
            ),
            F.max("n").alias("n"),
        )
    )


@register(
    "t32_acf",
    f"""
    WITH {_ACF_CTES}
    SELECT d1.event_type, k.lag, MAX(ss.n) AS n_days,
           {r4sql("SUM(d1.dev * d2.dev) / MAX(ss.ss0)")} AS acf
    FROM devs d1
    JOIN (VALUES {", ".join(f"({k})" for k in _T32_LAGS)}) AS k(lag)
      ON TRUE
    JOIN devs d2
      ON d2.event_type = d1.event_type AND d2.rn = d1.rn + k.lag
    JOIN ss ON ss.event_type = d1.event_type
    WHERE ss.ss0 > 0
    GROUP BY d1.event_type, k.lag
    ORDER BY d1.event_type, k.lag
    """,
    doc="T32 (EXT timeseries) — sample AUTOCORRELATION FUNCTION at "
    f"lags {_T32_LAGS} per event-type daily series: "
    "rₖ = Σ(xₜ−x̄)(xₜ₋ₖ−x̄)/Σ(xₜ−x̄)² — the diagnostic a forecasting "
    "pipeline reads before model choice (near-1 at lag 1 → momentum/"
    "random walk, the w10 EWMA regime; spike at lag 7 → weekly "
    "seasonality, the w13 regime; all-near-0 → white noise, don't "
    "forecast). Deviations are taken from the FULL-series mean with "
    "the standard biased normalizer Σdev² so the lag-0 value is "
    "exactly 1 and rₖ is positive-semidefinite across lags. "
    "Determinism: both engines compute identical IEEE doubles "
    "per-row; the only cross-row accumulations are SUMs over "
    "series-bounded groups canonicalized by r4 (the a25 corr "
    "precedent). Shape: one (type, day) hash-agg, one series-keyed "
    "join fan-out of |lags| rows each, series-bounded windows — at "
    "100 TB series count scales out by key, series LENGTH is "
    "calendar-bounded.",
    tags=("ext", "timeseries", "window"),
    late=True,
)
def t32_acf(spark: SparkSession, sf_dir: str) -> DataFrame:
    devs, ss = _acf_substrate(spark, sf_dir)
    return (
        _acf_r_raw(devs, ss, _T32_LAGS)
        .select(
            "event_type",
            "lag",
            F.col("n").alias("n_days"),
            r4(F.col("r_raw")).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


# ---------------------------------------------------------------------------
# T33 — Kaplan–Meier time-to-purchase survival curve
# ---------------------------------------------------------------------------


@register(
    "t33_kaplan_meier",
    f"""
    WITH peru AS (
        SELECT user_id,
               MIN(ts) AS t0,
               MAX(ts) AS tlast,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        FROM events GROUP BY user_id
    ),
    dur AS (
        SELECT user_id,
               CASE WHEN tp IS NOT NULL
                    THEN DATE_DIFF('second', t0, tp) // 3600
                    ELSE DATE_DIFF('second', t0, tlast) // 3600
               END AS t,
               (tp IS NOT NULL) AS ev
        FROM peru
    ),
    km0 AS (
        SELECT t,
               CAST(SUM(CASE WHEN ev THEN 1 ELSE 0 END) AS BIGINT) AS d,
               CAST(SUM(CASE WHEN ev THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_censored
        FROM dur GROUP BY t
    ),
    km1 AS (
        SELECT t, d, n_censored,
               (SELECT COUNT(*) FROM dur)
               - COALESCE(SUM(d + n_censored) OVER (
                     ORDER BY t
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS n_risk
        FROM km0
    ),
    km2 AS (
        SELECT t, d, n_censored, n_risk,
               SUM(CASE WHEN d < n_risk
                        THEN LN((n_risk - d) * 1.0 / n_risk)
                        ELSE 0 END) OVER (ORDER BY t) AS s_log,
               MAX(CASE WHEN d >= n_risk THEN 1 ELSE 0 END)
                   OVER (ORDER BY t) AS hit_zero
        FROM km1
    )
    SELECT t AS hours_since_first_event, n_risk, d AS n_purchases,
           n_censored,
           {{SURV}} AS survival
    FROM km2
    WHERE d > 0
    ORDER BY t
    """.replace("{SURV}", r4sql(
        "CASE WHEN hit_zero = 1 THEN 0.0 ELSE EXP(s_log) END"
    )),
    doc="T33 (EXT timeseries) — KAPLAN–MEIER estimator of the "
    "time-to-first-purchase survival curve over per-user event "
    "histories: S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) with users who never "
    "purchase RIGHT-CENSORED at their last observed event — the "
    "censoring-correct form of funnel timing (x-family funnel "
    "conversion counts WHO converts; this estimates WHEN, without "
    "the survivorship bias of dropping non-converters or the "
    "attenuation of treating them as never-converting). Convention: "
    "censored-at-t users remain at-risk for events at t (standard "
    "KM). Determinism: durations are integer hours from "
    "second-boundary diffs (floor(tp)−floor(t₀) on both engines), "
    "d/n are exact bigints; the product is EXP(Σ LN(·)) over an "
    "hour-keyed window with the degenerate everyone-dies tail "
    "guarded to an exact 0 (ANSI LN(0) hazard), r4-canonical. "
    "Shape: one user-keyed hash-agg (the only corpus-scale pass), "
    "then hour-bounded rows (≤ observation span) through one "
    "ordered window — the single-partition window is over ≤720 "
    "rows by construction, not corpus-sized.",
    tags=("ext", "timeseries", "survival"),
    late=True,
)
def t33_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    peru = ev.groupBy("user_id").agg(
        F.min("ts").alias("t0"),
        F.max("ts").alias("tlast"),
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("tp"),
    )
    secs = lambda a, b: (  # noqa: E731 — floor-second boundary diff
        F.unix_timestamp(b) - F.unix_timestamp(a)
    )
    dur = peru.select(
        F.when(
            F.col("tp").isNotNull(), secs(F.col("t0"), F.col("tp"))
        )
        .otherwise(secs(F.col("t0"), F.col("tlast")))
        .alias("sec"),
        F.col("tp").isNotNull().alias("ev"),
    ).select(F.expr("sec DIV 3600").alias("t"), "ev")
    # estimator shared with the hypothesis-vs-sequential-reference
    # property test (tests/test_properties.py)
    return (
        ts_ops.km_curve(dur)
        .select(
            F.col("t").alias("hours_since_first_event"),
            "n_risk",
            F.col("d").alias("n_purchases"),
            "n_censored",
            r4(F.col("survival")).alias("survival"),
        )
        .orderBy("hours_since_first_event")
    )


# ---------------------------------------------------------------------------
# T34 — ingest volume-drop monitor (trailing-baseline freshness check)
# ---------------------------------------------------------------------------

_T34_MIN_PRIOR = 4    # trailing days required before the test arms
_T34_DROP = 0.8       # alert when volume falls 20% under baseline


@register(
    "t34_volume_anomaly",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    scored AS (
        SELECT event_type, day, c,
               AVG(c * 1.0) OVER w AS trailing_avg,
               COUNT(*) OVER w AS n_prior
        FROM daily
        WINDOW w AS (
            PARTITION BY event_type ORDER BY day
            ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING
        )
    )
    SELECT event_type, day, c AS n_events,
           {{r4_avg}} AS trailing_avg, n_prior,
           {{r4_ratio}} AS ratio,
           ({{r4_ratio}} < {_T34_DROP}) AS alert
    FROM scored
    WHERE n_prior >= {_T34_MIN_PRIOR}
    ORDER BY event_type, day
    """.replace("{r4_avg}", r4sql("trailing_avg"))
       .replace("{r4_ratio}", r4sql("c * 1.0 / trailing_avg")),
    doc="T34 (EXT ops/timeseries) — INGEST VOLUME-DROP monitor: per "
    "series, score every armed day against the trailing "
    f"7-day average and flag those under {_T34_DROP}× it (armed only after "
    f"{_T34_MIN_PRIOR} prior days) — the data-freshness check every "
    "ingestion pipeline runs before trusting a day's partition "
    "(a silently-failed dump job looks exactly like a quiet market; "
    "only the baseline comparison tells them apart — the batch "
    "sibling of the streaming CUSUM monitor, aimed at COUNT not "
    "level). Determinism: counts are exact integers, the trailing "
    "mean is one division per row, and the alert threshold cuts on "
    "the r4-CANONICAL ratio so the flag set is engine-identical at "
    "the boundary (a19/t30 lesson). Shape: one (series, day) "
    "hash-agg, one series-partitioned 8-row sliding frame riding the "
    "same exchange — series scale out by key, frames are O(1).",
    tags=("ext", "timeseries", "anomaly", "ops"),
    late=True,
)
def t34_volume_anomaly(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("c"))
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-7, -1)
    )
    scored = daily.select(
        "event_type", "day", "c",
        F.avg(F.col("c") * 1.0).over(w).alias("trailing_avg"),
        F.count("*").over(w).alias("n_prior"),
    )
    ratio = r4(F.col("c") * 1.0 / F.col("trailing_avg"))
    return (
        scored.filter(F.col("n_prior") >= _T34_MIN_PRIOR)
        .select(
            "event_type", "day",
            F.col("c").alias("n_events"),
            r4(F.col("trailing_avg")).alias("trailing_avg"),
            "n_prior",
            ratio.alias("ratio"),
            (ratio < _T34_DROP).alias("alert"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# T35 — calendar gap-fill with linear interpolation (per-series spine)
# ---------------------------------------------------------------------------

_T35_BUCKETS = 40  # user-hash buckets: makes (series, day) genuinely sparse


@register(
    "t35_gapfill_interpolate",
    f"""
    WITH daily AS (
        SELECT event_type, user_id % {_T35_BUCKETS} AS bucket,
               CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2, 3
    ),
    bounds AS (
        SELECT event_type, bucket, MIN(day) AS dmin, MAX(day) AS dmax
        FROM daily GROUP BY 1, 2
    ),
    spine AS (
        SELECT event_type, bucket,
               CAST(UNNEST(generate_series(dmin, dmax, INTERVAL 1 DAY)) AS DATE) AS day
        FROM bounds
    ),
    j AS (
        SELECT s.event_type, s.bucket, s.day, d.c
        FROM spine s LEFT JOIN daily d
          ON s.event_type = d.event_type AND s.bucket = d.bucket
         AND s.day = d.day
    ),
    f AS (
        SELECT event_type, bucket, day, c,
               LAST_VALUE(c IGNORE NULLS) OVER wp AS pc,
               LAST_VALUE(CASE WHEN c IS NOT NULL THEN day END IGNORE NULLS)
                   OVER wp AS pd,
               FIRST_VALUE(c IGNORE NULLS) OVER wn AS nc,
               FIRST_VALUE(CASE WHEN c IS NOT NULL THEN day END IGNORE NULLS)
                   OVER wn AS nd
        FROM j
        WINDOW wp AS (PARTITION BY event_type, bucket ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY event_type, bucket ORDER BY day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
    )
    SELECT event_type, bucket, day, c AS n_events,
           {{FILLED}} AS filled,
           (c IS NULL) AS is_gap
    FROM f
    ORDER BY event_type, bucket, day
    """.replace("{FILLED}", r4sql(
        "COALESCE(c * 1.0,"
        " pc + (nc - pc) * 1.0"
        "   * DATEDIFF('day', pd, day) / DATEDIFF('day', pd, nd))"
    )),
    doc="T35 (EXT timeseries) — CALENDAR GAP-FILL with linear "
    "interpolation: each (event_type, user-bucket) daily-volume "
    "series is joined onto its own min..max calendar spine; missing "
    "days get the straight-line value between the two nearest "
    "observed days (prev + (next−prev)·Δd/Δspan) — the resampling "
    "step every downstream window/trend/seasonality query (w3/w12/"
    "w14) silently assumes: a 7-day moving average over a series "
    "with holes averages 5 numbers on some days and calls it a "
    "week. Interior gaps only by construction (the spine is bounded "
    "by each series' own observed extent, so a prev AND next "
    "neighbor always exist — no edge-extrapolation policy to "
    "diverge on). Shape: one (series, day) hash-agg; the spine is "
    "sequence()-exploded per series (array length = day span, a "
    "calendar dimension, never row count); fill via two running "
    "last/first(ignorenulls) frames riding ONE series-partitioned "
    "sort. Determinism: counts and date arithmetic are exact ints; "
    "the single interpolation division is r4-canonicalized.",
    tags=("ext", "timeseries", "resample"),
    late=True,
)
def t35_gapfill_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _events(spark, sf_dir)
        .groupBy(
            "event_type",
            (F.col("user_id") % _T35_BUCKETS).alias("bucket"),
            F.col("ts").cast("date").alias("day"),
        )
        .agg(F.count("*").alias("c"))
    )
    spine = (
        daily.groupBy("event_type", "bucket")
        .agg(F.min("day").alias("dmin"), F.max("day").alias("dmax"))
        .select(
            "event_type", "bucket",
            F.explode(
                F.expr("sequence(dmin, dmax, interval 1 day)")
            ).alias("day"),
        )
    )
    j = spine.join(daily, ["event_type", "bucket", "day"], "left")
    wp = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wn = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("day")
        .rowsBetween(0, Window.unboundedFollowing)
    )
    known_day = F.when(F.col("c").isNotNull(), F.col("day"))
    f = j.select(
        "event_type", "bucket", "day", "c",
        F.last("c", ignorenulls=True).over(wp).alias("pc"),
        F.last(known_day, ignorenulls=True).over(wp).alias("pd"),
        F.first("c", ignorenulls=True).over(wn).alias("nc"),
        F.first(known_day, ignorenulls=True).over(wn).alias("nd"),
    )
    filled = F.coalesce(
        F.col("c") * 1.0,
        F.col("pc")
        + (F.col("nc") - F.col("pc")) * 1.0
        * F.datediff(F.col("day"), F.col("pd"))
        / F.datediff(F.col("nd"), F.col("pd")),
    )
    return (
        f.select(
            "event_type", "bucket", "day",
            F.col("c").alias("n_events"),
            r4(filled).alias("filled"),
            F.col("c").isNull().alias("is_gap"),
        )
        .orderBy("event_type", "bucket", "day")
    )


# ---------------------------------------------------------------------------
# T36 — OHLC candle aggregation (open/high/low/close per series-day)
# ---------------------------------------------------------------------------


@register(
    "t36_ohlc_daily",
    f"""
    WITH ranked AS (
        SELECT event_type, CAST(ts AS DATE) AS day, value,
               ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                  ORDER BY ts, event_id) AS rn_a,
               ROW_NUMBER() OVER (PARTITION BY event_type, CAST(ts AS DATE)
                                  ORDER BY ts DESC, event_id DESC) AS rn_d
        FROM events
    )
    SELECT event_type, day,
           {r4sql("MAX(CASE WHEN rn_a = 1 THEN value END)")} AS open,
           {r4sql("MAX(value)")} AS high,
           {r4sql("MIN(value)")} AS low,
           {r4sql("MAX(CASE WHEN rn_d = 1 THEN value END)")} AS close,
           COUNT(*) AS n_events
    FROM ranked
    GROUP BY 1, 2
    ORDER BY event_type, day
    """,
    doc="T36 (EXT timeseries) — OHLC CANDLE aggregation: per (series, "
    "day) the first/max/min/last value — the canonical downsampled "
    "representation a charting or market-data consumer reads instead "
    "of raw ticks (the reference's pricelist history downsamples to "
    "exactly this shape). First/last are defined by the TOTAL order "
    "(ts, event_id) — the unique tiebreak every pagination/window "
    "query in this repo carries, because ts alone ties under "
    "concurrent events and first_value would then be "
    "engine-nondeterministic. Shape: one window rank pair riding a "
    "single (series, day) sort, then one hash-agg; at scale the "
    "window partitions by the same key the agg groups on, so the "
    "exchange is reused (one shuffle). min/max/open/close are "
    "SELECTIONS of input doubles (no accumulation drift) — r4 only "
    "canonicalizes representation.",
    tags=("ext", "timeseries", "window"),
    late=True,
)
def t36_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    day = F.col("ts").cast("date").alias("day")
    base = _events(spark, sf_dir).select("event_type", day, "ts", "event_id", "value")
    wa = Window.partitionBy("event_type", "day").orderBy("ts", "event_id")
    wd = Window.partitionBy("event_type", "day").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    ranked = base.select(
        "event_type", "day", "value",
        F.row_number().over(wa).alias("rn_a"),
        F.row_number().over(wd).alias("rn_d"),
    )
    return (
        ranked.groupBy("event_type", "day")
        .agg(
            r4(F.max(F.when(F.col("rn_a") == 1, F.col("value")))).alias("open"),
            r4(F.max("value")).alias("high"),
            r4(F.min("value")).alias("low"),
            r4(F.max(F.when(F.col("rn_d") == 1, F.col("value")))).alias("close"),
            F.count("*").alias("n_events"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# W14 — additive seasonal decomposition (trend + seasonal + residual)
# ---------------------------------------------------------------------------


@register(
    "w14_seasonal_decomposition",
    f"""
    WITH daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    t AS (
        SELECT event_type, day, c,
               SUM(c) OVER w7 AS s7, COUNT(*) OVER w7 AS n7
        FROM daily
        WINDOW w7 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
    ),
    armed AS (
        SELECT event_type, day, c, s7 * 1.0 / 7 AS trend,
               DATEDIFF('day', DATE '1970-01-05', day) % 7 AS dow
        FROM t WHERE n7 = 7
    ),
    dowavg AS (
        SELECT event_type, dow, AVG(c - trend) AS raw_seas
        FROM armed GROUP BY 1, 2
    ),
    cent AS (
        SELECT event_type, dow,
               raw_seas - AVG(raw_seas) OVER (PARTITION BY event_type)
                   AS seas
        FROM dowavg
    )
    SELECT a.event_type, a.day, a.c AS n_events,
           {r4sql("a.trend")} AS trend,
           {r4sql("s.seas")} AS seasonal,
           {r4sql("a.c - a.trend - s.seas")} AS residual
    FROM armed a
    JOIN cent s ON a.event_type = s.event_type AND a.dow = s.dow
    ORDER BY a.event_type, a.day
    """,
    doc="W14 (EXT window/seasonal) — ADDITIVE SEASONAL DECOMPOSITION "
    "(classical/STL-lite) of the daily-volume series: value = trend "
    "+ seasonal + residual, with trend = the CENTERED 7-day moving "
    "average (armed only on full windows — a trailing MA phase-lags "
    "the trend by 3 days and leaks it into the weekly seasonal), "
    "seasonal = the per-weekday mean of the detrended series "
    "RE-CENTERED to sum to zero across the week (otherwise the "
    "decomposition is unidentifiable — any constant shifts between "
    "trend and seasonal), weekday from the anchor-Monday datediff%7 "
    "(w13's engine-portable dow). The residual is what an anomaly "
    "monitor should actually alarm on — t34 compares raw volume to a "
    "trailing mean and must therefore tolerate weekly rhythm; after "
    "removing trend+seasonal the same threshold catches smaller "
    "real incidents. Production series with calendar holes feed "
    "t35's gap-fill FIRST (a 7-ROW frame over a holey series spans "
    ">7 calendar days and the dow means go biased). Shape: one "
    "(series, day) hash-agg, one series-partitioned 7-row frame, a "
    "|series|×7-row seasonal dimension joined back — every stage "
    "keyed by series, map-combinable, no corpus-scale broadcast. "
    "Determinism: counts exact; trend is an exact int sum over 7 "
    "divided once; only the dow means accumulate in float, all "
    "r4-canonicalized at the boundary.",
    tags=("ext", "window", "timeseries", "seasonal"),
    late=True,
)
def w14_seasonal_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("c"))
    )
    w7 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    )
    armed = (
        daily.select(
            "event_type", "day", "c",
            F.sum("c").over(w7).alias("s7"),
            F.count("*").over(w7).alias("n7"),
        )
        .filter(F.col("n7") == 7)
        .select(
            "event_type", "day", "c",
            (F.col("s7") * 1.0 / 7).alias("trend"),
            (
                F.datediff(F.col("day"), F.lit("1970-01-05").cast("date"))
                % 7
            ).alias("dow"),
        )
    )
    dowavg = armed.groupBy("event_type", "dow").agg(
        F.avg(F.col("c") - F.col("trend")).alias("raw_seas")
    )
    cent = dowavg.select(
        "event_type", "dow",
        (
            F.col("raw_seas")
            - F.avg("raw_seas").over(Window.partitionBy("event_type"))
        ).alias("seas"),
    )
    return (
        armed.join(cent, ["event_type", "dow"])
        .select(
            "event_type", "day",
            F.col("c").alias("n_events"),
            r4(F.col("trend")).alias("trend"),
            r4(F.col("seas")).alias("seasonal"),
            r4(F.col("c") - F.col("trend") - F.col("seas")).alias("residual"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# T37 — PSI distribution-drift monitor (window A vs window B)
# ---------------------------------------------------------------------------

_T37_SPLIT = "2024-01-16"  # window A = days before, B = days from
_T37_BINW = 25.0           # fixed value-grid bin width
_T37_ALERT = 0.1           # PSI convention: <0.1 stable, >0.25 major


@register(
    "t37_psi_drift",
    f"""
    WITH tagged AS (
        SELECT event_type,
               CAST(FLOOR(value / {_T37_BINW}) AS BIGINT) AS bin,
               CASE WHEN CAST(ts AS DATE) < DATE '{_T37_SPLIT}'
                    THEN 1 ELSE 0 END AS ina
        FROM events
    ),
    b AS (
        SELECT event_type, bin, SUM(ina) AS ca, SUM(1 - ina) AS cb
        FROM tagged GROUP BY 1, 2
    ),
    t AS (
        SELECT event_type, bin, ca, cb,
               SUM(ca) OVER (PARTITION BY event_type) AS na,
               SUM(cb) OVER (PARTITION BY event_type) AS nb,
               COUNT(*) OVER (PARTITION BY event_type) AS nbins
        FROM b
    ),
    terms AS (
        SELECT event_type, na, nb, nbins,
               ((ca + 0.5) / (na + 0.5 * nbins)
                - (cb + 0.5) / (nb + 0.5 * nbins))
               * LN(((ca + 0.5) / (na + 0.5 * nbins))
                    / ((cb + 0.5) / (nb + 0.5 * nbins))) AS term
        FROM t
    )
    SELECT event_type,
           MAX(na) AS n_a, MAX(nb) AS n_b, MAX(nbins) AS n_bins,
           {{PSI}} AS psi,
           ({{PSI}} > {_T37_ALERT}) AS drifted
    FROM terms
    GROUP BY 1
    ORDER BY event_type
    """.replace("{PSI}", r4sql("SUM(term)")),
    doc="T37 (EXT timeseries/ops) — POPULATION STABILITY INDEX drift "
    "monitor per series: the value distribution of the second half "
    "of the month scored against the first half on a fixed value "
    "grid, PSI = Σ (pᴬ−pᴮ)·ln(pᴬ/pᴮ) — the standard "
    "training-serving-skew / data-drift gate (symmetrized KL over "
    "binned marginals): t34 catches a VOLUME drop, w14's residual "
    "catches a level anomaly, PSI catches the failure neither sees "
    "— same count, same mean, different SHAPE (a stuck-sensor "
    "spike, a new client version changing the value mix). Bins on a "
    "FIXED width-{_T37_BINW} grid (the x40 lesson: quantile bins of the "
    "reference window need a global sort and re-bin every run; a "
    "fixed grid is one narrow map, mergeable, and comparable across "
    "runs), add-half smoothing over the UNION of observed bins so "
    "a bin empty on one side contributes a finite term. Alert cuts "
    "on the CANONICAL psi (a19). Shape: one (series, bin) hash-agg "
    "(bin count bounded by the grid, not rows), per-series window "
    "totals riding the same exchange, one final fold.",
    tags=("ext", "timeseries", "anomaly", "ops", "drift"),
    late=True,
)
def t37_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = _events(spark, sf_dir)
    tagged = ev.select(
        "event_type",
        F.floor(F.col("value") / _T37_BINW).cast("bigint").alias("bin"),
        (F.col("ts").cast("date") < F.lit(_T37_SPLIT).cast("date"))
        .cast("long")
        .alias("ina"),
    )
    b = tagged.groupBy("event_type", "bin").agg(
        F.sum("ina").alias("ca"), F.sum(1 - F.col("ina")).alias("cb")
    )
    wet = Window.partitionBy("event_type")
    t = b.select(
        "event_type", "bin", "ca", "cb",
        F.sum("ca").over(wet).alias("na"),
        F.sum("cb").over(wet).alias("nb"),
        F.count("*").over(wet).alias("nbins"),
    )
    pa = (F.col("ca") + 0.5) / (F.col("na") + 0.5 * F.col("nbins"))
    pb = (F.col("cb") + 0.5) / (F.col("nb") + 0.5 * F.col("nbins"))
    terms = t.select(
        "event_type", "na", "nb", "nbins",
        ((pa - pb) * F.log(pa / pb)).alias("term"),
    )
    psi = r4(F.sum("term"))
    return (
        terms.groupBy("event_type")
        .agg(
            F.max("na").alias("n_a"),
            F.max("nb").alias("n_b"),
            F.max("nbins").alias("n_bins"),
            psi.alias("psi"),
            (psi > _T37_ALERT).alias("drifted"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# T38 — Holt linear-trend forecast (double exponential smoothing)
# ---------------------------------------------------------------------------

_T38_ALPHA = 0.5   # level smoothing
_T38_BETA = 0.3    # trend smoothing
_T38_HORIZON = 3   # days ahead


@register(
    "t38_holt_forecast",
    # Sequential recursion IS SQL-expressible (r12): a recursive CTE
    # stepping one (series, i) state row at a time reproduces the
    # exact fp-op ORDER of the Python loop, so the doubles match
    # BIT-FOR-BIT and the hash gate holds with no rounding. The
    # recursion kernel lives in server_spark.oracles, shared with the
    # randomized property tests.
    """
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    seq AS (
        SELECT event_type, CAST(c AS DOUBLE) AS x,
               ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
               COUNT(*)   OVER (PARTITION BY event_type) AS n,
               MAX(day)   OVER (PARTITION BY event_type) AS last_day
        FROM daily
    ),"""
    + holt_kernel("seq", "event_type")
    + """,
    fin AS (
        SELECT r.event_type, r.level, r.trend, s.last_day
        FROM rec r
        JOIN (SELECT DISTINCT event_type, n, last_day FROM seq) s
          ON s.event_type = r.event_type AND r.i = s.n
    )
    SELECT f.event_type,
           CAST(h AS INTEGER) AS horizon,
           f.last_day + CAST(h AS INTEGER) AS forecast_day,
           f.level + h * f.trend AS forecast,
           f.level, f.trend
    FROM fin f, LATERAL (SELECT UNNEST([1, 2, 3]) AS h)
    """,
    doc="T38 (EXT timeseries) — HOLT double exponential smoothing "
    "forecast of each daily-volume series: level/trend recursion "
    f"(α={_T38_ALPHA}, β={_T38_BETA}, init l₁=x₁, b₁=x₂−x₁) rolled "
    "— bit-exact recursive-CTE oracle (r12, see SQL note above) "
    f"forward {_T38_HORIZON} days — the forecasting step the "
    "diagnostic stack feeds: w10's EWMA is Holt with β=0 (no trend "
    "— it lags any drifting series by construction), w12/t31 fit "
    "ONE global slope (a month-old trend change still biases "
    "them), Holt tracks the LOCAL trend with exponential memory. "
    "t32's ACF picks the model family; this is the family's "
    "workhorse member. Series with calendar holes feed t35's "
    "gap-fill first (the recursion assumes unit spacing). Scale "
    "shape: the PAVA/KM pattern — one (series, day) map-combined "
    "hash-agg bounds each pandas group to the series' DISTINCT "
    "days (calendar-bounded, never raw rows), applyInPandas runs "
    "the O(days) recursion per series, series scale out across "
    "executors. Deterministic: int daily counts in, one fixed "
    "fp-op order per series (single-threaded recursion), no "
    "accumulation-order wobble.",
    tags=("ext", "timeseries", "forecast"),
    late=True,
)
def t38_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        _events(spark, sf_dir)
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("c"))
    )
    alpha, beta, horizon = _T38_ALPHA, _T38_BETA, _T38_HORIZON

    def fit(pdf):
        # helpers inlined: closure pickles by value (foreign-cwd rule)
        import datetime as dt

        import pandas as pd

        pdf = pdf.sort_values("day").reset_index(drop=True)
        et = pdf["event_type"].iloc[0]
        xs = pdf["c"].astype("float64").tolist()
        days = pdf["day"].tolist()
        if len(xs) < 2:  # trend needs two points; emit nothing
            return pd.DataFrame(
                {"event_type": [], "horizon": [], "forecast_day": [],
                 "forecast": [], "level": [], "trend": []}
            )
        level, trend = xs[0], xs[1] - xs[0]
        for x in xs[1:]:
            prev = level
            level = alpha * x + (1 - alpha) * (level + trend)
            trend = beta * (level - prev) + (1 - beta) * trend
        last = days[-1]
        return pd.DataFrame(
            {
                "event_type": [et] * horizon,
                "horizon": list(range(1, horizon + 1)),
                "forecast_day": [
                    last + dt.timedelta(days=h)
                    for h in range(1, horizon + 1)
                ],
                "forecast": [level + h * trend for h in range(1, horizon + 1)],
                "level": [level] * horizon,
                "trend": [trend] * horizon,
            }
        )

    return (
        daily.groupBy("event_type")
        .applyInPandas(
            fit,
            "event_type string, horizon int, forecast_day date, "
            "forecast double, level double, trend double",
        )
        .orderBy("event_type", "horizon")
    )


# ---------------------------------------------------------------------------
# T39 — Hurst exponent via rescaled-range (R/S) analysis
# ---------------------------------------------------------------------------

_T39_SIZES = (32, 64, 128)  # block lengths in hours
_T39_ANCHOR = "2024-01-01 00:00:00"


@register(
    "t39_hurst_exponent",
    f"""
    WITH hourly AS (
        SELECT event_type,
               DATEDIFF('hour', TIMESTAMP '{_T39_ANCHOR}',
                        date_trunc('hour', ts)) AS h,
               COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, MIN(h) AS hmin, MAX(h) AS hmax
        FROM hourly GROUP BY 1
    ),
    grid AS (
        SELECT event_type, hmin,
               UNNEST(generate_series(hmin, hmax)) AS h
        FROM bounds
    ),
    dense AS (
        SELECT g.event_type, g.h - g.hmin AS idx, COALESCE(hh.x, 0) AS x
        FROM grid g LEFT JOIN hourly hh
          ON g.event_type = hh.event_type AND g.h = hh.h
    ),
    sized AS (
        SELECT d.event_type, nn.n, d.idx // nn.n AS blk,
               d.idx % nn.n + 1 AS k, d.x
        FROM dense d, (SELECT UNNEST([{', '.join(map(str, _T39_SIZES))}])
                       AS n) nn
    ),
    rws AS (
        SELECT event_type, n, blk, k, x,
               SUM(x) OVER (PARTITION BY event_type, n, blk ORDER BY k
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS cumx,
               SUM(x) OVER (PARTITION BY event_type, n, blk) AS s1,
               COUNT(*) OVER (PARTITION BY event_type, n, blk) AS cnt
        FROM sized
    ),
    blocks AS (
        SELECT event_type, n, blk,
               MAX(n * cumx - k * s1) - MIN(n * cumx - k * s1) AS rn,
               n * SUM(x * x) - MAX(s1) * MAX(s1) AS s2n
        FROM rws WHERE cnt = n
        GROUP BY 1, 2, 3
    ),
    rs AS (
        SELECT event_type, n, AVG(rn / SQRT(s2n)) AS avg_rs
        FROM blocks WHERE s2n > 0
        GROUP BY 1, 2
    ),
    fit AS (
        SELECT event_type,
               (SUM(LN(n) * LN(avg_rs))
                - SUM(LN(n)) * SUM(LN(avg_rs)) / COUNT(*))
               / (SUM(LN(n) * LN(n))
                  - SUM(LN(n)) * SUM(LN(n)) / COUNT(*)) AS hurst,
               MAX(CASE WHEN n = 32 THEN avg_rs END) AS rs32,
               MAX(CASE WHEN n = 64 THEN avg_rs END) AS rs64,
               MAX(CASE WHEN n = 128 THEN avg_rs END) AS rs128
        FROM rs GROUP BY 1
    )
    SELECT event_type,
           {{R32}} AS rs32, {{R64}} AS rs64, {{R128}} AS rs128,
           {{H}} AS hurst
    FROM fit ORDER BY event_type
    """.replace("{R32}", r4sql("rs32"))
        .replace("{R64}", r4sql("rs64"))
        .replace("{R128}", r4sql("rs128"))
        .replace("{H}", r4sql("hurst")),
    doc="T39 (EXT analytics) — HURST EXPONENT per event series via "
    "rescaled-range (R/S) analysis over hourly activity counts: "
    "H~0.5 means memoryless arrivals, H>0.5 long-range dependence "
    "(bursts cluster — capacity planning cares), H<0.5 mean "
    "reversion. Complements t32's ACF (fixed-lag correlation) with "
    "the scaling-law view across window sizes. Method: dense hourly "
    "grid (gap hours are true zero counts), split into full blocks "
    "of 32/64/128 hours; per block the range of cumulative "
    "deviations over the std; H = OLS slope of ln(avg R/S) on "
    "ln(block size). Exactness: with integer counts, n*z_k = "
    "n*cumsum - k*blocksum and n^2*S^2 = n*sum(x^2) - sum(x)^2 are "
    "exact BIGINTs, so R/S = Rn/sqrt(s2n) is computed from identical "
    "integers on both engines; floats enter only at the final "
    "closed forms, r4-dressed. Scale shape: the grid explode is "
    "bounded by the TIME SPAN (not corpus size); all windows "
    "partition by (series, size, block) — parallel, bounded frames; "
    "the per-(series,size) fold and 3-point regression are tiny.",
    tags=("ext", "timeseries", "analytics", "stats"),
    late=True,
)
def t39_hurst_exponent(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.expr(
                f"timestampdiff(HOUR, timestamp'{_T39_ANCHOR}',"
                " date_trunc('hour', ts))"
            ).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("x"))
    ).transform(lazy_barrier)  # feeds bounds and the grid join
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("hmin"), F.max("h").alias("hmax")
    )
    grid = bounds.select(
        "event_type",
        "hmin",
        F.explode(F.sequence(F.col("hmin"), F.col("hmax"))).alias("h"),
    )
    dense = (
        grid.join(hourly, ["event_type", "h"], "left")
        .select(
            "event_type",
            (F.col("h") - F.col("hmin")).alias("idx"),
            F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        )
    )
    sizes = F.explode(
        F.array(*[F.lit(n) for n in _T39_SIZES])
    ).alias("n")
    sized = dense.select(
        "event_type", "idx", "x", sizes
    ).select(
        "event_type",
        "n",
        F.expr("idx DIV n").alias("blk"),
        (F.col("idx") % F.col("n") + 1).alias("k"),
        "x",
    )
    part = Window.partitionBy("event_type", "n", "blk")
    wcum = part.orderBy("k").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    rws = sized.select(
        "event_type", "n", "blk", "k", "x",
        F.sum("x").over(wcum).alias("cumx"),
        F.sum("x").over(part).alias("s1"),
        F.count("*").over(part).alias("cnt"),
    )
    nz = F.col("n") * F.col("cumx") - F.col("k") * F.col("s1")
    blocks = (
        rws.filter(F.col("cnt") == F.col("n"))
        .groupBy("event_type", "n", "blk")
        .agg(
            (F.max(nz) - F.min(nz)).alias("rn"),
            (
                F.first("n") * F.sum(F.col("x") * F.col("x"))
                - F.max("s1") * F.max("s1")
            ).alias("s2n"),
        )
    )
    rs = (
        blocks.filter(F.col("s2n") > 0)
        .groupBy("event_type", "n")
        .agg(F.avg(F.col("rn") / F.sqrt(F.col("s2n"))).alias("avg_rs"))
    )
    lx, ly = F.log("n"), F.log("avg_rs")
    fit = rs.groupBy("event_type").agg(
        (
            (F.sum(lx * ly) - F.sum(lx) * F.sum(ly) / F.count("*"))
            / (F.sum(lx * lx) - F.sum(lx) * F.sum(lx) / F.count("*"))
        ).alias("hurst"),
        F.max(F.when(F.col("n") == 32, F.col("avg_rs"))).alias("rs32"),
        F.max(F.when(F.col("n") == 64, F.col("avg_rs"))).alias("rs64"),
        F.max(F.when(F.col("n") == 128, F.col("avg_rs"))).alias("rs128"),
    )
    return fit.select(
        "event_type",
        r4("rs32").alias("rs32"),
        r4("rs64").alias("rs64"),
        r4("rs128").alias("rs128"),
        r4("hurst").alias("hurst"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# T40 — periodogram: dominant-cycle detection per event series
# ---------------------------------------------------------------------------

_T40_PERIODS = tuple(range(2, 11))  # candidate cycle lengths in days

# ONE definition of the spectral substrate (daily activity counts →
# mean-centered residuals → sin/cos power projections per candidate
# period), shared by t40 (dominant cycle) and t41 (spectral entropy)
# in BOTH dialects — a power/centering fix must land in both at once
# (r11 review finding; the _dense_daily lesson).
_SPECTRAL_CTES = f"""daily AS (
        SELECT event_type,
               DATEDIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
               COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ),
    centered AS (
        SELECT event_type, t,
               x - AVG(x) OVER (PARTITION BY event_type) AS rv
        FROM daily
    ),
    pw AS (
        SELECT event_type, p.p,
               POWER(SUM(rv * COS(2 * PI() * t / p.p)), 2)
             + POWER(SUM(rv * SIN(2 * PI() * t / p.p)), 2) AS num,
               SUM(rv * rv) AS den
        FROM centered,
             (SELECT UNNEST([{', '.join(map(str, _T40_PERIODS))}]) AS p) p
        GROUP BY 1, 2
    )"""


def _spectral_power(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SPECTRAL_CTES: (event_type, p, num, den) — the
    squared sin/cos projections of each mean-centered daily activity
    series at every candidate period. Constant |periods| fan-out of
    the bounded daily relation; one hash-agg per (series, period)."""
    import math as _math

    daily = (
        _events(spark, sf_dir)
        .select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("t"),
        )
        .groupBy("event_type", "t")
        .agg(F.count("*").alias("x"))
    )
    centered = daily.select(
        "event_type",
        "t",
        (
            F.col("x") - F.avg("x").over(Window.partitionBy("event_type"))
        ).alias("rv"),
    )
    return (
        centered.select(
            "event_type",
            "t",
            "rv",
            F.explode(
                F.array(*[F.lit(p) for p in _T40_PERIODS])
            ).alias("p"),
        )
        .groupBy("event_type", "p")
        .agg(
            (
                F.pow(
                    F.sum(
                        F.col("rv")
                        * F.cos(2 * _math.pi * F.col("t") / F.col("p"))
                    ),
                    2,
                )
                + F.pow(
                    F.sum(
                        F.col("rv")
                        * F.sin(2 * _math.pi * F.col("t") / F.col("p"))
                    ),
                    2,
                )
            ).alias("num"),
            F.sum(F.col("rv") * F.col("rv")).alias("den"),
        )
    )


@register(
    "t40_periodogram",
    f"""
    WITH {_SPECTRAL_CTES},
    scored AS (
        SELECT event_type, p, {{PW}} AS power
        FROM pw WHERE den > 0
    ),
    ranked AS (
        SELECT event_type, p, power,
               ROW_NUMBER() OVER (PARTITION BY event_type
                                  ORDER BY power DESC, p ASC) AS rnk
        FROM scored
    )
    SELECT r.event_type, r.p AS best_period, r.power AS best_power,
           w.power AS weekly_power
    FROM ranked r
    JOIN scored w ON r.event_type = w.event_type AND w.p = 7
    WHERE r.rnk = 1
    ORDER BY r.event_type
    """.replace("{PW}", r4sql("num / den")),
    doc="T40 (EXT timeseries) — PERIODOGRAM over the daily activity "
    "series: projects each mean-centered series onto sin/cos at "
    "candidate periods (2-10 days) and reports the dominant cycle "
    "and its normalized spectral power, plus the weekly (p=7) power "
    "for reference. w13 MEASURES day-of-week averages assuming the "
    "week; w14 decomposes assuming the week; t32's ACF shows lag "
    "correlation — the periodogram is the step before all three: "
    "WHICH period dominates, without assuming one. Determinism: the "
    "centered residuals are identical doubles on both engines (exact "
    "count minus exact-ratio mean), trig is evaluated on identical "
    "(2*pi*t/p) doubles, the period argmax ranks on the r4-CANONICAL "
    "power with a period tiebreak (a19 boundary pattern). Shape: the "
    "candidate-period explode is a CONSTANT fan-out of the bounded "
    "daily relation (one row per series-day); one hash-agg per "
    "(series, period); no window over anything corpus-sized.",
    tags=("ext", "timeseries", "analytics", "stats"),
    late=True,
)
def t40_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    pw = _spectral_power(spark, sf_dir)
    scored = (
        pw.filter(F.col("den") > 0)
        .select(
            "event_type", "p", r4(F.col("num") / F.col("den")).alias("power")
        )
        .transform(lazy_barrier)  # feeds the argmax rank and the p=7 lookup
    )
    ranked = scored.select(
        "event_type",
        "p",
        "power",
        F.row_number()
        .over(
            Window.partitionBy("event_type").orderBy(
                F.col("power").desc(), F.col("p").asc()
            )
        )
        .alias("rnk"),
    ).filter(F.col("rnk") == 1)
    weekly = scored.filter(F.col("p") == 7).select(
        "event_type", F.col("power").alias("weekly_power")
    )
    return (
        ranked.join(weekly, "event_type")
        .select(
            "event_type",
            F.col("p").alias("best_period"),
            F.col("power").alias("best_power"),
            "weekly_power",
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# T41 — normalized spectral entropy (forecastability measure)
# ---------------------------------------------------------------------------


@register(
    "t41_spectral_entropy",
    f"""
    WITH {_SPECTRAL_CTES},
    tot AS (
        SELECT event_type, SUM(num) AS total FROM pw GROUP BY 1
    ),
    ent AS (
        SELECT pw.event_type,
               -SUM((num / total) * LN(num / total))
                   / LN({len(_T40_PERIODS)}) AS h
        FROM pw JOIN tot ON pw.event_type = tot.event_type
        WHERE num > 0 AND total > 0
        GROUP BY 1
    )
    SELECT event_type,
           {{H}} AS spectral_entropy,
           {{FC}} AS forecastability
    FROM ent ORDER BY event_type
    """.replace("{H}", r4sql("h"))
        .replace("{FC}", r4sql("1 - h")),
    doc="T41 (EXT timeseries) — NORMALIZED SPECTRAL ENTROPY per event "
    "series: the entropy of the periodogram's power distribution "
    "across candidate periods, scaled to [0,1] (tsfeatures/M4-style "
    "'forecastability': ~1 means power is spread evenly — white "
    "noise, nothing to forecast; ~0 means one cycle carries "
    "everything). t40 names the WINNING period; this says whether "
    "winning MEANS anything — a capacity planner reads both before "
    "trusting a seasonal model. Determinism: same identical-double "
    "residual/trig pipeline as t40; the entropy fold is over a "
    "CONSTANT number of period rows, r4-dressed at the end. Shape "
    "identical to t40: constant fan-out of the bounded daily "
    "relation, one hash-agg per (series, period), tiny folds.",
    tags=("ext", "timeseries", "analytics", "stats"),
    late=True,
)
def t41_spectral_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as _math

    pw = (
        _spectral_power(spark, sf_dir)
        .select("event_type", "p", "num")
        .transform(lazy_barrier)  # feeds the total AND the entropy fold
    )
    tot = pw.groupBy("event_type").agg(F.sum("num").alias("total"))
    frac = F.col("num") / F.col("total")
    ent = (
        pw.join(tot, "event_type")
        .filter((F.col("num") > 0) & (F.col("total") > 0))
        .groupBy("event_type")
        .agg(
            (
                -F.sum(frac * F.log(frac))
                / _math.log(len(_T40_PERIODS))
            ).alias("h")
        )
    )
    return ent.select(
        "event_type",
        r4("h").alias("spectral_entropy"),
        r4(1 - F.col("h")).alias("forecastability"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# T42 — dynamic time warping similarity between event series
# ---------------------------------------------------------------------------

_T42_BAND = 7  # Sakoe-Chiba band half-width (days)


_T42_SQL = """
WITH RECURSIVE daily AS (
    SELECT event_type,
           datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS t,
           COUNT(*) AS x
    FROM events GROUP BY 1, 2
),
ser AS (
    SELECT event_type,
           list(t ORDER BY t)                  AS ts,
           list(CAST(x AS DOUBLE) ORDER BY t)  AS xs
    FROM daily GROUP BY 1
),
rawpairs AS (
    SELECT a.event_type AS ev_a, b.event_type AS ev_b,
           a.ts AS ts_a, a.xs AS xs_a, b.ts AS ts_b, b.xs AS xs_b,
           LEAST(a.ts[1], b.ts[1]) AS lo,
           GREATEST(a.ts[len(a.ts)], b.ts[len(b.ts)]) AS hi
    FROM ser a, ser b WHERE a.event_type < b.event_type
),
densed AS (
    SELECT ev_a, ev_b,
           list_transform(range(lo, hi + 1), g ->
               CASE WHEN list_position(ts_a, g) = 0 THEN CAST(0 AS DOUBLE)
                    ELSE xs_a[list_position(ts_a, g)] END) AS pr,
           list_transform(range(lo, hi + 1), g ->
               CASE WHEN list_position(ts_b, g) = 0 THEN CAST(0 AS DOUBLE)
                    ELSE xs_b[list_position(ts_b, g)] END) AS qr
    FROM rawpairs
),
stats AS (
    SELECT ev_a, ev_b, pr, qr,
           list_sum(pr) / len(pr) AS mp,
           list_sum(qr) / len(qr) AS mq
    FROM densed
),
stats2 AS (
    SELECT *,
           sqrt(list_sum(list_transform(pr, e -> (e - mp) * (e - mp)))
                / len(pr)) AS sp,
           sqrt(list_sum(list_transform(qr, e -> (e - mq) * (e - mq)))
                / len(qr)) AS sq
    FROM stats
),
znormed AS (
    SELECT ev_a, ev_b,
           CASE WHEN sp > 0
                THEN list_transform(pr, e -> (e - mp) / sp)
                ELSE list_transform(pr, e -> e - mp) END AS p,
           CASE WHEN sq > 0
                THEN list_transform(qr, e -> (e - mq) / sq)
                ELSE list_transform(qr, e -> e - mq) END AS q
    FROM stats2
),
pd AS (
    SELECT ev_a, ev_b, p, q, len(p) AS n, len(q) AS m FROM znormed
),
rec(ev_a, ev_b, i, prev) AS (
    SELECT ev_a, ev_b, CAST(0 AS BIGINT),
           [CAST(0 AS DOUBLE)]
             || list_transform(range(1, m + 1), j -> 'infinity'::DOUBLE)
    FROM pd
    UNION ALL
    SELECT r.ev_a, r.ev_b, r.i + 1,
           list_reduce(
               [['infinity'::DOUBLE]]
                 || list_transform(range(1, d.m + 1),
                                   j -> [CAST(j AS DOUBLE)]),
               (acc, xe) -> acc || [
                   CASE WHEN CAST(xe[1] AS BIGINT)
                             BETWEEN GREATEST(1, (r.i + 1) - 7)
                                 AND LEAST(d.m, (r.i + 1) + 7)
                        THEN abs(d.p[r.i + 1]
                                 - d.q[CAST(xe[1] AS BIGINT)])
                             + LEAST(r.prev[CAST(xe[1] AS BIGINT) + 1],
                                     acc[len(acc)],
                                     r.prev[CAST(xe[1] AS BIGINT)])
                        ELSE 'infinity'::DOUBLE END])
    FROM rec r
    JOIN pd d ON d.ev_a = r.ev_a AND d.ev_b = r.ev_b
    WHERE r.i < d.n
),
dtw AS (
    SELECT r.ev_a, r.ev_b, r.prev[d.m + 1] AS dtw_raw
    FROM rec r JOIN pd d ON d.ev_a = r.ev_a AND d.ev_b = r.ev_b
    WHERE r.i = d.n
),
euc AS (
    SELECT ev_a, ev_b,
           sqrt(list_sum(list_transform(range(1, n + 1),
               k -> (p[k] - q[k]) * (p[k] - q[k])))) AS euc_raw
    FROM pd
)
SELECT d.ev_a, d.ev_b,
       {DTW} AS dtw_dist,
       {EUC} AS euclid_dist
FROM dtw d JOIN euc e USING (ev_a, ev_b)
ORDER BY ev_a, ev_b
""".replace("{DTW}", r4sql("d.dtw_raw")).replace("{EUC}", r4sql("e.euc_raw"))


@register(
    "t42_dtw_similarity",
    _T42_SQL,
    doc="T42 (EXT timeseries) — DYNAMIC TIME WARPING distance between "
    "every pair of event-type daily series (z-normalized), with the "
    "lock-step Euclidean distance for contrast: DTW aligns shapes "
    "that are shifted or locally stretched (a promo that starts two "
    "days later on one series reads as similar under DTW, dissimilar "
    "under Euclidean), the standard elastic measure for grouping "
    "series before pooled forecasting. t24 edit-distances SYMBOL "
    "sequences; this warps REAL-VALUED series. Implementation note "
    "(the custom-operator recipe): the recursion is genuinely "
    "inexpressible in relational operators, so it runs as an "
    "Arrow-batched pandas UDF over the PAIRED series rows; both "
    "series of a pair are densified (zeros) over the UNION calendar "
    "span before z-norm so DTW and Euclidean compare the same "
    "calendar-aligned vectors — numpy "
    "inside, one row per pair, helpers defined inside the closure "
    "(pickle-by-value, foreign-cwd safe). Promoted from rows-only "
    "(r12): the oracle emulates the banded DP row-by-row in a "
    "recursive CTE (prev row as a LIST, the in-row left-to-right "
    "fill as a list_reduce fold); DP ops (abs/min/add) are "
    "fp-exact, z-norm means sum in different orders (numpy pairwise "
    "vs sequential, ~1e-16), so both sides canonicalize through "
    "r4. Scale shape: per-series "
    "arrays are bounded by the TIME SPAN; the pair relation is "
    "series-count-quadratic (catalog-bounded here; at thousands of "
    "series, LSH/feature-block the pairs first — x8's banding "
    "pattern); the Sakoe-Chiba band caps per-pair cost at O(n*w).",
    tags=("ext", "timeseries", "similarity"),
    late=True,
)
def t42_dtw_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    ev = tables.load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.datediff(
                F.col("ts").cast("date"), F.lit("2024-01-01").cast("date")
            ).alias("t"),
        )
        .groupBy("event_type", "t")
        .agg(F.count("*").alias("x"))
    )
    ser = daily.groupBy("event_type").agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("t"), F.col("x")))
        ).alias("pts")
    ).select(
        "event_type",
        F.transform("pts", lambda p: p.t).alias("ts"),
        F.transform("pts", lambda p: p.x.cast("double")).alias("xs"),
    )
    a = ser.select(
        F.col("event_type").alias("ev_a"),
        F.col("ts").alias("ts_a"),
        F.col("xs").alias("xs_a"),
    )
    b = ser.select(
        F.col("event_type").alias("ev_b"),
        F.col("ts").alias("ts_b"),
        F.col("xs").alias("xs_b"),
    )
    # PRECONDITION (structural, not incidental): this all-pairs
    # crossJoin is safe ONLY because the pairing key is `event_type`,
    # a bounded enum (~5 values → ≤10 pairs regardless of row count).
    # Do NOT copy this shape onto a high-cardinality key (per-item /
    # per-user series) — that is quadratic; use a blocking key first
    # (t24_blocked_edit_distance pattern). The broadcast marks the
    # enum side small so the plan is a BroadcastNestedLoopJoin over a
    # handful of rows, never a shuffled cartesian.
    pairs = a.crossJoin(F.broadcast(b)).filter(F.col("ev_a") < F.col("ev_b"))

    band = _T42_BAND

    # no type hints: `from __future__ import annotations` stringifies
    # them and pandas_udf's hint parser rejects the strings — the
    # hint-less form defaults to a scalar pandas UDF (bpe.py pattern)
    @pandas_udf("struct<dtw: double, euclid: double>")
    def dtw_pair(ts_a, xs_a, ts_b, xs_b):
        # All helpers INSIDE the closure: pandas UDFs pickle by value;
        # module-level references crash workers launched from a
        # different working directory than the driver's.
        import numpy as np

        def dense(ts, xs, lo, hi):
            # both series of a pair are densified over the UNION
            # calendar span [lo, hi] so DTW and lock-step Euclidean
            # compare the same calendar-aligned vectors (per-series
            # anchoring would compare misaligned days)
            t = np.asarray(ts, dtype=np.int64)
            x = np.asarray(xs, dtype=np.float64)
            out = np.zeros(hi - lo + 1)
            out[t - lo] = x
            return out

        def znorm(v):
            sd = v.std()
            return (v - v.mean()) / sd if sd > 0 else v - v.mean()

        def banded_dtw(p, q, w):
            n, m = len(p), len(q)
            w = max(w, abs(n - m))  # band must cover the diagonal
            inf = float("inf")
            prev = np.full(m + 1, inf)
            prev[0] = 0.0
            for i in range(1, n + 1):
                cur = np.full(m + 1, inf)
                jlo = max(1, i - w)
                jhi = min(m, i + w)
                for j in range(jlo, jhi + 1):
                    cost = abs(p[i - 1] - q[j - 1])
                    cur[j] = cost + min(
                        prev[j], cur[j - 1], prev[j - 1]
                    )
                prev = cur
            return prev[m]

        dtws, eucs = [], []
        for ta, xa, tb, xb in zip(ts_a, xs_a, ts_b, xs_b):
            lo = min(min(ta), min(tb))
            hi = max(max(ta), max(tb))
            p = znorm(dense(ta, xa, lo, hi))
            q = znorm(dense(tb, xb, lo, hi))
            dtws.append(banded_dtw(p, q, band))
            eucs.append(float(np.sqrt(((p - q) ** 2).sum())))
        return pd.DataFrame({"dtw": dtws, "euclid": eucs})

    scored = pairs.select(
        "ev_a",
        "ev_b",
        dtw_pair("ts_a", "xs_a", "ts_b", "xs_b").alias("d"),
    ).select(
        "ev_a",
        "ev_b",
        r4(F.col("d.dtw")).alias("dtw_dist"),
        r4(F.col("d.euclid")).alias("euclid_dist"),
    )
    return scored.orderBy("ev_a", "ev_b")


# ---------------------------------------------------------------------------
# T43 — Holt-Winters triple exponential smoothing (additive weekly)
# ---------------------------------------------------------------------------

_T43_ALPHA, _T43_BETA, _T43_GAMMA = 0.3, 0.1, 0.2
_T43_SEASON = 7  # weekly cycle in days
_T43_HORIZON = 7


@register(
    "t43_holt_winters",
    # Promoted from rows-only (r12): the t38 recursive-CTE technique
    # extended with a LIST-typed seasonal state — the slot update is
    # slice || [new] || slice. Every fp expression is written in the
    # Python loop's exact shape (incl. (1 - 0.3) unfolded and the
    # explicit 7-term left-associated seed means), so doubles match
    # BIT-FOR-BIT with no rounding.
    """
    WITH RECURSIVE daily AS (
        SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, MIN(day) AS d0, MAX(day) AS d1
        FROM daily GROUP BY 1
    ),
    grid AS (
        SELECT b.event_type, CAST(g.g AS DATE) AS day
        FROM bounds b,
             LATERAL (SELECT UNNEST(generate_series(
                 CAST(b.d0 AS TIMESTAMP), CAST(b.d1 AS TIMESTAMP),
                 INTERVAL 1 DAY)) AS g) g
    ),
    dense AS (
        SELECT g.event_type, g.day, CAST(COALESCE(d.c, 0) AS DOUBLE) AS x
        FROM grid g LEFT JOIN daily d USING (event_type, day)
    ),
    seq AS (
        SELECT event_type, day, x,
               ROW_NUMBER() OVER (
                   PARTITION BY event_type ORDER BY day) AS i,
               COUNT(*)   OVER (PARTITION BY event_type) AS n,
               MAX(day)   OVER (PARTITION BY event_type) AS last_day
        FROM dense
    ),
    seed AS (
        SELECT event_type,
               list(x ORDER BY i) FILTER (i <= 7)            AS s1,
               list(x ORDER BY i) FILTER (i > 7 AND i <= 14) AS s2
        FROM seq
        WHERE n >= 14
        GROUP BY event_type
    ),
    init AS (
        SELECT event_type,
               (s1[1]+s1[2]+s1[3]+s1[4]+s1[5]+s1[6]+s1[7]) / 7 AS mean1,
               (s2[1]+s2[2]+s2[3]+s2[4]+s2[5]+s2[6]+s2[7]) / 7 AS mean2,
               s1
        FROM seed
    ),
    rec(event_type, t, level, trend, season) AS (
        SELECT event_type, CAST(0 AS BIGINT), mean1,
               (mean2 - mean1) / 7,
               list_transform(s1, v -> v - mean1)
        FROM init
        UNION ALL
        SELECT r.event_type, r.t + 1,
               0.3 * (s.x - r.season[(r.t % 7) + 1])
                 + (1 - 0.3) * (r.level + r.trend),
               0.1 * ((0.3 * (s.x - r.season[(r.t % 7) + 1])
                         + (1 - 0.3) * (r.level + r.trend)) - r.level)
                 + (1 - 0.1) * r.trend,
               r.season[1:(r.t % 7)]
                 || [0.2 * (s.x - (0.3 * (s.x - r.season[(r.t % 7) + 1])
                                     + (1 - 0.3) * (r.level + r.trend)))
                       + (1 - 0.2) * r.season[(r.t % 7) + 1]]
                 || r.season[(r.t % 7) + 2:7]
        FROM rec r JOIN seq s
          ON s.event_type = r.event_type AND s.i = r.t + 1
    ),
    fin AS (
        SELECT r.event_type, r.level, r.trend, r.season, q.n, q.last_day
        FROM rec r
        JOIN (SELECT DISTINCT event_type, n, last_day FROM seq) q
          ON q.event_type = r.event_type AND r.t = q.n
    )
    SELECT f.event_type,
           CAST(h AS INTEGER) AS horizon,
           f.last_day + CAST(h AS INTEGER) AS forecast_day,
           f.level + h * f.trend
             + f.season[((f.n + h - 1) % 7) + 1] AS forecast,
           f.level, f.trend,
           f.season[((f.n + h - 1) % 7) + 1] AS seasonal
    FROM fin f, LATERAL (SELECT UNNEST([1, 2, 3, 4, 5, 6, 7]) AS h)
    """,
    doc="T43 (EXT timeseries) — HOLT-WINTERS additive triple "
    "exponential smoothing per event series: level + trend (t38's "
    "Holt) PLUS a 7-day additive seasonal state, forecasting one "
    "week ahead with the seasonal shape reapplied — the classic "
    "operational forecast for weekly-cyclic volumes (t40 detects the "
    "cycle, w14 decomposes it descriptively, THIS extrapolates it). "
    "Seeding is the textbook form: level = mean of the first season, "
    "trend = (mean of season 2 - mean of season 1)/m, seasonal = "
    "first-season deviations from its mean. The daily series is "
    "densified over [min(day), max(day)] with zero counts before "
    "fitting (t39/t45 grid pattern) so missing calendar days cannot "
    "shift the row-indexed seasonal phase. Runs as applyInPandas "
    "per series (the t38 recursion pattern — state is O(m) per "
    "series, series fan out across executors; helpers inside the "
    "closure for foreign-cwd pickling). Emits nothing for series "
    "shorter than two full seasons rather than fabricating "
    "seasonality.",
    tags=("ext", "timeseries", "analytics", "forecast"),
    late=True,
)
def t43_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    daily = (
        tables.load(spark, sf_dir, "events")
        .groupBy("event_type", F.col("ts").cast("date").alias("day"))
        .agg(F.count("*").alias("c"))
    )
    alpha, beta, gamma = _T43_ALPHA, _T43_BETA, _T43_GAMMA
    m, horizon = _T43_SEASON, _T43_HORIZON

    def fit(pdf):
        # helpers inlined: closure pickles by value (foreign-cwd rule)
        import datetime as dt

        import pandas as pd

        pdf = pdf.sort_values("day").reset_index(drop=True)
        et = pdf["event_type"].iloc[0]
        # densify over [min(day), max(day)] with zero counts: the
        # seasonal state is indexed by row position, so a missing
        # calendar day would shift the weekly phase for the rest of
        # the series and desynchronize forecast_day (calendar) from
        # the seasonal slot (row-based)
        obs = dict(zip(pdf["day"], pdf["c"].astype("float64")))
        days = [
            d.date() for d in pd.date_range(
                pdf["day"].iloc[0], pdf["day"].iloc[-1], freq="D"
            )
        ]
        xs = [obs.get(d, 0.0) for d in days]
        empty = pd.DataFrame(
            {"event_type": [], "horizon": [], "forecast_day": [],
             "forecast": [], "level": [], "trend": [],
             "seasonal": []}
        )
        if len(xs) < 2 * m:  # need two full seasons to seed
            return empty
        s1 = xs[:m]
        s2 = xs[m:2 * m]
        mean1 = sum(s1) / m
        mean2 = sum(s2) / m
        level = mean1
        trend = (mean2 - mean1) / m
        season = [v - mean1 for v in s1]
        for t, x in enumerate(xs):
            si = t % m
            prev_level = level
            level = alpha * (x - season[si]) + (1 - alpha) * (
                level + trend
            )
            trend = beta * (level - prev_level) + (1 - beta) * trend
            season[si] = gamma * (x - level) + (1 - gamma) * season[si]
        last = days[-1]
        n = len(xs)
        rows = []
        for h in range(1, horizon + 1):
            si = (n + h - 1) % m
            rows.append(
                {
                    "event_type": et,
                    "horizon": h,
                    "forecast_day": last + dt.timedelta(days=h),
                    "forecast": level + h * trend + season[si],
                    "level": level,
                    "trend": trend,
                    "seasonal": season[si],
                }
            )
        return pd.DataFrame(rows)

    return (
        daily.groupBy("event_type")
        .applyInPandas(
            fit,
            "event_type string, horizon int, forecast_day date, "
            "forecast double, level double, trend double, "
            "seasonal double",
        )
        .orderBy("event_type", "horizon")
    )


# ---------------------------------------------------------------------------
# T44 — Markov stationary distribution via matrix squaring
# ---------------------------------------------------------------------------

_T44_SQUARINGS = 6  # P^(2^6) = P^64


def _t44_square_sql(src: str, dst: str) -> str:
    # MATERIALIZED: each squaring references its input TWICE; DuckDB
    # inlines plain CTEs, so without it the base window scan re-expands
    # 2^6 times (measured ~20s -> ~2s at sf0.01). Oracle-only syntax —
    # this SQL never runs on Spark.
    return (
        f"{dst} AS MATERIALIZED (SELECT a.s, b.t, SUM(a.p * b.p) AS p "
        f"FROM {src} a JOIN {src} b ON a.t = b.s GROUP BY 1, 2)"
    )


@register(
    "t44_markov_stationary",
    rf"""
    WITH steps AS (
        SELECT event_type AS s,
               LEAD(event_type) OVER (
                   PARTITION BY user_id ORDER BY ts, event_id
               ) AS t
        FROM events
    ),
    counts AS (
        SELECT s, t, COUNT(*) AS c FROM steps
        WHERE t IS NOT NULL GROUP BY 1, 2
    ),
    p1 AS (
        SELECT s, t, c * 1.0 / SUM(c) OVER (PARTITION BY s) AS p
        FROM counts
    ),
    {', '.join(_t44_square_sql(f'p{2 ** i}', f'p{2 ** (i + 1)}')
               for i in range(_T44_SQUARINGS))},
    ns AS (SELECT COUNT(DISTINCT s) AS n FROM p1),
    vfinal AS (
        SELECT t AS state, SUM(p / ns.n) AS pi
        FROM p{2 ** _T44_SQUARINGS} CROSS JOIN ns
        GROUP BY t, ns.n
    ),
    emp AS (
        SELECT event_type AS state,
               COUNT(*) * 1.0 / (SELECT COUNT(*) FROM events) AS share
        FROM events GROUP BY 1
    )
    SELECT v.state,
           {r4sql('v.pi')} AS stationary_prob,
           {r4sql('e.share')} AS empirical_share
    FROM vfinal v JOIN emp e ON v.state = e.state
    ORDER BY v.state
    """,
    doc="T44 (EXT analytics) — STATIONARY DISTRIBUTION of the t22 "
    "Markov chain: the long-run fraction of time a user's behavior "
    "spends in each event type, computed as uniform * P^64 via SIX "
    "MATRIX SQUARINGS (each squaring is one self-join + hash-agg on "
    "the state-bounded transition relation), reported beside the "
    "empirical occupancy so drift between modeled and observed "
    "behavior is one subtraction away. The distinctive part: unlike "
    "a20's PageRank (rows-only, convergence-guarded barrier loop), "
    "the squaring unroll is FINITE and associativity-identical on "
    "both engines, so this iterative fixpoint is fully "
    "ORACLE-VERIFIED — the oracle runs the same six squarings as "
    "CTEs. Shape: everything after the one lead() window pass is "
    "bounded by the state-count squared (enum cardinality), "
    "independent of corpus size. Assumes the chain's state graph "
    "has no dangling states (every observed type also transitions "
    "out — true for any enum-typed activity stream with per-user "
    "sequences longer than one).",
    tags=("ext", "timeseries", "markov", "graph"),
    late=True,
)
def t44_markov_stationary(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    steps = ev.select(
        F.col("event_type").alias("s"),
        F.lead("event_type").over(w).alias("t"),
    ).filter(F.col("t").isNotNull())
    counts = steps.groupBy("s", "t").agg(F.count("*").alias("c"))
    p = counts.select(
        "s",
        "t",
        (
            F.col("c") * 1.0
            / F.sum("c").over(Window.partitionBy("s"))
        ).alias("p"),
    )
    # r15 (guide §5 job count / §2.4): the six squarings ran as six
    # join+agg rounds — 12 serial exchanges plus six lazy-checkpoint
    # materializations, all over a relation bounded by the event-type
    # ENUM cardinality squared (~tens of rows at any corpus size).
    # Now the transition matrix is folded into ONE row (sorted state
    # list + dense k×k array, zeros where the join form had no row)
    # and P^64 is six array squarings in a single JVM projection —
    # everything after the lead() window pass and one k²-row agg is
    # narrow. Row/column semantics are the join form's: an entry
    # exists there iff its dense cell > 0 (all p are strictly
    # positive), so the pi > 0 filter reproduces vfinal's key set,
    # and ns is COUNT(DISTINCT s) of P¹ (= size(ss)) exactly as the
    # oracle computes it. The join form divided by the distinct
    # sources of P^64 instead, so the two agree bit for bit only when
    # no state's walks all die out in a terminal sink within 64 steps
    # (a dangling-sink chain); with one, this form matches the oracle
    # and the join form did not (pinned by
    # tests/test_analytics.py::test_t44_terminal_sink_matches_oracle).
    # Interleaved A/B on the harness data, which has no such chain:
    # 2.16 -> 0.97 s median with bit-identical output
    # (scripts/exp_r15b.py t44A/t44B at commit 8de34ac); oracle
    # hash-green at every sf.
    one = (
        p.agg(
            F.sort_array(F.collect_set("s")).alias("ss"),
            F.sort_array(
                F.collect_list(F.struct("s", "t", "p"))
            ).alias("cells"),
        )
        .select(
            "ss",
            "cells",
            F.array_sort(
                F.array_distinct(
                    F.concat(
                        F.col("ss"), F.expr("transform(cells, c -> c.t)")
                    )
                )
            ).alias("st"),
        )
        .select("ss", "cells", "st", F.size("st").alias("k"))
        .select(
            "ss",
            "st",
            "k",
            F.expr(
                """
                CASE WHEN k = 0 THEN CAST(array() AS ARRAY<DOUBLE>) ELSE
                transform(sequence(0, k * k - 1), i ->
                  aggregate(
                    filter(cells, c ->
                      c.s = element_at(st, CAST(i DIV k AS INT) + 1)
                      AND c.t = element_at(st, CAST(i % k AS INT) + 1)),
                    0D, (a, c) -> a + c.p))
                END
                """
            ).alias("m0"),
        )
        .select(
            "ss",
            "st",
            "k",
            F.expr(
                f"""
                CASE WHEN k = 0 THEN m0 ELSE
                aggregate(sequence(1, {_T44_SQUARINGS}), m0, (acc, step) ->
                  transform(sequence(0, k * k - 1), i ->
                    aggregate(sequence(0, k - 1), 0D, (a, mm) ->
                      a + element_at(acc,
                            CAST(i DIV k AS INT) * k + CAST(mm AS INT) + 1)
                        * element_at(acc,
                            CAST(mm AS INT) * k + CAST(i % k AS INT) + 1))))
                END
                """
            ).alias("mf"),
        )
    )
    vfinal = one.select(
        F.explode(
            F.expr(
                """
                CASE WHEN k = 0 THEN
                  CAST(array() AS ARRAY<STRUCT<state: STRING, pi: DOUBLE>>)
                ELSE
                filter(
                  transform(sequence(0, k - 1), j ->
                    struct(
                      element_at(st, CAST(j AS INT) + 1) AS state,
                      aggregate(sequence(0, k - 1), 0D, (a, i) ->
                        a + element_at(mf,
                              CAST(i AS INT) * k + CAST(j AS INT) + 1)
                          / size(ss)) AS pi)),
                  x -> x.pi > 0D)
                END
                """
            )
        ).alias("v")
    ).select(F.col("v.state").alias("state"), F.col("v.pi").alias("pi"))
    tot = ev.agg(F.count("*").alias("total"))
    emp = (
        ev.groupBy(F.col("event_type").alias("state"))
        .agg(F.count("*").alias("c"))
        .crossJoin(F.broadcast(tot))
        .select(
            "state", (F.col("c") * 1.0 / F.col("total")).alias("share")
        )
    )
    return (
        vfinal.join(emp, "state")
        .select(
            "state",
            r4("pi").alias("stationary_prob"),
            r4("share").alias("empirical_share"),
        )
        .orderBy("state")
    )


# ---------------------------------------------------------------------------
# T45 — burstiness: index of dispersion + negative-binomial moment fit
# ---------------------------------------------------------------------------


@register(
    "t45_dispersion",
    f"""
    WITH hourly AS (
        SELECT event_type,
               DATEDIFF('hour', TIMESTAMP '{_T39_ANCHOR}',
                        date_trunc('hour', ts)) AS h,
               COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, MIN(h) AS hmin, MAX(h) AS hmax
        FROM hourly GROUP BY 1
    ),
    grid AS (
        SELECT event_type, hmin,
               UNNEST(generate_series(hmin, hmax)) AS h
        FROM bounds
    ),
    dense AS (
        SELECT g.event_type, COALESCE(hh.x, 0) AS x
        FROM grid g LEFT JOIN hourly hh
          ON g.event_type = hh.event_type AND g.h = hh.h
    ),
    s AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(x) AS s1, SUM(x * x) AS s2
        FROM dense GROUP BY 1
    ),
    mo AS (
        SELECT event_type, n,
               s1 * 1.0 / n AS mean_x,
               (n * s2 - s1 * s1) * 1.0 / (n * 1.0 * (n - 1)) AS var_x
        FROM s WHERE n > 1
    )
    SELECT event_type, n AS n_hours,
           {{M}} AS mean_per_hour,
           {{F}} AS fano,
           ({{F}} > 1.5) AS overdispersed,
           {{R}} AS nb_r,
           {{P}} AS nb_p
    FROM mo
    ORDER BY event_type
    """.replace("{M}", r4sql("mean_x"))
        .replace("{F}", r4sql("var_x / mean_x"))
        .replace(
            "{R}",
            r4sql(
                "CASE WHEN var_x > mean_x"
                " THEN mean_x * mean_x / (var_x - mean_x) END"
            ),
        )
        .replace(
            "{P}",
            r4sql("CASE WHEN var_x > mean_x THEN mean_x / var_x END"),
        ),
    doc="T45 (EXT timeseries) — BURSTINESS per event series: the Fano "
    "factor (index of dispersion, variance/mean of hourly counts "
    "over the dense grid) with an overdispersion flag, plus the "
    "method-of-moments NEGATIVE-BINOMIAL fit (r = m^2/(v-m), "
    "p = m/v, defined only when genuinely overdispersed) — Poisson "
    "arrivals give Fano ~ 1; bots and flash-crowds push it far "
    "above, and the NB parameters feed capacity simulation directly. "
    "Complements t39 (Hurst asks if bursts CLUSTER over time; Fano "
    "asks how LUMPY the marginal is). Exactness: with integer "
    "counts, n*s2 - s1^2 makes the sample variance a ratio of exact "
    "BIGINTs; every output is a closed form over identical integers, "
    "r4-dressed, and the flag cuts on the canonical Fano (a19 "
    "pattern). Shape: dense grid bounded by the time span; one "
    "hash-agg per series.",
    tags=("ext", "timeseries", "analytics", "stats"),
    late=True,
)
def t45_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    hourly = (
        ev.select(
            "event_type",
            F.expr(
                f"timestampdiff(HOUR, timestamp'{_T39_ANCHOR}',"
                " date_trunc('hour', ts))"
            ).alias("h"),
        )
        .groupBy("event_type", "h")
        .agg(F.count("*").alias("x"))
    ).transform(lazy_barrier)
    bounds = hourly.groupBy("event_type").agg(
        F.min("h").alias("hmin"), F.max("h").alias("hmax")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence(F.col("hmin"), F.col("hmax"))).alias("h"),
    )
    dense = grid.join(hourly, ["event_type", "h"], "left").select(
        "event_type", F.coalesce(F.col("x"), F.lit(0)).alias("x")
    )
    s = dense.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("s1"),
        F.sum(F.col("x") * F.col("x")).alias("s2"),
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    mean_x = s1 * 1.0 / n
    var_x = (n * s2 - s1 * s1) * 1.0 / (n * 1.0 * (n - 1))
    fano = r4(var_x / mean_x)
    return (
        s.filter(n > 1)
        .select(
            "event_type",
            n.alias("n_hours"),
            r4(mean_x).alias("mean_per_hour"),
            fano.alias("fano"),
            (fano > 1.5).alias("overdispersed"),
            r4(
                F.when(
                    var_x > mean_x, mean_x * mean_x / (var_x - mean_x)
                )
            ).alias("nb_r"),
            r4(F.when(var_x > mean_x, mean_x / var_x)).alias("nb_p"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# T46 — Ljung-Box portmanteau whiteness test (on the t32 ACF lags)
# ---------------------------------------------------------------------------

_T46_LAGS = (1, 2, 3)
_T46_CRIT = 7.815  # chi-squared 95% quantile at df = 3


@register(
    "t46_ljung_box",
    f"""
    WITH {_ACF_CTES},
    acfs AS (
        SELECT d1.event_type, k.lag,
               SUM(d1.dev * d2.dev) / MAX(ss.ss0) AS r,
               MAX(ss.n) AS n
        FROM devs d1
        JOIN (VALUES {", ".join(f"({k})" for k in _T46_LAGS)}) AS k(lag)
          ON TRUE
        JOIN devs d2
          ON d2.event_type = d1.event_type AND d2.rn = d1.rn + k.lag
        JOIN ss ON ss.event_type = d1.event_type
        WHERE ss.ss0 > 0
        GROUP BY d1.event_type, k.lag
    ),
    q AS (
        SELECT event_type, MAX(n) AS n_days,
               MAX(n) * (MAX(n) + 2.0)
                   * SUM(r * r / (n - lag)) AS q_raw
        FROM acfs GROUP BY event_type
        HAVING COUNT(*) = {len(_T46_LAGS)}
    )
    SELECT event_type, n_days,
           {{Q}} AS lb_q,
           ({{Q}} > {_T46_CRIT}) AS autocorrelated
    FROM q
    ORDER BY event_type
    """.replace("{Q}", r4sql("q_raw")),
    doc="T46 (EXT timeseries) — LJUNG-BOX portmanteau test over the "
    "t32 ACF lags (1-3): Q = n(n+2)·Σ r_k²/(n-k) against the "
    "chi-squared 95% cut at df=3 — t32 reports the individual "
    "autocorrelations, this answers the single yes/no question a "
    "forecasting pipeline actually gates on ('is the residual/series "
    "distinguishable from white noise at all?') with multiple lags "
    "combined correctly instead of three eyeballed bars. Same "
    "single-shuffle lag-join shape as t32 (a self-join on rn+k over "
    "the bounded daily relation); the flag cuts on the r4-canonical "
    "Q (a19 pattern). Series missing any lag (too short) are "
    "excluded rather than scored on partial sums.",
    tags=("ext", "timeseries", "analytics", "stats"),
    late=True,
)
def t46_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    devs, ss = _acf_substrate(spark, sf_dir)
    acfs = _acf_r_raw(devs, ss, _T46_LAGS).withColumnRenamed("r_raw", "r")
    q = (
        acfs.groupBy("event_type")
        .agg(
            F.max("n").alias("n_days"),
            (
                F.max("n")
                * (F.max("n") + 2.0)
                * F.sum(
                    F.col("r") * F.col("r") / (F.col("n") - F.col("lag"))
                )
            ).alias("q_raw"),
            F.count("*").alias("nlags"),
        )
        .filter(F.col("nlags") == len(_T46_LAGS))
    )
    lb = r4(F.col("q_raw"))
    return q.select(
        "event_type",
        "n_days",
        lb.alias("lb_q"),
        (lb > _T46_CRIT).alias("autocorrelated"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# T47 — circadian concentration (circular statistics over hour-of-day)
# ---------------------------------------------------------------------------

_T47_CONC = 0.1  # resultant-length cut for the "has a daily rhythm" flag


@register(
    "t47_circadian",
    f"""
    WITH hh AS (
        SELECT event_type, EXTRACT(HOUR FROM ts) AS hr, COUNT(*) AS c
        FROM events GROUP BY 1, 2
    ),
    s AS (
        SELECT event_type,
               SUM(c) AS n,
               SUM(c * COS(2 * PI() * hr / 24)) AS cc,
               SUM(c * SIN(2 * PI() * hr / 24)) AS ss
        FROM hh GROUP BY 1
    )
    SELECT event_type, n,
           {{R}} AS resultant_r,
           {{PH}} AS peak_hour,
           ({{R}} > {_T47_CONC}) AS concentrated
    FROM s
    ORDER BY event_type
    """.replace("{R}", r4sql("SQRT(cc * cc + ss * ss) / n"))
        .replace(
            "{PH}",
            r4sql(
                "((ATAN2(ss, cc) / (2 * PI())) * 24 + 24) % 24"
            ),
        ),
    doc="T47 (EXT timeseries) — CIRCADIAN CONCENTRATION via circular "
    "statistics: hour-of-day is an angle, not a number — averaging "
    "23:00 and 01:00 as integers says noon; mapping hours onto the "
    "unit circle and folding the mean resultant vector says midnight "
    "with high concentration. Reports the mean resultant length "
    "R in [0,1] (0 = uniform around the clock, 1 = single-hour "
    "spike), the mean direction as the PEAK HOUR, and a rhythm flag "
    "on the canonical R (a19 pattern) — what w13's day-of-week "
    "table is to weeks, this is to the 24h clock, with the wrap "
    "handled correctly. Shape: one (series, hour) hash-agg (24 rows "
    "per series), trig on the 24 exact integer hours only, folds "
    "bounded by the clock. Uses the fuzz-pinned COS/SIN/ATAN "
    "cross-engine identity (scalar grammar e13-e15).",
    tags=("ext", "timeseries", "analytics", "stats"),
    late=True,
)
def t47_circadian(spark: SparkSession, sf_dir: str) -> DataFrame:
    import math as _math

    ev = tables.load(spark, sf_dir, "events")
    hh = (
        ev.select("event_type", F.hour("ts").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count("*").alias("c"))
    )
    two_pi = 2 * _math.pi
    s = hh.groupBy("event_type").agg(
        F.sum("c").alias("n"),
        F.sum(F.col("c") * F.cos(two_pi * F.col("hr") / 24)).alias("cc"),
        F.sum(F.col("c") * F.sin(two_pi * F.col("hr") / 24)).alias("ss"),
    )
    rr = r4(
        F.sqrt(F.col("cc") * F.col("cc") + F.col("ss") * F.col("ss"))
        / F.col("n")
    )
    peak = r4(
        (
            (F.atan2(F.col("ss"), F.col("cc")) / two_pi) * 24 + 24
        ) % 24
    )
    return s.select(
        "event_type",
        "n",
        rr.alias("resultant_r"),
        peak.alias("peak_hour"),
        (rr > _T47_CONC).alias("concentrated"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# T48 — maximum drawdown per item price series
# ---------------------------------------------------------------------------


@register(
    "t48_max_drawdown",
    auctions_sql(
        """
    , daily AS (
        SELECT item, CAST(dump_ts AS DATE) AS day,
               SUM(CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT))
                   AS csum,
               COUNT(*) AS c
        FROM auctions WHERE buyout > 0
        GROUP BY 1, 2
    ),
    px AS (
        SELECT item, day, CAST(csum AS DOUBLE) / (100.0 * c) AS price
        FROM daily
    ),
    dd AS (
        SELECT item, day, price,
               MAX(price) OVER (PARTITION BY item ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS peak
        FROM px
    )
    SELECT item, COUNT(*) AS n_days,
           {MDD} AS max_drawdown
    FROM dd
    GROUP BY item
    HAVING COUNT(*) >= 5
    ORDER BY item
    """.replace("{MDD}", r4sql("MAX(1 - price / peak)"))
    ),
    doc="T48 (EXT timeseries) — MAXIMUM DRAWDOWN per item's daily mean "
    "price series: the largest peak-to-trough relative drop, the "
    "risk statistic a pricing/market-making strategy reads beside "
    "the w10/w12 trend measures (volatility says how much prices "
    "wiggle; drawdown says the worst realized loss a buy-at-peak "
    "position took). Exactness: daily mean price is an exact-cents "
    "ratio (identical doubles both engines); the running peak is a "
    "cumulative MAX over identical values; the drawdown fold is "
    "1 - price/peak maxed per item, r4-dressed. Short series "
    "(<5 days) are excluded — a 2-point 'drawdown' is noise. Shape: "
    "one (item, day) hash-agg, per-item cumulative windows "
    "(parallel across items, frames bounded by the date span).",
    tags=("ext", "timeseries", "analytics", "finance"),
    late=True,
)
def t48_max_drawdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.sources.synthetic import auctions as _auctions

    au = _auctions(spark, sf_dir)
    cents = (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (
        au.filter(F.col("buyout") > 0)
        .groupBy("item", F.col("dump_ts").cast("date").alias("day"))
        .agg(F.sum(cents).alias("csum"), F.count("*").alias("c"))
    )
    px = daily.select(
        "item",
        "day",
        (F.col("csum").cast("double") / (100.0 * F.col("c"))).alias(
            "price"
        ),
    )
    w = (
        Window.partitionBy("item")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    dd = px.select(
        "item", "price", F.max("price").over(w).alias("peak")
    )
    return (
        dd.groupBy("item")
        .agg(
            F.count("*").alias("n_days"),
            r4(F.max(1 - F.col("price") / F.col("peak"))).alias(
                "max_drawdown"
            ),
        )
        .filter(F.col("n_days") >= 5)
        .orderBy("item")
    )


# ---------------------------------------------------------------------------
# W16 — Bollinger bands with breach flags (rolling local volatility)
# ---------------------------------------------------------------------------

_W16_WIN = 7  # trailing days
_W16_K = 2.0  # band width in rolling sigmas


@register(
    "w16_bollinger",
    auctions_sql(
        f"""
    , daily AS (
        SELECT item, CAST(dump_ts AS DATE) AS day,
               SUM(CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT))
                   AS csum,
               COUNT(*) AS c
        FROM auctions WHERE buyout > 0
        GROUP BY 1, 2
    ),
    px AS (
        SELECT item, day, CAST(csum AS DOUBLE) / (100.0 * c) AS price
        FROM daily
    ),
    roll AS (
        SELECT item, day, price,
               AVG(price) OVER w AS mid,
               STDDEV_SAMP(price) OVER w AS sd,
               COUNT(*) OVER w AS wn
        FROM px
        WINDOW w AS (PARTITION BY item ORDER BY day
                     ROWS BETWEEN {_W16_WIN - 1} PRECEDING
                              AND CURRENT ROW)
    )
    SELECT item, day,
           {{P}} AS price, {{M}} AS mid,
           {{U}} AS upper_band, {{L}} AS lower_band,
           ({{P}} > {{U}}) AS breach_up,
           ({{P}} < {{L}}) AS breach_down
    FROM roll WHERE wn = {_W16_WIN} AND sd IS NOT NULL
    ORDER BY item, day
    """.replace("{P}", r4sql("price"))
        .replace("{M}", r4sql("mid"))
        .replace("{U}", r4sql(f"mid + {_W16_K} * sd"))
        .replace("{L}", r4sql(f"mid - {_W16_K} * sd"))
    ),
    doc="W16 (EXT window/finance) — BOLLINGER BANDS per item: trailing "
    f"{_W16_WIN}-day rolling mean +- {_W16_K} rolling sigmas around "
    "the daily exact-cents mean price, with breach flags on the "
    "CANONICAL values (a19 pattern) — t20's z-scores standardize "
    "against the GLOBAL series moments; bands localize volatility so "
    "a quiet series that suddenly jumps flags even when its global "
    "variance is large. Only full windows are scored (a 2-day 'band' "
    "is noise). Shape: one (item, day) hash-agg then per-item "
    "bounded rolling frames — parallel across items; rolling "
    "STDDEV's ulp wobble between engines is absorbed by the r4 dress "
    "on every emitted value AND both flag operands.",
    tags=("ext", "window", "timeseries", "finance"),
    late=True,
)
def w16_bollinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.sources.synthetic import auctions as _auctions

    au = _auctions(spark, sf_dir)
    cents = (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (
        au.filter(F.col("buyout") > 0)
        .groupBy("item", F.col("dump_ts").cast("date").alias("day"))
        .agg(F.sum(cents).alias("csum"), F.count("*").alias("c"))
    )
    px = daily.select(
        "item",
        "day",
        (F.col("csum").cast("double") / (100.0 * F.col("c"))).alias(
            "price"
        ),
    )
    w = (
        Window.partitionBy("item")
        .orderBy("day")
        .rowsBetween(-(_W16_WIN - 1), Window.currentRow)
    )
    roll = px.select(
        "item",
        "day",
        "price",
        F.avg("price").over(w).alias("mid"),
        F.stddev_samp("price").over(w).alias("sd"),
        F.count("*").over(w).alias("wn"),
    ).filter((F.col("wn") == _W16_WIN) & F.col("sd").isNotNull())
    p = r4("price")
    mid = r4("mid")
    up = r4(F.col("mid") + _W16_K * F.col("sd"))
    lo = r4(F.col("mid") - _W16_K * F.col("sd"))
    return roll.select(
        "item",
        "day",
        p.alias("price"),
        mid.alias("mid"),
        up.alias("upper_band"),
        lo.alias("lower_band"),
        (p > up).alias("breach_up"),
        (p < lo).alias("breach_down"),
    ).orderBy("item", "day")


# ---------------------------------------------------------------------------
# T49 — price staleness: unchanged-price runs per item
# ---------------------------------------------------------------------------


@register(
    "t49_price_staleness",
    auctions_sql(
        """
    , daily AS (
        SELECT item, CAST(dump_ts AS DATE) AS day,
               SUM(CAST(CAST(buyout AS DECIMAL(18,2)) * 100 AS BIGINT))
                   AS csum,
               COUNT(*) AS c
        FROM auctions WHERE buyout > 0
        GROUP BY 1, 2
    ),
    chg AS (
        SELECT item, day, csum, c,
               CASE WHEN LAG(csum) OVER w IS NULL
                      OR csum * LAG(c) OVER w <> LAG(csum) OVER w * c
                    THEN 1 ELSE 0 END AS is_change
        FROM daily
        WINDOW w AS (PARTITION BY item ORDER BY day)
    ),
    runs AS (
        SELECT item, day,
               SUM(is_change) OVER (PARTITION BY item ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS run_id
        FROM chg
    ),
    rl AS (
        SELECT item, run_id, COUNT(*) AS run_len
        FROM runs GROUP BY 1, 2
    )
    SELECT item,
           SUM(run_len) AS n_days,
           COUNT(*) AS n_price_levels,
           SUM(run_len) - COUNT(*) AS stale_days,
           MAX(run_len) AS longest_run,
           {SF} AS stale_frac
    FROM rl
    GROUP BY item
    HAVING SUM(run_len) >= 5
    ORDER BY item
    """.replace(
            "{SF}",
            r4sql("(SUM(run_len) - COUNT(*)) * 1.0 / SUM(run_len)"),
        )
    ),
    doc="T49 (EXT timeseries/ops) — PRICE STALENESS per item: "
    "gaps-and-islands over consecutive snapshot days with an "
    "UNCHANGED mean price — run count, stale-day fraction, and the "
    "longest frozen stretch; the data-freshness complement to t34's "
    "volume-drop monitor (volume says the feed died; staleness says "
    "the feed is alive but nobody is repricing — or an upstream "
    "cache is serving yesterday's dump). Exactness trick: 'price "
    "unchanged' compares the daily mean WITHOUT division — "
    "csum1*c2 = csum2*c1 cross-multiplied in exact BIGINT cents, so "
    "run boundaries cannot flake on float ulps. Shape: one "
    "(item, day) hash-agg, per-item lag + cumulative-change windows "
    "(parallel across items), one run-length fold.",
    tags=("ext", "timeseries", "analytics", "ops"),
    late=True,
)
def t49_price_staleness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.sources.synthetic import auctions as _auctions

    au = _auctions(spark, sf_dir)
    cents = (F.col("buyout").cast("decimal(18,2)") * 100).cast("bigint")
    daily = (
        au.filter(F.col("buyout") > 0)
        .groupBy("item", F.col("dump_ts").cast("date").alias("day"))
        .agg(F.sum(cents).alias("csum"), F.count("*").alias("c"))
    )
    w = Window.partitionBy("item").orderBy("day")
    lag_csum = F.lag("csum").over(w)
    lag_c = F.lag("c").over(w)
    chg = daily.select(
        "item",
        "day",
        F.when(
            lag_csum.isNull()
            | (F.col("csum") * lag_c != lag_csum * F.col("c")),
            1,
        )
        .otherwise(0)
        .alias("is_change"),
    )
    runs = chg.select(
        "item",
        "day",
        F.sum("is_change")
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .alias("run_id"),
    )
    rl = runs.groupBy("item", "run_id").agg(F.count("*").alias("run_len"))
    return (
        rl.groupBy("item")
        .agg(
            F.sum("run_len").alias("n_days"),
            F.count("*").alias("n_price_levels"),
            (F.sum("run_len") - F.count("*")).alias("stale_days"),
            F.max("run_len").alias("longest_run"),
            r4(
                (F.sum("run_len") - F.count("*"))
                * 1.0
                / F.sum("run_len")
            ).alias("stale_frac"),
        )
        .filter(F.col("n_days") >= 5)
        .orderBy("item")
    )



# ---------------------------------------------------------------------------
# Shared calendar-dense daily substrate (t50 backtest, t52 SAX; the
# same grid rule t39/t43/t45 apply inline) — ONE definition of the
# densification so the missing-day/phase-shift bug class (fixed in
# t43 this round) cannot re-enter one copy at a time.
# ---------------------------------------------------------------------------


def _dense_daily_ctes() -> str:
    """DuckDB CTE chain ``daily, bounds, grid, dense`` over `events`:
    per event_type, the calendar-dense daily count series as
    (event_type, t, x, n) with t the 0-based day offset from the
    series' own min day, x the (zero-filled) count, n the span."""
    return f"""daily AS (
        SELECT event_type,
               DATEDIFF('day', TIMESTAMP '{_T39_ANCHOR}',
                        date_trunc('day', ts)) AS d,
               COUNT(*) AS x
        FROM events GROUP BY 1, 2
    ),
    bounds AS (
        SELECT event_type, MIN(d) AS dmin, MAX(d) AS dmax
        FROM daily GROUP BY 1
    ),
    grid AS (
        SELECT event_type, dmin, dmax,
               UNNEST(generate_series(dmin, dmax)) AS d
        FROM bounds
    ),
    dense AS (
        SELECT g.event_type, g.d - g.dmin AS t,
               COALESCE(dd.x, 0) AS x,
               g.dmax - g.dmin + 1 AS n
        FROM grid g LEFT JOIN daily dd
          ON g.event_type = dd.event_type AND g.d = dd.d
    )"""


def _dense_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of :func:`_dense_daily_ctes` — barriered (the grid
    feeds multiple consumers in both t50 and t52)."""
    ev = tables.load(spark, sf_dir, "events")
    daily = (
        ev.select(
            "event_type",
            F.expr(
                f"datediff(date_trunc('day', ts),"
                f" timestamp'{_T39_ANCHOR}')"
            ).alias("d"),
        )
        .groupBy("event_type", "d")
        .agg(F.count("*").alias("x"))
    ).transform(lazy_barrier)
    bounds = daily.groupBy("event_type").agg(
        F.min("d").alias("dmin"), F.max("d").alias("dmax")
    )
    grid = bounds.select(
        "event_type",
        "dmin",
        (F.col("dmax") - F.col("dmin") + 1).alias("n"),
        F.explode(F.sequence(F.col("dmin"), F.col("dmax"))).alias("d"),
    )
    return grid.join(daily, ["event_type", "d"], "left").select(
        "event_type",
        (F.col("d") - F.col("dmin")).alias("t"),
        F.coalesce(F.col("x"), F.lit(0)).alias("x"),
        "n",
    ).transform(lazy_barrier)


# ---------------------------------------------------------------------------
# T50 — forecast backtest: seasonal-naive MASE / sMAPE per series
# ---------------------------------------------------------------------------

_T50_SEASON = 7      # weekly cycle, matches t43's m
_T50_TEST_FRAC = 0.2  # holdout share (last fifth of the dense grid)
_T50_MIN_DAYS = 21   # need 2 seasons of train + a non-empty test


@register(
    "t50_forecast_backtest",
    f"""
    WITH {_dense_daily_ctes()},
    lagged AS (
        SELECT event_type, t, x, n,
               CAST(GREATEST(1, FLOOR({_T50_TEST_FRAC} * n)) AS BIGINT)
                   AS n_test,
               LAG(x, {_T50_SEASON}) OVER (
                   PARTITION BY event_type ORDER BY t) AS x_lag
        FROM dense
    ),
    err AS (
        SELECT event_type, n, n_test,
               AVG(CASE WHEN t >= n - n_test
                        THEN ABS(x - x_lag) END) AS mae_test,
               AVG(CASE WHEN t < n - n_test
                        THEN ABS(x - x_lag) END) AS mae_train,
               AVG(CASE WHEN t >= n - n_test THEN
                     CASE WHEN x = 0 AND x_lag = 0 THEN 0.0
                          ELSE 2.0 * ABS(x - x_lag) / (ABS(x) + ABS(x_lag))
                     END END) AS smape
        FROM lagged WHERE x_lag IS NOT NULL
        GROUP BY 1, 2, 3
    )
    SELECT event_type, n AS n_days, n_test,
           {{MASE}} AS mase,
           {{SMAPE}} AS smape_pct
    FROM err
    WHERE n >= {_T50_MIN_DAYS} AND mae_train > 0
    ORDER BY event_type
    """.replace("{MASE}", r4sql("mae_test / mae_train"))
        .replace("{SMAPE}", r4sql("100.0 * smape")),
    doc="T50 (EXT timeseries) — FORECAST BACKTEST: per event series, "
    "the seasonal-naive predictor (y[d] := y[d-7]) is scored on the "
    "last 20% of the calendar-dense daily grid with the two standard "
    "scale-free metrics — MASE (test MAE over the predictor's own "
    "IN-SAMPLE MAE, Hyndman-Koehler: < 1 beats the in-sample "
    "baseline, comparable ACROSS series of different volumes, no "
    "divide-by-zero on intermittent series) and sMAPE (bounded "
    "0-200%, the 0/0 term defined as 0 for zero-demand days). This "
    "is the EVAL that decides whether t38/t43's fitted forecasts are "
    "worth deploying per series — a fitted model must beat MASE ~1 "
    "to justify its state. Shape: t39/t45's dense-grid pattern (one "
    "hash-agg to daily counts, per-series explode of the bounded "
    "calendar span, one lag window per series), then one hash-agg of "
    "conditional absolute errors; everything is per-series bounded "
    "and the output is catalog-sized.",
    tags=("ext", "timeseries", "forecast", "eval"),
    late=True,
)
def t50_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense = _dense_daily(spark, sf_dir)
    w = Window.partitionBy("event_type").orderBy("t")
    lagged = dense.select(
        "event_type",
        "t",
        "x",
        "n",
        F.greatest(
            F.lit(1), F.floor(_T50_TEST_FRAC * F.col("n"))
        ).cast("bigint").alias("n_test"),
        F.lag("x", _T50_SEASON).over(w).alias("x_lag"),
    ).filter(F.col("x_lag").isNotNull())
    is_test = F.col("t") >= F.col("n") - F.col("n_test")
    abs_err = F.abs(F.col("x") - F.col("x_lag"))
    smape_term = F.when(
        (F.col("x") == 0) & (F.col("x_lag") == 0), F.lit(0.0)
    ).otherwise(
        2.0 * abs_err / (F.abs(F.col("x")) + F.abs(F.col("x_lag")))
    )
    err = lagged.groupBy("event_type", "n", "n_test").agg(
        F.avg(F.when(is_test, abs_err)).alias("mae_test"),
        F.avg(F.when(~is_test, abs_err)).alias("mae_train"),
        F.avg(F.when(is_test, smape_term)).alias("smape"),
    )
    return (
        err.filter(
            (F.col("n") >= _T50_MIN_DAYS) & (F.col("mae_train") > 0)
        )
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "n_test",
            r4(F.col("mae_test") / F.col("mae_train")).alias("mase"),
            r4(100.0 * F.col("smape")).alias("smape_pct"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# T51 — effective sample size from the initial-positive ACF sum
# ---------------------------------------------------------------------------

_T51_MAX_LAG = 14


@register(
    "t51_effective_sample_size",
    f"""
    WITH {_ACF_CTES},
    rho AS (
        SELECT d1.event_type, k.lag,
               CAST(CAST(ROUND(CAST(CAST(
                   (SUM(d1.dev * d2.dev) / MAX(ss.ss0))
                   AS STRING) AS DECIMAL(38,10)), 4) AS STRING) AS DOUBLE)
                   AS r
        FROM devs d1
        JOIN (VALUES {", ".join(f"({k})" for k in range(1, _T51_MAX_LAG + 1))})
            AS k(lag) ON TRUE
        JOIN devs d2
          ON d2.event_type = d1.event_type AND d2.rn = d1.rn + k.lag
        JOIN ss ON ss.event_type = d1.event_type
        WHERE ss.ss0 > 0
        GROUP BY d1.event_type, k.lag
    ),
    cut AS (
        SELECT event_type,
               COALESCE(MIN(CASE WHEN r <= 0 THEN lag END),
                        MAX(lag) + 1) AS first_nonpos
        FROM rho GROUP BY event_type
    ),
    tau AS (
        SELECT rho.event_type,
               SUM(CASE WHEN rho.lag < cut.first_nonpos
                        THEN rho.r ELSE 0 END) AS sum_rho,
               MAX(cut.first_nonpos) - 1 AS k_used
        FROM rho JOIN cut ON rho.event_type = cut.event_type
        GROUP BY rho.event_type
    )
    SELECT t.event_type, ss.n AS n_days, t.k_used,
           {{SR}} AS sum_rho,
           {{ESS}} AS ess,
           {{EF}} AS ess_ratio
    FROM tau t JOIN ss ON t.event_type = ss.event_type
    ORDER BY t.event_type
    """.replace("{SR}", r4sql("t.sum_rho"))
        .replace("{ESS}", r4sql("ss.n / (1.0 + 2.0 * t.sum_rho)"))
        .replace("{EF}", r4sql("1.0 / (1.0 + 2.0 * t.sum_rho)")),
    doc="T51 (EXT timeseries) — EFFECTIVE SAMPLE SIZE of each daily "
    "value series: ESS = n / (1 + 2·Σρ_k) with the ACF sum truncated "
    "at the first non-positive autocorrelation (Geyer's initial-"
    "positive-sequence rule, the MCMC-diagnostics standard) — the "
    "number that tells an A/B or anomaly pipeline how many of its n "
    "daily observations are actually independent: momentum-heavy "
    "price series (t32's near-1 lag-1 regime) can carry 10× less "
    "evidence than their row count suggests, and every CI the a41 "
    "bootstrap hands out assumes the ESS, not n. Truncation compares "
    "the r4-CANONICAL ρ against 0 so the cutoff lag is identical on "
    "both engines (raw-sum sign near 0 could flip in the last ulp). "
    "Shape: t32's substrate — one (type, day) hash-agg, a "
    "|lags|-bounded join fan-out, series-keyed hash-aggs; output is "
    "catalog-bounded.",
    tags=("ext", "timeseries", "stats"),
    late=True,
)
def t51_effective_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    devs, ss = _acf_substrate(spark, sf_dir)
    rho = (
        _acf_r_raw(devs, ss, tuple(range(1, _T51_MAX_LAG + 1)))
        # truncation compares the r4-CANONICAL rho against 0 so the
        # cutoff lag is identical on both engines
        .select("event_type", "lag", r4(F.col("r_raw")).alias("r"))
        .transform(lazy_barrier)  # feeds the cutoff AND the tau sum
    )
    # all-positive default = the series' own max AVAILABLE lag + 1
    # (not the global max): a 10-day series has only lags 1..9, and
    # k_used must report how many terms were actually summed
    cut = rho.groupBy("event_type").agg(
        F.coalesce(
            F.min(F.when(F.col("r") <= 0, F.col("lag"))),
            F.max("lag") + 1,
        ).alias("first_nonpos")
    )
    tau = (
        rho.join(cut, "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("lag") < F.col("first_nonpos"), F.col("r")
                ).otherwise(0.0)
            ).alias("sum_rho"),
            (F.max("first_nonpos") - 1).alias("k_used"),
        )
    )
    return (
        tau.join(ss, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            "k_used",
            r4(F.col("sum_rho")).alias("sum_rho"),
            r4(F.col("n") / (1.0 + 2.0 * F.col("sum_rho"))).alias("ess"),
            r4(1.0 / (1.0 + 2.0 * F.col("sum_rho"))).alias("ess_ratio"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# T52 — SAX symbolization + motif counts per event series
# ---------------------------------------------------------------------------

_T52_SEG = 7    # PAA segment length (days) — weekly granule
# breakpoints for a 4-letter alphabet under N(0,1): quartiles
_T52_BP = (-0.6745, 0.0, 0.6745)


@register(
    "t52_sax_motifs",
    f"""
    WITH {_dense_daily_ctes()},
    stats AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(CAST(x AS DOUBLE)) AS s1,
               SUM(CAST(x AS DOUBLE) * CAST(x AS DOUBLE)) AS s2
        FROM dense GROUP BY 1 HAVING COUNT(*) >= {2 * _T52_SEG}
    ),
    z AS (
        SELECT d.event_type, d.t // {_T52_SEG} AS seg,
               (CAST(d.x AS DOUBLE) - s.s1 / s.n)
               / SQRT((s.n * s.s2 - s.s1 * s.s1) / (s.n * (s.n - 1.0)))
                   AS z
        FROM dense d JOIN stats s ON d.event_type = s.event_type
        WHERE s.n * s.s2 - s.s1 * s.s1 > 0
          AND d.t < (s.n // {_T52_SEG}) * {_T52_SEG}
    ),
    paa AS (
        SELECT event_type, seg, AVG(z) AS zbar FROM z GROUP BY 1, 2
    ),
    lett AS (
        SELECT event_type, seg,
               CASE WHEN zbar < {_T52_BP[0]} THEN 'a'
                    WHEN zbar < {_T52_BP[1]} THEN 'b'
                    WHEN zbar < {_T52_BP[2]} THEN 'c'
                    ELSE 'd' END AS l
        FROM paa
    ),
    words AS (
        SELECT event_type,
               l || LEAD(l, 1) OVER win || LEAD(l, 2) OVER win AS motif
        FROM lett WINDOW win AS (PARTITION BY event_type ORDER BY seg)
    )
    SELECT event_type, motif, CAST(COUNT(*) AS BIGINT) AS n
    FROM words WHERE motif IS NOT NULL
    GROUP BY 1, 2
    ORDER BY event_type, motif
    """,
    doc="T52 (EXT timeseries) — SAX symbolization: each daily series "
    "z-normalized, PAA-compressed into weekly segment means, mapped "
    f"to a 4-letter alphabet at the N(0,1) quartile breakpoints "
    "(Lin/Keogh SAX — equiprobable letters for Gaussian-ish series), "
    "then counted as sliding 3-letter MOTIFS — the symbolic index "
    "that makes subsequence matching, motif discovery and anomaly "
    "grammars cheap where t42's DTW is per-pair-quadratic: repeated "
    "'dba' motifs = recurring spike-crash weeks, a motif seen once "
    "is a candidate discord. Exactness: z-scores derive from exact "
    "integer daily counts (one fixed formula both engines evaluate "
    "identically), letters are threshold CASEs on those identical "
    "doubles, truncation to whole segments is integer arithmetic. "
    "Shape: the t39/t45 dense-grid substrate, one series-keyed PAA "
    "hash-agg, one lead window over segment rows (calendar-bounded), "
    "one motif hash-agg.",
    tags=("ext", "timeseries", "similarity"),
    late=True,
)
def t52_sax_motifs(spark: SparkSession, sf_dir: str) -> DataFrame:
    dense = _dense_daily(spark, sf_dir).select(
        "event_type", "t", F.col("x").cast("double").alias("x")
    )
    stats = (
        dense.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("x").alias("s1"),
            F.sum(F.col("x") * F.col("x")).alias("s2"),
        )
        .filter(F.col("n") >= 2 * _T52_SEG)
    )
    nn, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    var_num = nn * s2 - s1 * s1
    z = (
        dense.join(F.broadcast(stats), "event_type")
        .filter(
            (var_num > 0)
            & (
                F.col("t")
                < F.floor(nn / _T52_SEG) * _T52_SEG
            )
        )
        .select(
            "event_type",
            F.floor(F.col("t") / _T52_SEG).alias("seg"),
            (
                (F.col("x") - s1 / nn)
                / F.sqrt(var_num / (nn * (nn - 1.0)))
            ).alias("z"),
        )
    )
    paa = z.groupBy("event_type", "seg").agg(F.avg("z").alias("zbar"))
    lett = paa.select(
        "event_type",
        "seg",
        F.when(F.col("zbar") < _T52_BP[0], "a")
        .when(F.col("zbar") < _T52_BP[1], "b")
        .when(F.col("zbar") < _T52_BP[2], "c")
        .otherwise("d")
        .alias("l"),
    )
    w = Window.partitionBy("event_type").orderBy("seg")
    words = lett.select(
        "event_type",
        F.concat(
            F.col("l"), F.lead("l", 1).over(w), F.lead("l", 2).over(w)
        ).alias("motif"),
    ).filter(F.col("motif").isNotNull())
    return (
        words.groupBy("event_type", "motif")
        .agg(F.count("*").alias("n"))
        .orderBy("event_type", "motif")
    )


# ---------------------------------------------------------------------------
# T54 — inter-arrival renewal statistics per event series
# ---------------------------------------------------------------------------

_T54_MIN_GAPS = 30


@register(
    "t54_interarrival_stats",
    f"""
    WITH arr AS (
        SELECT event_type, ts,
               LAG(ts) OVER (
                   PARTITION BY event_type ORDER BY ts, event_id
               ) AS prev_ts
        FROM events
    ),
    gaps AS (
        SELECT event_type,
               CAST(DATEDIFF('second', prev_ts, ts) AS DOUBLE) AS g
        FROM arr WHERE prev_ts IS NOT NULL
    ),
    s AS (
        SELECT event_type, COUNT(*) AS n,
               SUM(g) AS s1, SUM(g * g) AS s2,
               SUM(CASE WHEN g = 0 THEN 1 ELSE 0 END) AS n_zero
        FROM gaps GROUP BY 1 HAVING COUNT(*) >= {_T54_MIN_GAPS}
    )
    SELECT event_type, CAST(n AS BIGINT) AS n_gaps,
           CAST(n_zero AS BIGINT) AS n_simultaneous,
           {{M}} AS mean_gap_s,
           {{CV}} AS cv,
           ({{CV}} > 1.5) AS bursty,
           ({{CV}} < 0.5) AS regular
    FROM s
    WHERE n * s2 - s1 * s1 >= 0 AND s1 > 0
    ORDER BY event_type
    """.replace("{M}", r4sql("s1 / n"))
        .replace(
            "{CV}",
            r4sql(
                "SQRT((n * s2 - s1 * s1) / (n * (n - 1.0))) / (s1 / n)"
            ),
        ),
    doc="T54 (EXT timeseries) — INTER-ARRIVAL renewal statistics per "
    "event stream: mean gap and the coefficient of variation of gaps "
    "— the one-number process-regime classifier (CV ≈ 1 ⇒ "
    "memoryless/Poisson, the t45 NB-fit's null; CV >> 1 ⇒ BURSTY "
    "arrivals, where rate-based alerting (t34) false-fires and "
    "Poisson CIs are garbage; CV << 1 ⇒ scheduled/regular traffic, "
    "likely a bot or a cron). n_simultaneous counts zero gaps "
    "(same-timestamp arrivals — the tie class j13/t53 handle "
    "explicitly). Deterministic: arrivals totally ordered by (ts, "
    "event_id); gap moments are sums of identical per-row doubles, "
    "r4 at the end; the CV > / < flags read the r4-canonical value "
    "so both engines classify identically. Shape: one series-keyed "
    "lag window (series fan out), one hash-agg — catalog-bounded "
    "output.",
    tags=("ext", "timeseries", "stats"),
    late=True,
)
def t54_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = tables.load(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    gaps = (
        ev.select(
            "event_type",
            "ts",
            F.lag("ts").over(w).alias("prev_ts"),
        )
        .filter(F.col("prev_ts").isNotNull())
        .select(
            "event_type",
            (
                F.col("ts").cast("long") - F.col("prev_ts").cast("long")
            ).cast("double").alias("g"),
        )
    )
    s = (
        gaps.groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("g").alias("s1"),
            F.sum(F.col("g") * F.col("g")).alias("s2"),
            F.sum(F.when(F.col("g") == 0, 1).otherwise(0)).alias("n_zero"),
        )
        .filter(F.col("n") >= _T54_MIN_GAPS)
    )
    n, s1, s2 = F.col("n"), F.col("s1"), F.col("s2")
    cv = r4(F.sqrt((n * s2 - s1 * s1) / (n * (n - 1.0))) / (s1 / n))
    return (
        s.filter((n * s2 - s1 * s1 >= 0) & (s1 > 0))
        .select(
            "event_type",
            n.cast("bigint").alias("n_gaps"),
            F.col("n_zero").cast("bigint").alias("n_simultaneous"),
            r4(s1 / n).alias("mean_gap_s"),
            cv.alias("cv"),
            (cv > 1.5).alias("bursty"),
            (cv < 0.5).alias("regular"),
        )
        .orderBy("event_type")
    )
