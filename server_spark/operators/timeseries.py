"""Time-series / window / streaming-shaped operators (SURVEY.md §2.5,
§2.9). The reference's history machinery is BoltDB buckets keyed by
unix ts (`app/pkg/database/database_pricelisthistories.go` [M]); here
a time series is just a long DataFrame and every history operation is
a window or bucketed aggregation.

Scale posture: bucketing uses `date_trunc` (pure projection — no
shuffle until the agg); per-entity windows partition by the entity key
so state never concentrates on one executor; retention is a partition-
prunable predicate, not a rewrite.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def bucket(df: DataFrame, ts: str, unit: str) -> Column:
    """W1/T3 — tumbling-window key via date_trunc (hour/day/...)."""
    return F.date_trunc(unit, F.col(ts))


def watermark_dedup(
    df: DataFrame, keys: list[str], order: list[Column]
) -> DataFrame:
    """T2 — keep exactly one row per key, chosen by a deterministic
    order (the batch form of the reference's lastModified-watermark
    skip). `row_number`=1, never `dropDuplicates` (whose survivor is
    partition-order dependent)."""
    w = Window.partitionBy(*keys).orderBy(*order)
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def session_ids(
    df: DataFrame,
    key: str,
    ts: str,
    gap_minutes: int,
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """T4 — gaps-and-islands session numbering: adds ``session_id``
    (bigint, from 1 per ``key``), which steps up at a key's first event
    and wherever the gap from the previous event exceeds
    ``gap_minutes``.

    Expressed with lag + cumulative sum (identical SQL exists for the
    DuckDB oracle); Spark's native ``session_window`` gives the same
    buckets but isn't oracle-expressible verbatim. Gaps are compared
    in whole microseconds (``unix_micros``), so a gap a fraction of a
    second past the limit still splits.

    ``tiebreak`` orders rows tied on ``ts`` deterministically; it is
    part of the API because a hardcoded 'event_id' fails at plan time
    on any schema without that column. Pass None only when (key, ts)
    is known unique.
    """
    order = [F.col(ts)] + ([F.col(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(key).orderBy(*order)
    micros = F.unix_micros(F.col(ts))
    gap = micros - F.lag(micros).over(w)
    new_session = F.when(
        gap.isNull() | (gap > gap_minutes * 60 * 1_000_000), F.lit(1)
    ).otherwise(F.lit(0))
    return df.withColumn(
        "session_id",
        F.sum(new_session)
        .over(w.rowsBetween(Window.unboundedPreceding, 0))
        .cast("long"),
    )


def sessionize(
    df: DataFrame,
    key: str,
    ts: str,
    gap_minutes: int,
    tiebreak: str | None = "event_id",
) -> DataFrame:
    """T4 — session windows: one row per (key, session_id) of
    ``session_ids`` with its first and last ``ts`` and event count."""
    sess = session_ids(df, key, ts, gap_minutes, tiebreak)
    return sess.groupBy(key, "session_id").agg(
        F.min(ts).alias("session_start"),
        F.max(ts).alias("session_end"),
        F.count("*").alias("n_events"),
    )


def km_curve(dur: DataFrame) -> DataFrame:
    """Kaplan–Meier estimator over a relation of spells.

    Input: one row per subject with ``t`` (integer duration) and
    ``ev`` (boolean: True = the event fired at t, False = censored at
    t). Output: one row per duration with at least one EVENT —
    ``t, n_risk, d, n_censored, survival`` where survival =
    Π_{tᵢ≤t} (1 − dᵢ/nᵢ) under the standard convention that subjects
    censored at t are still at-risk for events at t.

    Shape: one t-keyed hash-agg (the only input-sized pass), then an
    ordered window over the DISTINCT-duration relation — bounded by
    the observation span, not the subject count, so the single
    ordered window is a tiny-relation sort (the 100 TB posture; at
    full scale durations are bucketed to hours/days first, exactly
    what the t33 caller does). The everyone-dies tail (d == n_risk)
    is guarded to an exact survival of 0 — ANSI ``LN(0)`` would
    throw on the Spark side and return -inf on DuckDB.
    """
    from pyspark.sql import Window

    km0 = dur.groupBy("t").agg(
        F.sum(F.col("ev").cast("int")).cast("bigint").alias("d"),
        F.sum((~F.col("ev")).cast("int")).cast("bigint").alias(
            "n_censored"
        ),
    )
    total = dur.agg(F.count("*").alias("n_total"))
    wprev = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, -1
    )
    winc = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    km1 = (
        km0.crossJoin(F.broadcast(total))
        .withColumn(
            "n_risk",
            F.col("n_total")
            - F.coalesce(
                F.sum(F.col("d") + F.col("n_censored")).over(wprev),
                F.lit(0),
            ),
        )
        .drop("n_total")
    )
    factor = F.when(
        F.col("d") < F.col("n_risk"),
        F.log((F.col("n_risk") - F.col("d")) * 1.0 / F.col("n_risk")),
    ).otherwise(F.lit(0.0))
    km2 = km1.select(
        "t", "d", "n_censored", "n_risk",
        F.sum(factor).over(winc).alias("s_log"),
        F.max(
            (F.col("d") >= F.col("n_risk")).cast("int")
        ).over(winc).alias("hit_zero"),
    )
    return km2.filter(F.col("d") > 0).select(
        "t", "n_risk", "d", "n_censored",
        F.when(F.col("hit_zero") == 1, F.lit(0.0))
        .otherwise(F.exp(F.col("s_log")))
        .alias("survival"),
    )
