"""Golden tests for join/time-series operators on hand-built frames."""

from __future__ import annotations

import datetime as dt

from pyspark.sql import functions as F

from server_spark.operators import joins, timeseries as ts_ops


def _ts(s: str) -> dt.datetime:
    return dt.datetime.fromisoformat(s)


def test_snapshot_churn_golden(spark):
    prev = spark.createDataFrame([(1,), (2,), (3,)], "id long")
    nxt = spark.createDataFrame([(2,), (3,), (4,)], "id long")
    got = {r["id"]: r["status"] for r in joins.snapshot_churn(prev, nxt, "id").collect()}
    assert got == {1: "removed", 2: "persisting", 3: "persisting", 4: "new"}


def test_asof_align_golden(spark):
    clicks = spark.createDataFrame(
        [
            (1, 10, _ts("2024-01-01T10:00:00")),
            (2, 10, _ts("2024-01-01T12:00:00")),
            (3, 20, _ts("2024-01-01T09:00:00")),  # before any purchase
        ],
        "event_id long, user_id long, ts timestamp",
    )
    purchases = spark.createDataFrame(
        [
            (10, _ts("2024-01-01T09:30:00"), 5.0),
            (10, _ts("2024-01-01T11:00:00"), 7.0),
            (20, _ts("2024-01-01T10:00:00"), 9.0),
        ],
        "user_id long, ts timestamp, value double",
    )
    got = {
        r["event_id"]: r["last_purchase_value"]
        for r in joins.asof_align(
            clicks, purchases, on="user_id", ts="ts", value="value", out="last_purchase_value"
        ).collect()
    }
    assert got == {1: 5.0, 2: 7.0, 3: None}


def test_sessionize_golden(spark):
    rows = [
        # user 1: two sessions (gap of 45 min between event 2 and 3)
        (1, 1, _ts("2024-01-01T10:00:00")),
        (2, 1, _ts("2024-01-01T10:10:00")),
        (3, 1, _ts("2024-01-01T10:55:00")),
        # user 2: one session
        (4, 2, _ts("2024-01-01T08:00:00")),
        # user 3: two sessions, the gap 500 ms past 30 min (a gap
        # truncated to whole seconds would read exactly 30 min)
        (5, 3, _ts("2024-01-01T09:00:00")),
        (6, 3, _ts("2024-01-01T09:30:00.500")),
    ]
    df = spark.createDataFrame(rows, "event_id long, user_id long, ts timestamp")
    out = ts_ops.sessionize(df, "user_id", "ts", gap_minutes=30).collect()
    by_user = {}
    for r in out:
        by_user.setdefault(r["user_id"], []).append(r["n_events"])
    assert sorted(by_user[1]) == [1, 2]
    assert by_user[2] == [1]
    assert by_user[3] == [1, 1]


def test_watermark_dedup_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "a", 5), (2, "a", 5), (3, "b", 7)],
        "event_id long, k string, v long",
    )
    out = ts_ops.watermark_dedup(
        df, keys=["k"], order=[F.col("event_id").asc()]
    ).collect()
    assert {r["event_id"] for r in out} == {1, 3}


def test_band_join_golden(spark):
    facts = spark.createDataFrame([(1, 5.0), (2, 15.0), (3, 50.0)], "id long, v double")
    bands = spark.createDataFrame(
        [("low", 0.0, 10.0), ("high", 10.0, 100.0)], "band string, lo double, hi double"
    )
    got = {r["id"]: r["band"] for r in joins.band_join(facts, bands, "v").collect()}
    assert got == {1: "low", 2: "high", 3: "high"}


def test_salted_join_matches_plain_join(spark):
    """Salting redistributes rows but must never change the result:
    compare against the plain join on a deliberately skewed key."""
    from server_spark.operators.joins import salted_join

    # 90% of left rows share key 1 (the monster key)
    left = spark.createDataFrame(
        [(1 if i % 10 else 2, i) for i in range(1000)], "k int, payload int"
    )
    right = spark.createDataFrame(
        [(1, "hot"), (2, "cold"), (3, "unmatched")], "k int, label string"
    )
    plain = {(r["k"], r["payload"], r["label"])
             for r in left.join(right, "k").collect()}
    salted = {(r["k"], r["payload"], r["label"])
              for r in salted_join(left, right, "k", n_salts=8).collect()}
    assert salted == plain
    # left join keeps unmatched left rows exactly once
    lplain = left.join(right, "k", "left")
    lsalted = salted_join(left, right, "k", n_salts=8, how="left")
    assert lsalted.count() == lplain.count() == 1000


def test_salted_join_tolerates_unhashable_columns(spark):
    """r12 advisor finding: the retry-stable salt hashes the row's
    columns, but xxhash64 raises AnalysisException on MapType — such
    columns must be excluded from the salt input (never from the
    result), and the join must still match the plain join exactly."""
    from pyspark.sql import functions as F

    from server_spark.operators.joins import salted_join

    left = spark.createDataFrame(
        [(1 if i % 10 else 2, i) for i in range(200)], "k int, payload int"
    ).withColumn("attrs", F.create_map(F.lit("i"), F.col("payload")))
    right = spark.createDataFrame(
        [(1, "hot"), (2, "cold")], "k int, label string"
    )
    plain = {(r["k"], r["payload"], r["label"])
             for r in left.join(right, "k").collect()}
    salted = {(r["k"], r["payload"], r["label"])
              for r in salted_join(left, right, "k", n_salts=8).collect()}
    assert salted == plain

    # degenerate case: EVERY payload column unhashable -> salt falls
    # back to the key alone (no spread, but correct and no crash)
    only_map = left.select("k", "attrs")
    got = salted_join(only_map, right, "k", n_salts=4)
    assert got.count() == only_map.join(right, "k").count()


def test_u7_bag_identity(spark, sf_dir):
    """Multiset algebra: |A ∖ B| + |A ∩ B| = |A| per group (EXCEPT ALL
    keeps surplus multiplicity, INTERSECT ALL the shared floor)."""
    from pyspark.sql import functions as F

    from server_spark import tables
    from server_spark.queries.joins_sets import DAY_A, u7_bag_setops

    rows = u7_bag_setops(spark, sf_dir).collect()
    by = {}
    for r in rows:
        by.setdefault(r["event_type"], {})[r["op"]] = r["n"]
    a_sizes = {
        r["event_type"]: r["n"]
        for r in tables.load(spark, sf_dir, "events")
        .filter(F.col("ts").cast("date") == DAY_A)
        .groupBy("event_type")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    assert by
    for et, ops_ in by.items():
        assert (
            ops_.get("except_all", 0) + ops_.get("intersect_all", 0)
            == a_sizes[et]
        ), et
