"""End-to-end medallion pipeline test: synthetic realm dumps →
bronze → silver → gold (prices + churn)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from server_spark.plans import medallion as med
from server_spark.schemas import AUCTION


def _dumps(spark):
    """Two realms × two snapshots; realm r1 has overlapping auc sets
    across snapshots (churn), realm r2 one snapshot only."""
    t0 = dt.datetime(2024, 1, 1, 10)
    t1 = dt.datetime(2024, 1, 1, 11)
    rows = [
        # auc, item, owner, realm, bid, buyout, qty, tl, region, slug, ts
        (1, 100, "a", "r1", 9, 100, 1, "LONG", "eu", "r1", t0),
        (2, 100, "a", "r1", 9, 100, 1, "LONG", "eu", "r1", t0),
        (3, 200, "b", "r1", 9, 600, 2, "LONG", "eu", "r1", t0),
        # snapshot t1: auc 1 persists, 2/3 removed, 4 new
        (1, 100, "a", "r1", 9, 100, 1, "LONG", "eu", "r1", t1),
        (4, 200, "b", "r1", 9, 900, 3, "LONG", "eu", "r1", t1),
        # other realm
        (10, 100, "c", "r2", 9, 500, 5, "SHORT", "us", "r2", t0),
        # zero-buyout excluded from gold stats
        (11, 300, "c", "r2", 9, 0, 1, "SHORT", "us", "r2", t0),
    ]
    return spark.createDataFrame(rows, AUCTION)


@pytest.fixture(scope="module")
def pipeline(spark, tmp_path_factory):
    paths = med.MedallionPaths(str(tmp_path_factory.mktemp("medallion")))
    med.ingest_bronze(spark, _dumps(spark), paths)
    med.build_silver(spark, paths)
    med.build_gold_prices(spark, paths)
    med.build_gold_churn(spark, paths)
    return paths


def test_bronze_partition_layout(spark, pipeline):
    bronze = spark.read.parquet(pipeline.bronze)
    assert bronze.count() == 7
    # partition columns survive and prune
    one = bronze.filter(
        (F.col("region") == "eu") & (F.col("realm_slug") == "r1")
    )
    assert one.count() == 5


def test_silver_collapse(spark, pipeline):
    silver = spark.read.parquet(pipeline.silver)
    key = silver.filter(
        (F.col("item") == 100)
        & (F.col("dump_ts") == dt.datetime(2024, 1, 1, 10))
        & (F.col("region") == "eu")
    ).collect()
    assert len(key) == 1 and key[0]["auc_list"] == [1, 2] and key[0]["auc_count"] == 2


def test_gold_prices(spark, pipeline):
    gold = spark.read.parquet(pipeline.gold_prices)
    r2 = {r["item"]: r for r in gold.filter(F.col("realm_slug") == "r2").collect()}
    assert set(r2) == {100}  # zero-buyout item 300 excluded
    assert r2[100]["volume"] == 5
    assert r2[100]["median_buyout_per"] == 100.0


def test_gold_churn(spark, pipeline):
    churn = spark.read.parquet(pipeline.gold_churn)
    rows = churn.collect()
    # only realm r1 has a consecutive snapshot pair
    assert len(rows) == 1
    r = rows[0]
    assert (r["n_new"], r["n_removed"], r["n_persisting"]) == (1, 2, 1)


def test_idempotent_rerun(spark, pipeline):
    """Re-running silver must not duplicate data (dynamic partition
    overwrite replaces, never appends)."""
    before = spark.read.parquet(pipeline.silver).count()
    med.build_silver(spark, pipeline)
    after = spark.read.parquet(pipeline.silver).count()
    assert before == after


def test_compaction_rewrites_fragmented_partitions(spark, tmp_path):
    """Many small appended files per partition collapse to a few
    target-sized files with identical data; already-compact partitions
    are untouched."""
    from pyspark.sql import functions as F

    from server_spark.plans.maintenance import (
        compact_partitions,
        partition_file_stats,
    )

    root = str(tmp_path / "frag")
    base = spark.range(2000).select(
        (F.col("id") % 2).alias("region"), F.col("id").alias("v")
    )
    # 10 appends × 3 files each → ~30 small files per partition
    for _ in range(10):
        base.repartition(3).write.mode("append").partitionBy("region").parquet(root)

    before = partition_file_stats(root)
    assert all(n >= 10 for n, _ in before.values())
    checksum = spark.read.parquet(root).agg(F.sum("v")).collect()[0][0]

    n = compact_partitions(spark, root, target_bytes=1 << 30, min_files=4)
    assert n == 2  # both region partitions rewritten
    after = partition_file_stats(root)
    assert all(n_files == 1 for n_files, _ in after.values())
    assert spark.read.parquet(root).agg(F.sum("v")).collect()[0][0] == checksum
    # idempotent: nothing left to compact
    assert compact_partitions(spark, root, target_bytes=1 << 30, min_files=4) == 0


def test_schema_evolution_new_dump_column(spark, tmp_path):
    """A later dump carrying a NEW column appends cleanly; the bronze
    scan surfaces the union schema (nulls for pre-existing files) and
    silver still builds."""
    root = str(tmp_path / "evo")
    paths = med.MedallionPaths(root)

    t0 = dt.datetime(2024, 2, 1, 10)
    old = spark.createDataFrame(
        [(1, 100, "a", "r1", 9, 100, 1, "LONG", "eu", "r1", t0)], AUCTION
    )
    assert med.ingest_bronze_incremental(spark, old, paths) == 1

    # the API grew a column (e.g. battle-pet breed id on pet auctions)
    t1 = dt.datetime(2024, 2, 1, 11)
    from pyspark.sql import types as T

    # copy — StructType.add mutates the shared schema in place
    evolved = T.StructType(
        [*AUCTION.fields, T.StructField("pet_breed_id", T.LongType())]
    )
    new = spark.createDataFrame(
        [(2, 100, "a", "r1", 9, 150, 1, "LONG", "eu", "r1", t1, 55)], evolved
    )
    assert med.ingest_bronze_incremental(spark, new, paths) == 1

    bronze = med.read_bronze(spark, paths)
    assert "pet_breed_id" in bronze.columns
    by_auc = {r["auc"]: r for r in bronze.collect()}
    assert by_auc[1]["pet_breed_id"] is None
    assert by_auc[2]["pet_breed_id"] == 55

    med.build_silver(spark, paths)
    silver = spark.read.parquet(paths.silver)
    assert silver.count() == 2


def test_compaction_heals_interrupted_swap(spark, tmp_path):
    """Crash recovery: stale dot-prefixed scratch dirs from an
    interrupted run are resolved on entry — a leftover tmp is
    discarded, a leftover old with no live partition is restored —
    and Spark never lists scratch contents as data."""
    import os
    import shutil

    from pyspark.sql import functions as F

    from server_spark.plans.maintenance import (
        _OLD_PREFIX,
        _TMP_PREFIX,
        compact_partitions,
    )

    root = str(tmp_path / "frag")
    base = spark.range(1000).select(
        (F.col("id") % 2).alias("region"), F.col("id").alias("v")
    )
    for _ in range(5):
        base.repartition(2).write.mode("append").partitionBy("region").parquet(root)
    checksum = spark.read.parquet(root).agg(F.sum("v")).collect()[0][0]

    part0 = os.path.join(root, "region=0")
    # crash point A: tmp written, swap not started → tmp must be
    # discarded; live partition untouched
    shutil.copytree(part0, os.path.join(root, _TMP_PREFIX + "region=0"))
    # crash point B: first rename done (partition moved to old),
    # second rename never happened → old must be restored
    part1 = os.path.join(root, "region=1")
    os.rename(part1, os.path.join(root, _OLD_PREFIX + "region=1"))

    # scratch dirs are invisible to the reader (dot-prefixed), so the
    # crashed state reads as "partition 1 missing", never as dupes
    visible = spark.read.parquet(root).agg(F.sum("v")).collect()[0][0]
    assert visible < checksum

    compact_partitions(spark, root, target_bytes=1 << 30, min_files=4)
    assert not any(
        d.startswith((_TMP_PREFIX, _OLD_PREFIX)) for d in os.listdir(root)
    )
    assert spark.read.parquet(root).agg(F.sum("v")).collect()[0][0] == checksum


def test_compact_small_files(spark, tmp_path):
    """Compaction merges many tiny per-batch files into few, leaves
    healthy partitions alone, and never changes the data."""
    import os

    from server_spark.plans.medallion import compact_small_files

    tdir = str(tmp_path / "gold")
    df = spark.range(0, 2000).withColumn(
        "part", (F.col("id") % 2).cast("string")
    )
    # simulate 10 micro-batch appends -> 10+ small files per partition
    for i in range(10):
        df.filter(F.col("id") % 10 == i).write.mode("append").partitionBy(
            "part"
        ).parquet(tdir)
    before = {
        d: len([f for f in os.listdir(os.path.join(tdir, d)) if f.endswith(".parquet")])
        for d in os.listdir(tdir)
        if d.startswith("part=")
    }
    assert all(n >= 10 for n in before.values())
    want = sorted(r["id"] for r in spark.read.parquet(tdir).collect())

    stats = compact_small_files(spark, tdir, target_bytes=64 * 1024 * 1024)
    assert stats["compacted_partitions"] == 2
    after = {
        d: len([f for f in os.listdir(os.path.join(tdir, d)) if f.endswith(".parquet")])
        for d in os.listdir(tdir)
        if d.startswith("part=")
    }
    assert all(n == 1 for n in after.values()), after
    got = sorted(r["id"] for r in spark.read.parquet(tdir).collect())
    assert got == want
    # second run is a no-op
    stats2 = compact_small_files(spark, tdir, target_bytes=64 * 1024 * 1024)
    assert stats2["compacted_partitions"] == 0


def test_zorder_layout_prunes_both_dimensions(spark, tmp_path):
    """Z-order vs linear sort on lineitem(l_orderkey, l_partkey) —
    two UNcorrelated keys (l_suppkey is partkey-correlated in TPC-H
    and would collapse the Z-space onto diagonals): the Z-layout must
    let footer-stats pruning skip files for a range predicate on
    EITHER dimension, while a linear sort only prunes its own sort
    column and reads every file for the other. Bounds reflect the
    honest Z tradeoff at 32 files (x split one level finer than y
    under bit interleaving, plus sampled range-boundary straddle)."""
    from server_spark.plans import layout

    li = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet").select(
        "l_orderkey", "l_partkey", "l_quantity"
    )
    n_files = 32
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "linear")
    layout.write_zordered(li, zpath, "l_orderkey", "l_partkey", n_files)
    (
        li.repartitionByRange(n_files, "l_orderkey")
        .sortWithinPartitions("l_orderkey")
        .write.parquet(lpath)
    )

    ze = layout.file_envelopes(zpath, "l_orderkey", "l_partkey")
    le = layout.file_envelopes(lpath, "l_orderkey", "l_partkey")
    assert len(ze) == n_files and len(le) == n_files

    # 10%-wide range predicate on each dimension separately
    xmax = max(e["x_max"] for e in ze)
    ymax = max(e["y_max"] for e in ze)
    x_rng = (0.45 * xmax, 0.55 * xmax)
    y_rng = (0.45 * ymax, 0.55 * ymax)

    # linear layout: near-perfect on its sort column, reads ALL files
    # for the other dimension
    assert layout.files_surviving(le, x_range=x_rng) <= 6
    assert layout.files_surviving(le, y_range=y_rng) == n_files
    # z-order: prunes on BOTH single dimensions. Measured 8-13 (x) and
    # 19-21 (y) of 32 across sessions — repartitionByRange samples its
    # boundaries, and the sample shifts with session parallelism, so
    # the bounds are structural margins, not exact counts: half the
    # files on the finer-split dimension, strictly-better-than-
    # read-everything on the coarser one.
    z_x = layout.files_surviving(ze, x_range=x_rng)
    z_y = layout.files_surviving(ze, y_range=y_rng)
    assert z_x <= n_files // 2, z_x
    assert z_y <= n_files - 6, z_y
    # and the conjunction prunes hardest (measured 5-7 of 32)
    z_both = layout.files_surviving(ze, x_range=x_rng, y_range=y_rng)
    assert z_both <= min(z_x, z_y) and z_both <= 12, z_both
    # layout must not change the data
    assert spark.read.parquet(zpath).count() == li.count()


def test_bronze_time_travel_asof(spark, tmp_path):
    """Manifest batch versioning: each incremental ingest commits one
    batch_id; read_bronze_asof(v) reproduces the exact table state
    after batch v, re-delivery doesn't mint a version, and new
    versions never change an old snapshot."""
    import datetime as dt

    from server_spark.plans import medallion as med

    paths = med.MedallionPaths(str(tmp_path / "lake"))
    t0 = dt.datetime(2024, 1, 1, 10, 0)

    def dump(ts, aucs):
        return spark.createDataFrame(
            [("eu", "r1", ts, a, 100, 500, 1) for a in aucs],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long",
        )

    d1 = dump(t0, [1, 2])
    d2 = dump(t0 + dt.timedelta(hours=1), [3])
    assert med.ingest_bronze_incremental(spark, d1, paths) == 1
    assert med.ingest_bronze_incremental(spark, d1, paths) == 0  # redelivery
    assert med.ingest_bronze_incremental(spark, d2, paths) == 1
    assert med.manifest_versions(spark, paths) == [1, 2]

    v1 = med.read_bronze_asof(spark, paths, 1)
    v2 = med.read_bronze_asof(spark, paths, 2)
    assert sorted(r["auc"] for r in v1.collect()) == [1, 2]
    assert sorted(r["auc"] for r in v2.collect()) == [1, 2, 3]
    # current read == latest version
    assert med.read_bronze(spark, paths).count() == v2.count()


def test_incremental_view_maintenance(spark, tmp_path):
    """Manifest-scoped refresh: after a second batch lands on a NEW
    date, incremental silver+gold rebuild ONLY the affected partition
    — untouched partitions keep their exact files — and the result
    equals a full rebuild."""
    import datetime as dt
    import os

    from server_spark.plans import medallion as med

    paths = med.MedallionPaths(str(tmp_path / "lake"))

    def dump(ts, aucs, buyout=100):
        return spark.createDataFrame(
            [
                (a, 100, "o", "r1", 9, buyout, 1, "LONG", "eu", "r1", ts)
                for a in aucs
            ],
            AUCTION,
        )

    t1 = dt.datetime(2024, 1, 1, 10)
    t2 = dt.datetime(2024, 1, 2, 10)
    assert med.ingest_bronze_incremental(spark, dump(t1, [1, 2]), paths) == 1
    med.build_silver(spark, paths)
    med.build_gold_prices(spark, paths)

    def part_files(root, date):
        d = os.path.join(
            root, "region=eu", "realm_slug=r1", f"dump_date={date}"
        )
        return sorted(
            (f, os.path.getmtime(os.path.join(d, f)))
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )

    day1_silver = part_files(paths.silver, "2024-01-01")
    day1_gold = part_files(paths.gold_prices, "2024-01-01")

    # batch 2 lands on a new date; refresh since version 1
    assert med.ingest_bronze_incremental(spark, dump(t2, [3], 250), paths) == 1
    assert med.build_silver_incremental(spark, paths, since_version=1) == 1
    assert med.build_gold_prices_incremental(spark, paths, since_version=1) == 1

    # day-1 partitions: byte-for-byte the same files
    assert part_files(paths.silver, "2024-01-01") == day1_silver
    assert part_files(paths.gold_prices, "2024-01-01") == day1_gold

    # and the incremental result equals a full rebuild
    inc_gold = {
        (r["dump_date"], r["item"]): r["median_buyout_per"]
        for r in spark.read.parquet(paths.gold_prices).collect()
    }
    med.build_silver(spark, paths)
    med.build_gold_prices(spark, paths)
    full_gold = {
        (r["dump_date"], r["item"]): r["median_buyout_per"]
        for r in spark.read.parquet(paths.gold_prices).collect()
    }
    assert inc_gold == full_gold
    assert len(inc_gold) == 2

    # nothing new → no-op
    assert med.build_silver_incremental(spark, paths, since_version=2) == 0


def test_streaming_intake_feeds_incremental_maintenance(spark, tmp_path):
    """The continuous-medallion loop end to end: files land → the
    streaming manifest-gated intake commits them as manifest versions
    → incremental silver/gold refresh exactly the affected partitions
    → the result equals a full batch rebuild. This is the composed
    contract of T1 intake + the manifest commit log + incremental
    view maintenance."""
    import datetime as dt
    import os

    from server_spark.plans import medallion as med
    from server_spark.streaming import pipeline as sp_mod

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    paths = med.MedallionPaths(str(tmp_path / "lake"))
    os.makedirs(input_dir, exist_ok=True)

    def land(name, ts, rows):
        data = [
            (auc, item, "o", "r1", 9, buyout, qty, "LONG", "eu", "r1", ts)
            for auc, item, buyout, qty in rows
        ]
        spark.createDataFrame(data, AUCTION).coalesce(1).write.mode(
            "append"
        ).parquet(input_dir)

    t1 = dt.datetime(2024, 1, 1, 10)
    land("d0", t1, [(1, 100, 100, 1), (2, 100, 300, 1)])
    sp_mod.stream_ingest_with_manifest(
        spark, input_dir, paths, ckpt
    ).awaitTermination()
    assert med.manifest_versions(spark, paths) == [1]
    med.build_silver(spark, paths)
    med.build_gold_prices(spark, paths)

    # day 2 lands through the SAME stream; refresh incrementally
    t2 = dt.datetime(2024, 1, 2, 10)
    land("d1", t2, [(3, 100, 500, 1)])
    sp_mod.stream_ingest_with_manifest(
        spark, input_dir, paths, ckpt
    ).awaitTermination()
    assert med.manifest_versions(spark, paths) == [1, 2]
    assert med.build_silver_incremental(spark, paths, since_version=1) == 1
    assert med.build_gold_prices_incremental(spark, paths, since_version=1) == 1

    inc = {
        (r["dump_date"], r["item"]): (r["volume"], r["median_buyout_per"])
        for r in spark.read.parquet(paths.gold_prices).collect()
    }
    med.build_silver(spark, paths)
    med.build_gold_prices(spark, paths)
    full = {
        (r["dump_date"], r["item"]): (r["volume"], r["median_buyout_per"])
        for r in spark.read.parquet(paths.gold_prices).collect()
    }
    assert inc == full and len(inc) == 2


def test_crash_between_bronze_and_manifest_is_recoverable(spark, tmp_path):
    """Regression (r5 advice): bronze is appended before the manifest
    commit. Simulate a crash in that window — bronze holds a dump's
    rows but the manifest never recorded it — then retry the ingest.
    The retry must NOT double the bronze rows, and must complete the
    interrupted commit (manifest gains the key)."""
    import datetime as dt

    from server_spark.plans import medallion as med

    paths = med.MedallionPaths(str(tmp_path / "lake"))
    t0 = dt.datetime(2024, 1, 1, 10, 0)

    def dump(ts, aucs):
        return spark.createDataFrame(
            [("eu", "r1", ts, a, 100, 500, 1) for a in aucs],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long",
        )

    d1 = dump(t0, [1, 2])
    # simulate the crash: bronze append happened, manifest write didn't
    (
        d1.withColumn("dump_date", F.to_date("dump_ts"))
        .write.mode("append")
        .partitionBy("region", "realm_slug", "dump_date")
        .parquet(paths.bronze)
    )
    assert med.load_manifest(spark, paths).count() == 0  # crash state

    # retry the same dump through the normal path
    assert med.ingest_bronze_incremental(spark, d1, paths) == 1
    bronze = spark.read.parquet(paths.bronze)
    assert bronze.count() == 2, "orphaned rows must not be re-appended"
    assert med.load_manifest(spark, paths).count() == 1

    # a THIRD delivery is now a plain redelivery: fully skipped
    assert med.ingest_bronze_incremental(spark, d1, paths) == 0
    assert spark.read.parquet(paths.bronze).count() == 2

    # and a genuinely new dump on the same date still lands once
    d2 = dump(t0 + dt.timedelta(hours=1), [3])
    assert med.ingest_bronze_incremental(spark, d2, paths) == 1
    assert spark.read.parquet(paths.bronze).count() == 3


def test_mixed_orphan_delivery_appends_only_the_new_key(spark, tmp_path):
    """One delivery carrying a crash-window orphan (in bronze, missing
    from the manifest) and a genuinely new dump: only the new dump's
    rows are appended, both keys are committed under one batch_id, and
    the call counts both."""
    paths = med.MedallionPaths(str(tmp_path / "lake"))
    t0 = dt.datetime(2024, 1, 1, 10)
    t1 = t0 + dt.timedelta(hours=1)

    def dump(ts, aucs):
        return spark.createDataFrame(
            [(a, 100, "o", "r1", 9, 500, 1, "LONG", "eu", "r1", ts)
             for a in aucs],
            AUCTION,
        )

    # the crash state: t0's rows reached bronze, its manifest row didn't
    (
        dump(t0, [1, 2]).withColumn("dump_date", F.to_date("dump_ts"))
        .write.mode("append")
        .partitionBy("region", "realm_slug", "dump_date")
        .parquet(paths.bronze)
    )
    assert med.ingest_bronze_incremental(
        spark, dump(t0, [1, 2]).unionByName(dump(t1, [3, 4, 5])), paths
    ) == 2
    bronze = spark.read.parquet(paths.bronze)
    per_dump = {
        r["dump_ts"]: r["count"] for r in bronze.groupBy("dump_ts").count().collect()
    }
    assert per_dump == {t0: 2, t1: 3}
    manifest = med.load_manifest(spark, paths).collect()
    assert sorted((r["dump_ts"], r["n_rows"]) for r in manifest) == [
        (t0, 2), (t1, 3)
    ]
    assert {r["batch_id"] for r in manifest} == {1}


def test_delivery_job_budget(spark, tmp_path):
    """Spark jobs per medallion phase for one dump landing on an
    existing tree and for its re-delivery (ingest, then silver and gold
    refreshed since the previous version). Each refresh collects its
    scope once and prunes the scan on it; ingest collects the
    delivery's new keys once. A phase that re-derives what it already
    collected shows up here as extra jobs."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    paths = med.MedallionPaths(str(tmp_path / "lake"))
    t0 = dt.datetime(2024, 1, 1, 10)

    def dump(ts, seed):
        return spark.createDataFrame(
            [(seed * 1000 + i, i % 20, f"o{i % 7}", "r1", 9,
              100 + (i % 13) * 10, 1 + i % 3, "LONG", "eu", "r1", ts)
             for i in range(200)],
            AUCTION,
        )

    def deliver(label, raw, since):
        counts = {}
        try:
            for phase, run in (
                ("ingest", lambda: med.ingest_bronze_incremental(spark, raw, paths)),
                ("silver", lambda: med.build_silver_incremental(spark, paths, since)),
                ("gold", lambda: med.build_gold_prices_incremental(spark, paths, since)),
            ):
                group = f"test_medallion.budget.{label}.{phase}"
                sc.setJobGroup(group, group)
                run()
                counts[phase] = len(tracker.getJobIdsForGroup(group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return counts

    deliver("first", dump(t0, 1), 0)
    later = dump(t0 + dt.timedelta(hours=1), 2)
    assert deliver("fresh", later, 1) == {"ingest": 8, "silver": 5, "gold": 5}
    # the ingest's last job is the manifest append: one task, as the
    # new keys are one JVM-built partition, not a Python RDD
    append = max(tracker.getJobIdsForGroup("test_medallion.budget.fresh.ingest"))
    assert [
        tracker.getStageInfo(s).numTasks
        for s in tracker.getJobInfo(append).stageIds
    ] == [1]
    assert deliver("again", later, 2) == {"ingest": 2, "silver": 1, "gold": 1}


def test_mergeable_distinct_sketches(spark, sf_dir):
    """HLL sketch maintenance invariants: (1) the merged estimate is
    within HLL error of the exact distinct count; (2) incremental
    merge over arbitrary batch splits produces EXACTLY the same
    estimate as a one-shot build (associativity — the property that
    makes the refresh correct regardless of batch order)."""
    from pyspark.sql import functions as F

    from server_spark.queries import joins_sets as js
    from server_spark.sources.synthetic import auctions

    live = auctions(spark, sf_dir).withColumn("day", F.to_date("dump_ts"))

    # one-shot build per tier
    full = {
        r["time_left"]: r["distinct_est"]
        for r in js.estimate_distinct(
            js.distinct_sketches(live, ["time_left"], "owner"),
            ["time_left"],
        ).collect()
    }
    exact = {
        r["time_left"]: r["n"]
        for r in live.groupBy("time_left")
        .agg(F.countDistinct("owner").alias("n"))
        .collect()
    }
    assert set(full) == set(exact)
    for k in exact:
        assert abs(full[k] - exact[k]) / exact[k] < 0.05, (k, full[k], exact[k])

    # incremental: split by day parity into two "refresh batches",
    # sketch each independently, merge — estimates must be identical
    a = live.filter(F.dayofmonth("day") % 2 == 0)
    b = live.filter(F.dayofmonth("day") % 2 == 1)
    merged = (
        js.distinct_sketches(a, ["time_left"], "owner")
        .unionByName(js.distinct_sketches(b, ["time_left"], "owner"))
        .groupBy("time_left")
        .agg(F.hll_union_agg("sketch").alias("sketch"))
    )
    inc = {
        r["time_left"]: r["distinct_est"]
        for r in js.estimate_distinct(merged, ["time_left"]).collect()
    }
    assert inc == full


def test_medallion_paths_local_fs_only():
    """r12 advisor finding: every transactional mechanism under a
    medallion root is POSIX-rename semantics, and load_manifest's
    "never written" probe is os.walk — an object-store URI would
    always read "absent" and silently re-mint historical batch_ids.
    Reject such roots at construction; accept (and normalize)
    file:// and plain paths."""
    import pytest as _pytest

    from server_spark.plans import medallion as med

    for bad in ("s3://bucket/lake", "hdfs://nn/lake", "gs://bucket/lake",
                "s3a://bucket/lake"):
        with _pytest.raises(ValueError, match="local-FS only"):
            med.MedallionPaths(bad)
    assert med.MedallionPaths("/tmp/lake").root == "/tmp/lake"
    assert med.MedallionPaths("file:///tmp/lake").root == "/tmp/lake"
    # windows-style drive letters and relative paths are not schemes
    assert med.MedallionPaths("lake").root == "lake"


def test_medallion_paths_single_slash_uri_forms():
    """r12 review finding: Spark itself prints local paths as
    'file:/tmp/lake' (single slash). That form previously slipped
    through the scheme guard unnormalized, so the os.* transaction
    state landed in a literal './file:/...' directory while Spark
    resolved the URI — split-brain. All URI spellings must either
    normalize (file) or reject (everything else), case-insensitively;
    remote-host file URIs are rejected too."""
    import pytest as _pytest

    from server_spark.plans import medallion as med

    assert med.MedallionPaths("file:/tmp/lake").root == "/tmp/lake"
    assert med.MedallionPaths("file:rel/lake").root == "rel/lake"
    assert med.MedallionPaths("file:///tmp/lake").root == "/tmp/lake"
    assert med.MedallionPaths("FILE:///tmp/lake").root == "/tmp/lake"
    for bad in ("s3:/bucket/lake", "S3://bucket/lake",
                "hdfs:/nn/lake", "gs:/bucket/lake",
                # RFC 3986 scheme:opaque — no slash at all (r12
                # second review pass)
                "s3:bucket/lake", "gs:bucket"):
        with _pytest.raises(ValueError, match="local-FS only"):
            med.MedallionPaths(bad)
    with _pytest.raises(ValueError, match="remote-host"):
        med.MedallionPaths("file://nfshost/export/lake")
    # drive-letter-style and relative paths stay plain paths
    assert med.MedallionPaths("C:/lake").root == "C:/lake"
    assert med.MedallionPaths("lake").root == "lake"


def test_claim_files_pruned_after_commit(spark, tmp_path):
    """r12 review finding: one claim file per batch forever means
    every mint pays a linear directory listing. After a successful
    manifest append, claims below the committed id are pruned; burned
    claims ABOVE it (a crashed writer that outran us) survive so
    their ids are never re-minted."""
    import os

    def dump(ts, aucs):
        return spark.createDataFrame(
            [("eu", "r1", ts, a, 100, 500, 1) for a in aucs],
            "region string, realm_slug string, dump_ts timestamp, "
            "auc long, item long, buyout long, quantity long",
        )

    t0 = dt.datetime(2024, 1, 1, 10)
    paths = med.MedallionPaths(str(tmp_path / "lake"))
    for k in range(3):
        assert med.ingest_bronze_incremental(
            spark, dump(t0 + dt.timedelta(hours=k), [k]), paths
        ) == 1
    claims = sorted(
        int(n) for n in os.listdir(med._claims_dir(paths)) if n.isdigit()
    )
    assert claims == [3], claims  # 1 and 2 pruned after commits

    # a crashed writer burned id 9 (claim, no append): kept by prune,
    # and the next mint jumps past it
    assert med._claim_batch_id(paths, 9)
    assert med.ingest_bronze_incremental(
        spark, dump(t0 + dt.timedelta(hours=5), [50]), paths
    ) == 1
    assert med.manifest_versions(spark, paths) == [1, 2, 3, 10]
    claims = sorted(
        int(n) for n in os.listdir(med._claims_dir(paths)) if n.isdigit()
    )
    assert claims == [10], claims
