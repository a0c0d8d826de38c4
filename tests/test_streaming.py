"""Structured Streaming pipeline tests: file-source intake, watermark
dedup, tumbling aggregation, checkpoint resume, manifest-gated ingest,
RocksDB state store."""

from __future__ import annotations

import datetime as dt
import os

import pytest

from server_spark.schemas import AUCTION
from server_spark.streaming import pipeline as sp

# r15 (VERDICT r14 item 2): every test here spins REAL streaming
# queries with wall-clock trigger/watermark waits — 444 s of the
# 41-min full suite, the single biggest block past the already-marked
# gates. Streaming is untouched by query-plan work; the full suite
# (including this file) still runs at round close (`pytest -m ""`,
# recorded in SCALE.md).
pytestmark = pytest.mark.slow


def _dump(spark, ts, rows):
    data = [
        (auc, item, "o", "r1", 9, buyout, qty, "LONG", "eu", "r1", ts)
        for auc, item, buyout, qty in rows
    ]
    return spark.createDataFrame(data, AUCTION)


def _write_dump(spark, input_dir, name, ts, rows):
    _dump(spark, ts, rows).coalesce(1).write.mode("append").parquet(input_dir)


def test_streaming_intake_and_resume(spark, tmp_path):
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    t0 = dt.datetime(2024, 1, 1, 10, 30)
    _write_dump(spark, input_dir, "d0", t0, [(1, 100, 100, 1), (2, 100, 300, 1)])

    stream = sp.hourly_price_stream(
        sp.dedup_dumps(sp.read_auction_stream(spark, input_dir), late="0 seconds")
    )
    # run 1: watermark reaches 10:30 — the 10:00 window is still open,
    # so append mode emits nothing yet (correct watermark semantics)
    q = sp.run_to_parquet(stream, out_dir, ckpt)
    q.awaitTermination()

    def _read_out():
        try:
            return {r["bucket_ts"]: r for r in spark.read.parquet(out_dir).collect()}
        except Exception:  # noqa: BLE001 — no files yet
            return {}

    assert _read_out() == {}

    # run 2: a 12:15 snapshot lands; checkpoint resume processes ONLY
    # the new file, watermark passes 11:00 → the 10:00 bucket emits
    t1 = dt.datetime(2024, 1, 1, 12, 15)
    _write_dump(spark, input_dir, "d1", t1, [(3, 100, 500, 5)])
    q2 = sp.run_to_parquet(stream, out_dir, ckpt)
    q2.awaitTermination()

    rows = _read_out()
    assert list(rows) == [dt.datetime(2024, 1, 1, 10)]
    assert rows[dt.datetime(2024, 1, 1, 10)]["volume"] == 2

    # run 3: a later snapshot closes the 12:00 bucket; 10:00 bucket is
    # not re-emitted (exactly-once via checkpoint)
    t2 = dt.datetime(2024, 1, 1, 14, 5)
    _write_dump(spark, input_dir, "d2", t2, [(4, 100, 700, 7)])
    q3 = sp.run_to_parquet(stream, out_dir, ckpt)
    q3.awaitTermination()

    rows = _read_out()
    assert set(rows) == {dt.datetime(2024, 1, 1, 10), dt.datetime(2024, 1, 1, 12)}
    assert rows[dt.datetime(2024, 1, 1, 12)]["volume"] == 5


def test_stream_ingest_manifest_idempotent(spark, tmp_path):
    """foreachBatch + manifest intake: the stream lands dumps into
    bronze once; replaying the same files with a WIPED checkpoint (the
    checkpoint can no longer dedupe) still cannot double-land them —
    the manifest gate holds."""
    import shutil

    from server_spark.plans.medallion import MedallionPaths, load_manifest

    input_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ckpt")
    paths = MedallionPaths(str(tmp_path / "lake"))
    os.makedirs(input_dir, exist_ok=True)

    t0 = dt.datetime(2024, 1, 1, 10, 30)
    t1 = dt.datetime(2024, 1, 1, 11, 30)
    _write_dump(spark, input_dir, "d0", t0, [(1, 100, 100, 1), (2, 100, 300, 1)])
    _write_dump(spark, input_dir, "d1", t1, [(3, 200, 500, 2)])

    q = sp.stream_ingest_with_manifest(spark, input_dir, paths, ckpt)
    q.awaitTermination()
    assert spark.read.parquet(paths.bronze).count() == 3
    assert load_manifest(spark, paths).count() == 2  # two dump keys

    # checkpoint wiped → the file source replays EVERYTHING; bronze
    # must not grow
    shutil.rmtree(ckpt)
    q = sp.stream_ingest_with_manifest(spark, input_dir, paths, ckpt)
    q.awaitTermination()
    assert spark.read.parquet(paths.bronze).count() == 3
    assert load_manifest(spark, paths).count() == 2


def test_late_data_dropped_after_watermark(spark, tmp_path):
    """T6: an event stamped OLDER than the advanced watermark is
    dropped — the already-emitted window neither re-emits nor mutates
    (its state was evicted), and the late row opens no new window.
    This pins the late-data policy the pipeline docstring promises."""
    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    os.makedirs(input_dir, exist_ok=True)

    stream = sp.hourly_price_stream(
        sp.dedup_dumps(sp.read_auction_stream(spark, input_dir), late="0 seconds")
    )

    t0 = dt.datetime(2024, 1, 1, 10, 30)
    _write_dump(spark, input_dir, "d0", t0, [(1, 100, 100, 1)])
    sp.run_to_parquet(stream, out_dir, ckpt).awaitTermination()

    # advance the watermark to 12:15 → the 10:00 bucket closes and
    # emits with volume 1
    t1 = dt.datetime(2024, 1, 1, 12, 15)
    _write_dump(spark, input_dir, "d1", t1, [(2, 100, 500, 5)])
    sp.run_to_parquet(stream, out_dir, ckpt).awaitTermination()

    rows = {r["bucket_ts"]: r for r in spark.read.parquet(out_dir).collect()}
    assert list(rows) == [dt.datetime(2024, 1, 1, 10)]
    assert rows[dt.datetime(2024, 1, 1, 10)]["volume"] == 1

    # LATE arrival: stamped 10:45, far behind the 12:15 watermark —
    # its window already emitted, so the row must be discarded
    t_late = dt.datetime(2024, 1, 1, 10, 45)
    _write_dump(spark, input_dir, "d2", t_late, [(3, 100, 700, 7)])
    sp.run_to_parquet(stream, out_dir, ckpt).awaitTermination()

    rows = {r["bucket_ts"]: r for r in spark.read.parquet(out_dir).collect()}
    assert list(rows) == [dt.datetime(2024, 1, 1, 10)]
    assert rows[dt.datetime(2024, 1, 1, 10)]["volume"] == 1  # unchanged

    # sanity: on-time traffic still flows — a 14:05 dump closes the
    # 12:00 bucket with ONLY the on-time row
    t2 = dt.datetime(2024, 1, 1, 14, 5)
    _write_dump(spark, input_dir, "d3", t2, [(4, 100, 900, 9)])
    sp.run_to_parquet(stream, out_dir, ckpt).awaitTermination()

    rows = {r["bucket_ts"]: r for r in spark.read.parquet(out_dir).collect()}
    assert set(rows) == {
        dt.datetime(2024, 1, 1, 10),
        dt.datetime(2024, 1, 1, 12),
    }
    assert rows[dt.datetime(2024, 1, 1, 12)]["volume"] == 5


def test_rocksdb_state_store_backend(spark, tmp_path):
    """The tumbling aggregation runs unchanged on the RocksDB state
    store (the 100 TB state backend): same results as the default
    provider, and the checkpoint actually contains RocksDB artifacts
    (snapshot zips / changelogs), proving the provider engaged."""
    import os

    input_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    t0 = dt.datetime(2024, 1, 1, 10, 0)
    _write_dump(
        spark, input_dir, "d0", t0, [(1, 100, 500, 1), (2, 100, 900, 1)]
    )
    _write_dump(
        spark, input_dir, "d1", t0 + dt.timedelta(hours=3), [(3, 200, 700, 2)]
    )

    sp.use_rocksdb_state(spark)
    try:
        stream = sp.read_auction_stream(spark, input_dir)
        agg = sp.hourly_price_stream(stream, late="2 hours")
        q = sp.run_to_parquet(agg, out_dir, ckpt, mode="append")
        q.awaitTermination()
    finally:
        sp.use_default_state(spark)

    rows = {
        (r["item"], r["bucket_ts"]): r for r in spark.read.parquet(out_dir).collect()
    }
    assert (100, t0) in rows and rows[(100, t0)]["volume"] == 2

    state_files = [
        f
        for root, _, fs in os.walk(os.path.join(ckpt, "state"))
        for f in fs
    ]
    assert any(
        f.endswith(".zip") or f.endswith(".changelog") for f in state_files
    ), state_files


