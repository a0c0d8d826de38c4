"""Config-metamorphic axis for STREAMING pipelines (r8 verdict item 6).

The batch metamorphic suite (test_config_metamorphic.py) asserts query
results are invariant under config changes; this file extends the same
contract to stateful streaming: for the windowed aggregation
(hourly_price_stream) the drained output must be IDENTICAL under

  * state store backend: default HDFS-heap provider vs RocksDB, and
  * micro-batch split: all input in ONE micro-batch vs one file per
    micro-batch (maxFilesPerTrigger=1),

because windowed aggs are algebraic merges — the result may not
depend on where the engine happens to cut batches or where it keeps
its state rows.
"""

from __future__ import annotations

import datetime as dt
import os

import pytest

from server_spark.schemas import AUCTION
from server_spark.streaming import pipeline as sp

# r15: each metamorphic case re-runs a full streaming pipeline under
# alternate state-store backends and input splits (~100 s apiece,
# 236 s total) — a multi-minute gate, not a unit test. Round-close
# full runs include it (`pytest -m ""`).
pytestmark = pytest.mark.slow

T0 = dt.datetime(2024, 1, 1, 10, 0)
T1 = dt.datetime(2024, 1, 1, 11, 10)
T2 = dt.datetime(2024, 1, 1, 12, 20)
T3 = dt.datetime(2024, 1, 1, 18, 0)  # watermark pusher

# (auc, item, buyout, qty) per snapshot — two items with shifting
# prices across hourly windows
SNAPSHOTS = [
    (T0, [(1, 100, 500, 1), (2, 100, 900, 3), (3, 200, 700, 2)]),
    (T1, [(4, 100, 600, 1), (5, 200, 900, 2)]),
    (T2, [(6, 100, 550, 1), (7, 200, 950, 2), (8, 300, 100, 1)]),
    (T3, [(9, 300, 120, 1)]),
]


def _write_input(spark, input_dir: str, split: str) -> None:
    os.makedirs(input_dir, exist_ok=True)
    if split == "many":  # one file per snapshot → one micro-batch each
        for ts, rows in SNAPSHOTS:
            _df(spark, ts, rows).coalesce(1).write.mode("append").parquet(
                input_dir
            )
    else:  # everything in one file → one micro-batch
        dfs = None
        for ts, rows in SNAPSHOTS:
            d = _df(spark, ts, rows)
            dfs = d if dfs is None else dfs.unionByName(d)
        dfs.coalesce(1).write.mode("append").parquet(input_dir)


def _df(spark, ts, rows):
    data = [
        (auc, item, "o", "r1", 9, buyout, qty, "LONG", "eu", "r1", ts)
        for auc, item, buyout, qty in rows
    ]
    return spark.createDataFrame(data, AUCTION)


def _drain(spark, build_stream, base: str, backend: str, split: str):
    """Write input per ``split``, run the pipeline to parquet under
    ``backend``, drain twice (the second availableNow run flushes
    windows finalized by the first run's watermark advance), return
    the sorted output rows."""
    input_dir = os.path.join(base, "in")
    out_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")
    _write_input(spark, input_dir, split)
    if backend == "rocksdb":
        sp.use_rocksdb_state(spark)
    try:
        for _ in range(2):
            q = sp.run_to_parquet(
                build_stream(spark, input_dir), out_dir, ckpt
            )
            q.awaitTermination()
    finally:
        sp.use_default_state(spark)
    try:
        rows = spark.read.parquet(out_dir).collect()
    except Exception:  # noqa: BLE001 — no output files
        return []
    return sorted(tuple(r) for r in rows)


def _hourly(spark, input_dir):
    return sp.hourly_price_stream(
        sp.read_auction_stream(spark, input_dir, max_files=1),
        late="0 seconds",
    )


PIPELINES = {"hourly_window": _hourly}
COMBOS = [
    ("default", "many"),
    ("rocksdb", "one"),
    ("rocksdb", "many"),
]


@pytest.mark.parametrize("pipeline", sorted(PIPELINES))
def test_stream_results_invariant_under_backend_and_split(
    spark, tmp_path, pipeline
):
    build = PIPELINES[pipeline]
    baseline = _drain(
        spark, build, str(tmp_path / "base"), "default", "one"
    )
    assert baseline, f"{pipeline}: baseline drain produced no rows"
    for backend, split in COMBOS:
        got = _drain(
            spark,
            build,
            str(tmp_path / f"{backend}_{split}"),
            backend,
            split,
        )
        assert got == baseline, (
            f"{pipeline}: output differs under backend={backend} "
            f"split={split}"
        )


def test_rocksdb_combo_engaged(spark, tmp_path):
    """The rocksdb×many combo must actually exercise the RocksDB
    provider (guard against the conf silently not applying): the
    checkpoint state dir contains RocksDB artifacts."""
    base = str(tmp_path / "probe")
    _drain(spark, _hourly, base, "rocksdb", "many")
    state_root = os.path.join(base, "ckpt", "state")
    artifacts = []
    for root, _dirs, files in os.walk(state_root):
        artifacts += [f for f in files if f.endswith((".zip", ".changelog"))]
    assert artifacts, "no RocksDB snapshot/changelog artifacts found"
