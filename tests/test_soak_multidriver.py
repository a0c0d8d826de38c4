"""Multi-DRIVER soak over one backend-routed medallion root (r14,
VERDICT r13 item 2).

The r13 pieces — the conditional-put mint race, the backend lock's
CAS transitions, ingest-through-the-env-hook — were each contract-
tested in isolation; this composes them: three REAL processes, each
with its own SparkSession, concurrently run manifest-gated ingests
and incremental silver/gold refreshes against the SAME lake root
through the same injected conditional-put backend. Afterwards the
parent asserts the invariants the whole transactional story exists
for:

- version-log integrity: every dump key committed exactly once, every
  commit under its own unique batch_id, ids strictly positive;
- bronze integrity: every committed dump key holds exactly the rows
  ingested for it, none lost or doubled;
- gold == full rebuild: the incrementally refreshed ``gold_prices``
  equals ``build_silver`` + ``build_gold_prices`` over the final
  bronze. Each worker refreshes from the manifest version it read
  before its own ingest, so every batch is covered by a refresh that
  started after it committed, whatever the interleaving.

Slow-marked: spawns three JVMs (~3 min wall).
"""

from __future__ import annotations

import os
import subprocess
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent

_BACKEND_SPEC = "server_spark.plans.commit_backend:LinkConditionalPutBackend"

_WORKER = """
import datetime as dt
import os
import sys

sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_COMMIT_BACKEND"] = {spec!r}

from server_spark.session import get_spark
from server_spark.plans import medallion as med

w = int(sys.argv[1])
root = sys.argv[2]
spark = get_spark(f"soak-worker-{{w}}", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
paths = med.MedallionPaths(root)

t0 = dt.datetime(2026, 8, 1, 0, 0, 0)
for k in range(3):
    ts = t0 + dt.timedelta(hours=w * 10 + k)
    rows = []
    for j in range(20):
        owner = f"o{{w}}-{{k}}-{{j % 5}}"
        rows.append(("eu", f"r{{j % 2}}", ts, w * 1000 + k * 100 + j,
                     10 + j % 7, 500 + 10 * j, 1 + j % 3, owner, "LONG"))
    raw = spark.createDataFrame(
        rows,
        "region string, realm_slug string, dump_ts timestamp, auc long,"
        " item long, buyout long, quantity long, owner string,"
        " time_left string",
    )
    since = max(med.manifest_versions(spark, paths), default=0)
    n = med.ingest_bronze_incremental(spark, raw, paths)
    # each dump spans realms r0+r1 -> two dump KEYS, one batch
    assert n == 2, f"worker {{w}} dump {{k}}: expected 2 new keys, got {{n}}"
    assert med.build_silver_incremental(spark, paths, since) >= 1
    assert med.build_gold_prices_incremental(spark, paths, since) >= 1

print("worker-done", w)
"""


@pytest.mark.slow
def test_three_driver_soak_version_log_and_gold_parity(
    spark, tmp_path, monkeypatch
):
    from pyspark.sql import functions as F

    from server_spark.plans import medallion as med

    root = str(tmp_path / "lake")
    os.makedirs(root, exist_ok=True)
    # Lock-acquisition budget for the workers: the three drivers
    # serialize ~27 locked commit sections (each several Spark jobs)
    # on one shared box, so the worst waiter queues behind most of
    # them; with external host load a section can take 20-30 s and
    # the 120 s single-host default trips spuriously (observed r14:
    # TimeoutError at 120 s with healthy holders, host load ~6 from
    # neighbors). This test asserts CORRECTNESS invariants (version-
    # log integrity, gold == rebuild), not latency — give the queue
    # room and let the invariants do the judging.
    env = dict(
        os.environ,
        SPARK_GRAFT_COMMIT_BACKEND=_BACKEND_SPEC,
        SPARK_GRAFT_LOCK_TIMEOUT="900",
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c",
             _WORKER.format(repo=str(REPO), spec=_BACKEND_SPEC),
             str(w), root],
            stdout=subprocess.PIPE, stderr=subprocess.PIPE, env=env,
        )
        for w in range(3)
    ]
    for p in procs:
        out, err = p.communicate(timeout=600)
        assert p.returncode == 0, (
            f"worker failed:\n{err.decode()[-3000:]}"
        )
        assert b"worker-done" in out

    monkeypatch.setenv("SPARK_GRAFT_COMMIT_BACKEND", _BACKEND_SPEC)
    paths = med.MedallionPaths(root)

    # --- version-log integrity -------------------------------------
    manifest = med.load_manifest(spark, paths)
    m = manifest.collect()
    # 3 workers x 3 dumps x 2 realm keys, each committed exactly once
    assert len(m) == 18
    keys = [(r["region"], r["realm_slug"], r["dump_ts"]) for r in m]
    assert len(set(keys)) == 18  # no dump key double-committed
    # one unique batch_id per ingest CALL (2 keys share a version)
    batch_ids = sorted(r["batch_id"] for r in m)
    assert len(set(batch_ids)) == 9
    assert all(batch_ids.count(b) == 2 for b in set(batch_ids))
    assert min(batch_ids) >= 1

    # --- bronze integrity -----------------------------------------
    bronze = spark.read.parquet(paths.bronze)
    assert bronze.count() == 180  # 9 dumps x 20 rows
    # every committed dump key present exactly as ingested
    per_dump = {
        (r["region"], r["realm_slug"], r["dump_ts"]): r["n"]
        for r in bronze.groupBy("region", "realm_slug", "dump_ts")
        .agg(F.count("*").alias("n")).collect()
    }
    assert set(per_dump) == set(keys)
    assert all(n == 10 for n in per_dump.values())  # 20 rows / 2 realms

    # --- gold == full rebuild --------------------------------------
    def gold():
        return {
            (r["region"], r["realm_slug"], r["dump_ts"], r["item"]):
                (r["volume"], r["median_buyout_per"])
            for r in spark.read.parquet(paths.gold_prices).collect()
        }

    inc = gold()
    med.build_silver(spark, paths)
    med.build_gold_prices(spark, paths)
    full = gold()
    # 9 snapshots x 2 realms x 7 item ids (each realm sees all 7)
    assert inc == full and len(inc) == 9 * 2 * 7
