"""Time individual registry queries in isolation, with repeats.

The per-round bench runs every query once in one long session, so its
per-query numbers carry shared-sandbox drift and ±0.1-0.2 s jitter —
useless for adjudicating a single query's regression. This harness
runs ONE warmup + N timed repeats per named query in a fresh session
and reports min/median, which is what a before/after comparison of a
code change should use.

Usage: python scripts/time_query.py [-n 5] [--sf DIR] q1 [q2 ...]
"""

from __future__ import annotations

import argparse
import statistics
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=5)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    args = ap.parse_args()

    from bench import _materialize as mat
    from server_spark import registry
    from server_spark.session import get_spark

    spark = get_spark("time-query")
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()

    for name in args.queries:
        if name not in qs:
            print(f"{name}: NOT REGISTERED")
            continue
        # r13: without this, a LONG recheck list (bench --recheck ran
        # 134 movers through one session) accumulates persisted/
        # checkpointed blocks and late queries read 1.5-1.7x slow —
        # the exact r5 in-bench contention finding, reproduced inside
        # the harness meant to adjudicate it (observed: x35 3.63 s as
        # recheck #~120 vs 2.14 s genuinely isolated). Same protocol
        # as bench.py: clear the cache between queries.
        spark.catalog.clearCache()
        mat(qs[name](spark, args.sf))  # warmup
        times = []
        for _ in range(args.n):
            t0 = time.perf_counter()
            mat(qs[name](spark, args.sf))
            times.append(time.perf_counter() - t0)
        print(
            f"{name}: min={min(times):.3f}s "
            f"median={statistics.median(times):.3f}s "
            f"runs={[round(t, 3) for t in times]}"
        )
    return 0


if __name__ == "__main__":
    sys.exit(main())
