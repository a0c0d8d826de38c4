"""Per-query profile: construction vs execution wall time, job count,
and the formatted physical plan.

For each named query this reports, in ONE fresh session:

- ``build_s``   — time to call the registry fn (Python DataFrame
  assembly; includes any eager barrier() jobs the query runs at
  construction time, which is where several dedup pipelines spend
  most of their wall clock);
- ``exec_s``    — time to materialize the returned frame with the
  bench's xxhash64-all-columns reducer (same as bench.py);
- ``jobs``      — Spark jobs launched during build + exec (from the
  status tracker's job id high-water mark), a proxy for how many
  eager materializations / convergence probes the query performs;
- optionally (``--plans DIR``) writes ``<query>.txt`` with
  ``explain("formatted")`` of the final frame.

Usage:
    python scripts/profile_query.py [-n 3] [--sf DIR] [--plans DIR] q1 [q2 ...]
"""

from __future__ import annotations

import argparse
import contextlib
import io
import sys
import time
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("-n", type=int, default=3)
    ap.add_argument("--sf", default="/root/testdata/sf0.1")
    ap.add_argument("--plans", default=None)
    args = ap.parse_args()

    from bench import _materialize as mat
    from server_spark import registry
    from server_spark.session import get_spark

    spark = get_spark("profile-query")
    spark.sparkContext.setLogLevel("ERROR")
    sc = spark.sparkContext
    qs = registry.queries()

    def job_count() -> int:
        return len(sc.statusTracker().getJobIdsForGroup(None))

    # warmup round amortizes JVM/codegen startup out of query 1
    mat(qs[args.queries[0]](spark, args.sf))
    for name in args.queries:
        if name not in qs:
            print(f"{name}: NOT REGISTERED")
            continue
        builds, execs, jobs = [], [], []
        for _ in range(args.n):
            spark.catalog.clearCache()
            j0 = job_count()
            t0 = time.perf_counter()
            df = qs[name](spark, args.sf)
            t1 = time.perf_counter()
            mat(df)
            t2 = time.perf_counter()
            builds.append(t1 - t0)
            execs.append(t2 - t1)
            jobs.append(job_count() - j0)
        builds.sort(), execs.sort(), execs and jobs.sort()
        mid = len(builds) // 2
        print(
            f"{name}: build={builds[mid]:.3f}s exec={execs[mid]:.3f}s "
            f"total={builds[mid]+execs[mid]:.3f}s jobs={jobs[mid]}"
        )
        if args.plans:
            out = Path(args.plans)
            out.mkdir(parents=True, exist_ok=True)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                qs[name](spark, args.sf).explain("formatted")
            (out / f"{name}.txt").write_text(buf.getvalue())
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
