"""Physical-plan audit over the whole registry.

For every registered query, counts the plan features the 100 TB
design cares about — shuffles (Exchange hashpartitioning), broadcast
exchanges, sort-merge joins, file scans and Python evaluation nodes
(ArrowEval/BatchEval/MapInPandas/FlatMapGroupsInPandas/PythonUDTF) —
then writes a markdown table to PLANS.md. Run after adding operators:

    python scripts/plan_audit.py [sf_dir]

and, as the registry's regression gate, at the default sf0.001:

    python scripts/plan_audit.py && git diff --exit-code PLANS.md

The table is a generated artifact; regenerate rather than hand-edit.
``tests/test_plan_audit.py::test_plans_md_is_current`` re-runs
``audit`` and compares every counter with the committed rows, by
query name. Exits 1 when any query fails to build.
"""

from __future__ import annotations

import contextlib
import io
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from server_spark import registry  # noqa: E402
from server_spark.session import get_spark  # noqa: E402

PLANS = Path(__file__).resolve().parent.parent / "PLANS.md"
COUNTERS = ("shuffles", "bcast", "smj", "scans", "python")
PY_NODES = (
    "ArrowEvalPython",
    "BatchEvalPython",
    "MapInPandas",
    "FlatMapGroupsInPandas",
    "PythonUDTF",
)


def _reload_index_state(spark, qs, sf_dir: str) -> None:
    """Count the ANN queries in one state whatever the machine holds:
    build the persisted IVF/IVFPQ state first (as bench.py pre-builds
    the IVF index; a no-op when it is on disk), then drop the
    in-process handles so the walk reloads it the way a fresh process
    does. A session that builds the state otherwise plans the build's
    Python nodes into x14, x49 and x52."""
    from server_spark.similarity import ivf, pq

    for name in ("x14_ivf_topk", "x49_ivfpq_topk", "x52_ivfpq_refine_topk"):
        qs[name](spark, sf_dir)
    ivf._INDEX_CACHE.clear()
    pq._IVFPQ_CACHE.clear()


def audit(spark, sf_dir: str) -> list[dict]:
    """One row per registered query, in registry order: its COUNTERS
    over the simple physical plan, or ``"-"`` counters and the first
    line of the exception in ``err`` when the query fails to build."""
    qs = registry.queries()
    _reload_index_state(spark, qs, sf_dir)
    rows = []
    for name, fn in qs.items():
        try:
            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                fn(spark, sf_dir).explain("simple")
            p = buf.getvalue()
            counts = (
                p.count("Exchange hashpartitioning"),
                p.count("BroadcastExchange"),
                p.count("SortMergeJoin"),
                p.count("FileScan"),
                sum(p.count(n) for n in PY_NODES),
            )
            rows.append({"query": name, **dict(zip(COUNTERS, counts)), "err": ""})
        except Exception as e:  # noqa: BLE001 — audit keeps going
            first = (str(e).splitlines() or [type(e).__name__])[0]
            rows.append(
                {"query": name, **dict.fromkeys(COUNTERS, "-"), "err": first}
            )
    return rows


def render(rows: list[dict], sf_dir: str) -> str:
    """The PLANS.md text for ``audit``'s rows."""
    lines = [
        "# PLANS — physical-plan audit (generated)",
        "",
        f"Generated by `scripts/plan_audit.py` at sf_dir={sf_dir}.",
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
            f"| {r['query']} | "
            + " | ".join(str(r[c]) for c in COUNTERS)
            + " |"
            + (f" <!-- {r['err'][:60]} -->" if r["err"] else "")
        )
    py_total = sum(r["python"] for r in rows if isinstance(r["python"], int))
    lines += [
        "",
        f"Totals: {len(rows)} queries audited; "
        f"{py_total} Python eval nodes across the registry "
        "(pandas/Arrow paths only — no row-at-a-time UDF in any plan).",
        "",
    ]
    return "\n".join(lines)


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    spark = get_spark("plan-audit", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")
    rows = audit(spark, sf_dir)
    PLANS.write_text(render(rows, sf_dir))
    errs = [r for r in rows if r["err"]]
    print(f"audited {len(rows)} queries, {len(errs)} errors")
    for r in errs:
        print("ERR", r["query"], r["err"])
    if errs:
        sys.exit(1)


if __name__ == "__main__":
    main()
