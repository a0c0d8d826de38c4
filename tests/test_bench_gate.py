"""bench.py's stdout contract.

``python bench.py`` is run verbatim and only the last ~2 KB of its
stdout is kept, so the run must end in ONE JSON line under
``bench.COMPACT_LINE_MAX_BYTES`` that still carries the headline
fields (``metric``, ``value``, ``n_queries``, the headline queries).
The full per-query map goes to BENCH_FULL.json. The re-measure pass
flags outliers against scripts/bench_baseline.json, so that file must
stay a parseable full map. Pure-file tests, no Spark session.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

BASELINE = REPO / "scripts" / "bench_baseline.json"


def test_baseline_artifact_is_valid():
    """The baseline snapshot must stay a parseable full bench map —
    an accidental truncation would silently stop the re-measure pass
    from flagging outliers against it."""
    base = json.loads(BASELINE.read_text())
    assert base.get("queries") and len(base["queries"]) >= 50
    assert base.get("materializer") == "xxhash64-all-columns"


def test_compact_line_bounded_with_300_flagged_queries():
    """VERDICT r11 item 1a: the r11 driver artifact was unparseable
    because bench.py's stdout line carried an unbounded 80-name
    "remeasured" list (~2.4 KB of names) and the driver keeps only the
    last ~2 KB of stdout — the line's HEAD (including '{"metric"') was
    cut. compact_line() must stay under COMPACT_LINE_MAX_BYTES even in
    the worst case: a 300-query registry with EVERY query flagged for
    re-measure."""
    import bench

    names = [f"x{i:03d}_some_quite_long_query_name" for i in range(300)]
    timings = {n: 1.0 + i / 1000 for i, n in enumerate(names)}
    full = {
        "metric": "total_query_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "queries": timings,
        "sf": 0.1,
        "materializer": "xxhash64-all-columns",
        "sampling": "1-pass; flagged outliers = median-of-3",
        "remeasured": sorted(names),
    }
    line = bench.compact_line(full, timings)
    assert len(line.encode()) < bench.COMPACT_LINE_MAX_BYTES, len(line)
    doc = json.loads(line)
    # the bounded stand-in replaces the unbounded name list
    assert doc["n_remeasured"] == 300
    assert "remeasured" not in doc
    # headline totals and per-query spine survive
    assert doc["metric"] == "total_query_time"
    assert doc["n_queries"] == 300
    assert doc["queries"]


def test_compact_line_trim_keeps_headline_entries():
    """r13 advisor finding: the over-budget trim dropped the globally
    FASTEST query each pass — which is usually a sub-second HEADLINE
    scan, so the gate's pinned headline coverage silently vanished
    from the stdout artifact before the '12 slowest' padding did. The
    trim must evict non-headline extras first and only touch HEADLINE
    entries as a last resort."""
    import bench

    # headline queries deliberately FAST (first trim victims under the
    # old min-of-all rule), extras slow, and enough long-named extras
    # to force several trim passes
    names = [f"x{i:03d}_{'pad' * 30}" for i in range(40)]
    timings = {n: 5.0 + i for i, n in enumerate(names)}
    head_present = [n for n in bench.HEADLINE][:5]
    for n in head_present:
        timings[n] = 0.001  # fastest in the whole map
    full = {
        "metric": "total_query_time",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "queries": timings,
        "sf": 0.1,
        "materializer": "xxhash64-all-columns",
    }
    line = bench.compact_line(full, timings)
    assert len(line.encode()) < bench.COMPACT_LINE_MAX_BYTES
    doc = json.loads(line)
    assert doc["queries_note"].startswith("TRIMMED"), (
        "test vector too small to force a trim; enlarge the extras"
    )
    for n in head_present:
        assert n in doc["queries"], f"trim evicted headline entry {n}"
