"""Property-based tests (hypothesis) for the invariants the operators
must hold on ANY input, mirroring SURVEY.md §5's strategy beyond
golden fixtures."""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from server_spark.operators import auctions as ops

AUCTION_ROWS = st.lists(
    st.tuples(
        st.integers(min_value=1, max_value=10**6),        # auc (may repeat)
        st.integers(min_value=1, max_value=20),           # item
        st.sampled_from(["a", "b", "c"]),                 # owner
        # Tiny buyout domain so (item, owner, buyout) collisions with
        # differing quantity/time_left are ROUTINELY generated — the
        # exact shape that exposed the r6 keyset-cursor skip bug.
        st.integers(min_value=0, max_value=3),            # buyout
        st.integers(min_value=1, max_value=50),           # quantity
        st.sampled_from(["SHORT", "LONG"]),               # time_left
    ),
    min_size=1,
    max_size=60,
)

_SETTINGS = settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.too_slow, HealthCheck.function_scoped_fixture],
)


def _df(spark, rows):
    return spark.createDataFrame(
        rows, "auc long, item long, owner string, buyout long, quantity long, time_left string"
    )


@given(rows=AUCTION_ROWS)
@_SETTINGS
def test_collapse_conserves_rows(spark, rows):
    """A1: Σ auc_count over mini-auctions == raw row count, and every
    collapsed list's length equals its count."""
    mini = ops.collapse_mini_auctions(_df(spark, rows)).collect()
    assert sum(r["auc_count"] for r in mini) == len(rows)
    assert all(len(r["auc_list"]) == r["auc_count"] for r in mini)


@given(rows=AUCTION_ROWS)
@_SETTINGS
def test_price_stats_bounds(spark, rows):
    """A2: min ≤ median ≤ max, avg within [min, max], volume equals
    the positive-buyout quantity sum per item."""
    df = _df(spark, rows)
    stats = ops.price_stats(df).collect()
    expected_vol = {
        r["item"]: r["v"]
        for r in df.filter("buyout > 0")
        .groupBy("item")
        .agg(F.sum("quantity").alias("v"))
        .collect()
    }
    for r in stats:
        assert r["min_buyout_per"] <= r["median_buyout_per"] <= r["max_buyout_per"]
        assert r["min_buyout_per"] <= r["average_buyout_per"] <= r["max_buyout_per"]
        assert r["volume"] == expected_vol[r["item"]]


@given(rows=AUCTION_ROWS, count=st.integers(min_value=1, max_value=7))
@_SETTINGS
def test_pagination_partitions_the_stream(spark, rows, count):
    """O2: pages are disjoint and their union is the full relation."""
    df = _df(spark, rows).withColumn(
        "rowkey", F.concat_ws("#", "auc", "item", "owner", "buyout", "quantity", "time_left")
    )
    # make rows unique so set comparison is exact
    df = df.dropDuplicates(["rowkey"])
    total = df.count()
    order = [F.col("buyout").desc(), F.col("rowkey").asc()]
    seen: list[str] = []
    page = 0
    while len(seen) < total:
        got = [r["rowkey"] for r in ops.paginate(df, order, page, count).collect()]
        if not got:
            break
        assert not set(got) & set(seen), "pages overlap"
        seen.extend(got)
        page += 1
    assert len(seen) == total, "pages do not cover the relation"


PII_FRAGMENTS = st.lists(
    st.sampled_from(
        [
            "plain words here",
            "alice.smith+tag@mail.example.org",
            "10.42.7.200",
            "555-867-5309",
            "v1.2.3",            # version string — not an IP (3 octets)
            "1.2.3.4.5",         # 5 octets — first four match as an IP
            "a@b",               # not an email (no TLD)
            "123-45-678",        # not a phone (wrong arity)
        ]
    ),
    min_size=1,
    max_size=12,
)


@given(frags=PII_FRAGMENTS)
@_SETTINGS
def test_pii_scrub_idempotent_and_count_consistent(spark, frags):
    """x26 invariants on ANY fragment mix: scrubbing twice equals
    scrubbing once (redaction tokens are never re-matched), and the
    scrubbed text contains exactly as many placeholders of each type
    as the counter reported."""
    from server_spark.textstats import pii

    text = " ".join(frags)
    df = spark.createDataFrame([(text,)], "t string")
    row = df.select(
        pii.scrub("t").alias("once"),
        pii.scrub(pii.scrub("t")).alias("twice"),
        pii.match_count("t", pii.EMAIL_RE).alias("e"),
        pii.match_count("t", pii.IPV4_RE).alias("i"),
        pii.match_count("t", pii.PHONE_RE).alias("p"),
    ).collect()[0]
    assert row["once"] == row["twice"]
    assert row["once"].count("<EMAIL>") == row["e"]
    assert row["once"].count("<IP>") == row["i"]
    assert row["once"].count("<PHONE>") == row["p"]


NORM_LADDERS = st.lists(
    st.floats(min_value=0.5, max_value=50.0, allow_nan=False, width=32),
    min_size=5,
    max_size=80,
)


@given(norms=NORM_LADDERS)
@_SETTINGS
def test_norm_trim_drops_only_tails(spark, norms):
    """x27 invariants on ANY norm distribution: dropped vectors are a
    contiguous prefix/suffix of the sorted norm ladder (never interior
    values), and whole-group semantics keep every straddler."""
    from server_spark.similarity import cosine as cos

    rows = [(i, [float(v), 0.0]) for i, v in enumerate(norms)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = cos.norm_trim_flags(df, dim=2).collect()
    by_norm = sorted(out, key=lambda r: (r["l2_norm"], r["vec_id"]))
    kept_flags = [r["kept"] for r in by_norm]
    # all drops are at the edges: flags look like F...F T...T F...F
    if True in kept_flags:
        first_t = kept_flags.index(True)
        last_t = len(kept_flags) - 1 - kept_flags[::-1].index(True)
        assert all(kept_flags[first_t : last_t + 1])
        # same rounded norm ⇒ same verdict (whole-group rule)
        verdict = {}
        for r in by_norm:
            verdict.setdefault(r["l2_norm"], r["kept"])
            assert verdict[r["l2_norm"]] == r["kept"]


# ---------------------------------------------------------------------------
# x44 — span scrub vs a brute-force reference on arbitrary corpora
# ---------------------------------------------------------------------------

# tiny vocab + short docs force heavy span collisions, including the
# overlapping-span and fully-scrubbed-doc edge cases
SPAN_DOCS = st.lists(
    st.lists(st.sampled_from(["a", "b", "c"]), min_size=1, max_size=14),
    min_size=1,
    max_size=10,
)


def _scrub_reference(texts: list[list[str]], k: int, min_docs: int):
    """Brute-force span scrub: canonical first occurrence of every
    cross-doc repeated k-gram kept, all other occurrences' positions
    covered (1-based)."""
    from collections import defaultdict

    by_span = defaultdict(list)
    for d, ws in enumerate(texts):
        for i in range(len(ws) - k + 1):
            by_span[" ".join(ws[i : i + k])].append((d, i + 1))
    covered = defaultdict(set)
    for occ in by_span.values():
        if len({d for d, _ in occ}) >= min_docs:
            for d, p in sorted(occ)[1:]:
                covered[d].update(range(p, p + k))
    out = {}
    for d, ws in enumerate(texts):
        kept = [w for i, w in enumerate(ws, start=1) if i not in covered[d]]
        out[d] = (len(ws), len(kept), " ".join(kept))
    return out


@given(texts=SPAN_DOCS)
@_SETTINGS
def test_span_scrub_matches_bruteforce(spark, texts):
    import hashlib

    from server_spark.dedup.spans import span_scrub

    k, min_docs = 3, 2  # small k so short random docs produce spans
    docs = spark.createDataFrame(
        [(d, " ".join(ws)) for d, ws in enumerate(texts)],
        "doc_id long, text string",
    )
    got = {
        r.doc_id: (r.n_words, r.n_kept, r.clean_hash)
        for r in span_scrub(docs, n=k, min_docs=min_docs).collect()
    }
    want = _scrub_reference(texts, k, min_docs)
    assert set(got) == set(want)
    for d, (nw, nk, clean) in want.items():
        gw, gk, gh = got[d]
        assert (gw, gk) == (nw, nk), f"doc {d}: counts differ"
        assert gh == hashlib.md5(clean.encode()).hexdigest(), (
            f"doc {d}: scrubbed text differs (want {clean!r})"
        )


@given(texts=SPAN_DOCS)
@_SETTINGS
def test_maximal_spans_match_bruteforce(spark, texts):
    """x46 semantics: maximal islands of the brute-force covered set,
    with text reassembled, and the x44 invariant
    per-doc Σ span_len == n_removed."""
    from collections import defaultdict

    from server_spark.dedup.spans import maximal_removed_spans, span_scrub

    k, min_docs = 3, 2
    docs = spark.createDataFrame(
        [(d, " ".join(ws)) for d, ws in enumerate(texts)],
        "doc_id long, text string",
    )
    got = [
        (r.doc_id, r.span_start, r.span_end, r.span_len, r.span_text)
        for r in maximal_removed_spans(docs, n=k, min_docs=min_docs).collect()
    ]
    # brute-force: covered position sets -> maximal runs
    by_span = defaultdict(list)
    for d, ws in enumerate(texts):
        for i in range(len(ws) - k + 1):
            by_span[" ".join(ws[i : i + k])].append((d, i + 1))
    covered = defaultdict(set)
    for occ in by_span.values():
        if len({d for d, _ in occ}) >= min_docs:
            for d, p in sorted(occ)[1:]:
                covered[d].update(range(p, p + k))
    want = []
    for d, ws in enumerate(texts):
        pos = sorted(covered[d])
        runs, start = [], None
        for i, p in enumerate(pos):
            if start is None:
                start = p
            if i + 1 == len(pos) or pos[i + 1] != p + 1:
                runs.append((start, p))
                start = None
        for lo, hi in runs:
            want.append(
                (d, lo, hi, hi - lo + 1, " ".join(ws[lo - 1 : hi]))
            )
    assert sorted(got) == sorted(want)
    removed = {
        r.doc_id: r.n_removed
        for r in span_scrub(docs, n=k, min_docs=min_docs).collect()
    }
    per_doc = defaultdict(int)
    for d, _, _, ln, _ in got:
        per_doc[d] += ln
    for d, n_rem in removed.items():
        assert per_doc.get(d, 0) == n_rem, f"doc {d}: Σspan_len != n_removed"


def _incremental_reference(texts: list[list[str]], k: int, min_docs: int):
    """Brute-force incremental scrub: even doc ids are the standing
    base, odd ids the batch; base spans are always canonical."""
    from collections import defaultdict

    base_spans = set()
    for d, ws in enumerate(texts):
        if d % 2 == 0:
            for i in range(len(ws) - k + 1):
                base_spans.add(" ".join(ws[i : i + k]))
    fresh = defaultdict(list)
    covered = defaultdict(set)
    for d, ws in enumerate(texts):
        if d % 2 == 1:
            for i in range(len(ws) - k + 1):
                s = " ".join(ws[i : i + k])
                if s in base_spans:
                    covered[d].update(range(i + 1, i + 1 + k))
                else:
                    fresh[s].append((d, i + 1))
    for occ in fresh.values():
        if len({d for d, _ in occ}) >= min_docs:
            for d, p in sorted(occ)[1:]:
                covered[d].update(range(p, p + k))
    out = {}
    for d, ws in enumerate(texts):
        if d % 2 == 1:
            kept = [w for i, w in enumerate(ws, start=1) if i not in covered[d]]
            out[d] = (len(ws), len(kept), " ".join(kept))
    return out


@given(texts=SPAN_DOCS)
@_SETTINGS
def test_incremental_span_scrub_matches_bruteforce(spark, texts):
    import hashlib

    from pyspark.sql import functions as F

    from server_spark.dedup.spans import incremental_span_scrub

    k, min_docs = 3, 2
    docs = spark.createDataFrame(
        [(d, " ".join(ws)) for d, ws in enumerate(texts)],
        "doc_id long, text string",
    )
    base = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    got = {
        r.doc_id: (r.n_words, r.n_kept, r.clean_hash)
        for r in incremental_span_scrub(
            base, batch, n=k, min_docs=min_docs
        ).collect()
    }
    want = _incremental_reference(texts, k, min_docs)
    assert set(got) == set(want)
    for d, (nw, nk, clean) in want.items():
        gw, gk, gh = got[d]
        assert (gw, gk) == (nw, nk), f"doc {d}: counts differ"
        assert gh == hashlib.md5(clean.encode()).hexdigest(), (
            f"doc {d}: scrubbed text differs (want {clean!r})"
        )


# ---------------------------------------------------------------------------
# SCD2 + CDC merge vs pure-Python references (warehouse.py)
# ---------------------------------------------------------------------------

EVENT_STREAMS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=4),        # user_id
        st.sampled_from(["view", "click", "buy"]),    # event_type/state
        st.integers(min_value=0, max_value=20),       # ts offset (hours)
        st.floats(min_value=0, max_value=100, allow_nan=False),
    ),
    min_size=1,
    max_size=40,
)


def _events_df(spark, rows):
    import datetime as dt

    t0 = dt.datetime(2024, 3, 1)
    data = [
        (i, u, s, t0 + dt.timedelta(hours=h), v)
        for i, (u, s, h, v) in enumerate(rows)
    ]
    return spark.createDataFrame(
        data,
        "event_id long, user_id long, event_type string, ts timestamp, "
        "value double",
    )


@given(rows=EVENT_STREAMS)
@_SETTINGS
def test_scd2_matches_bruteforce(spark, rows):
    """scd2_history == a literal single-machine SCD2 build: sort each
    user's events by (ts, event_id), collapse equal-state runs, tile
    the validity intervals."""
    from server_spark.queries.warehouse import scd2_history

    got = {
        (r.user_id, r.version): (
            r.state, r.effective_from, r.effective_to, r.is_current
        )
        for r in scd2_history(
            _events_df(spark, rows).select(
                "user_id", "event_type", "ts", "event_id"
            )
        ).collect()
    }

    import datetime as dt

    t0 = dt.datetime(2024, 3, 1)
    by_user: dict[int, list] = {}
    for i, (u, s, h, _v) in enumerate(rows):
        by_user.setdefault(u, []).append((t0 + dt.timedelta(hours=h), i, s))
    want = {}
    for u, evs in by_user.items():
        evs.sort()
        changes = [
            (ts, s) for k, (ts, _i, s) in enumerate(evs)
            if k == 0 or evs[k - 1][2] != s
        ]
        for v, (ts, s) in enumerate(changes, start=1):
            nxt = changes[v][0] if v < len(changes) else None
            want[(u, v)] = (s, ts, nxt, nxt is None)
    assert got == want


@given(rows=EVENT_STREAMS)
@_SETTINGS
def test_cdc_merge_matches_bruteforce(spark, rows):
    """cdc_merge == dict-semantics upsert/delete: changeset wins on
    matched keys, 'error' state deletes, everything else persists."""
    from server_spark.queries.warehouse import cdc_merge

    half = max(1, len(rows) // 2)
    base_rows = [
        (u, s, float(round(v, 4))) for (u, s, _h, v) in rows[:half]
    ]
    chg_rows = [
        # reuse states; map 'buy' to the delete marker for coverage
        (u, "error" if s == "buy" else s, float(round(v, 4)))
        for (u, s, _h, v) in rows[half:]
    ]
    # one row per key on each side (the transform's contract)
    base = {u: (s, v) for u, s, v in base_rows}
    chg = {u: (s, v) for u, s, v in chg_rows}

    def df(d):
        return spark.createDataFrame(
            [(u, s, v) for u, (s, v) in d.items()],
            "user_id long, state string, value double",
        )

    got = {
        r.user_id: (r.state, round(r.value, 4), r.merge_action)
        for r in cdc_merge(df(base), df(chg)).collect()
    }

    want = {}
    for u, (s, v) in base.items():
        if u in chg:
            cs, cv = chg[u]
            if cs != "error":
                want[u] = (cs, round(cv, 4), "updated")
        else:
            want[u] = (s, round(v, 4), "kept")
    for u, (cs, cv) in chg.items():
        if u not in base and cs != "error":
            want[u] = (cs, round(cv, 4), "inserted")
    assert got == want


@given(rows=EVENT_STREAMS, split=st.integers(min_value=1, max_value=19))
@_SETTINGS
def test_scd2_incremental_equals_rebuild(spark, rows, split):
    """scd2_apply_increment(history(≤t), events(>t)) must equal
    scd2_history(all events) for ANY stream and ANY time split —
    the invariant the u6 oracle pins on real data, here on
    adversarial ones. (Ties across the split are impossible by
    construction: the split is between integer hour offsets.)"""
    from server_spark.queries.warehouse import (
        scd2_apply_increment,
        scd2_history,
    )

    ev = _events_df(spark, rows).select(
        "user_id", "event_type", "ts", "event_id"
    )
    import datetime as dt

    cut = dt.datetime(2024, 3, 1) + dt.timedelta(hours=split, minutes=30)
    history = scd2_history(ev.filter(F.col("ts") < F.lit(cut)))
    inc = ev.filter(F.col("ts") >= F.lit(cut))

    def canon(df):
        return sorted(tuple(r) for r in df.collect())

    assert canon(scd2_apply_increment(history, inc)) == canon(
        scd2_history(ev)
    )


@given(rows=AUCTION_ROWS, count=st.integers(min_value=1, max_value=9))
@_SETTINGS
def test_keyset_pagination_never_skips_or_repeats(spark, rows, count):
    """Keyset cursor over arbitrary data: walking pages to exhaustion
    yields every collapsed row exactly once, in the total order —
    no skips, no repeats, regardless of duplicate sort keys."""
    collapsed = ops.collapse_mini_auctions(_df(spark, rows)).cache()
    total = collapsed.count()
    key = lambda r: tuple(r[k] for k in ("buyout", *ops.COLLAPSE_KEYS))
    seen, after = [], None
    for _ in range(total // count + 2):
        page = ops.paginate_keyset(
            collapsed, "buyout", True, count, after
        ).collect()
        if not page:
            break
        seen.extend(key(r) for r in page)
        last = page[-1]
        after = {k: last[k] for k in ("buyout", *ops.COLLAPSE_KEYS)}
    assert len(seen) == total
    # the full collapse key is unique per collapsed row → no repeats
    assert len(set(seen)) == len(seen)
    # full order check against a single sorted scan
    want = [
        key(r)
        for r in collapsed.orderBy(
            *ops.sort_columns("buyout", True)
        ).collect()
    ]
    assert seen == want


def test_keyset_cursor_collision_regression(spark):
    """r6 ADVICE regression: two raw auctions sharing (item, owner,
    buyout) but differing in quantity collapse to TWO mini-auctions;
    the keyset walk must return both (the r6 cursor, keyed on only
    (sort, item, owner, buyout), skipped the second one)."""
    rows = [
        (1, 5, "a", 100, 1, "SHORT"),
        (2, 5, "a", 100, 2, "SHORT"),   # ties on item/owner/buyout
        (3, 5, "a", 100, 1, "LONG"),    # ties except time_left
        (4, 9, "b", 100, 1, "SHORT"),
    ]
    collapsed = ops.collapse_mini_auctions(_df(spark, rows)).cache()
    assert collapsed.count() == 4
    seen, after = [], None
    for _ in range(10):
        page = ops.paginate_keyset(collapsed, "buyout", True, 1, after).collect()
        if not page:
            break
        last = page[-1]
        seen.append(tuple(last[k] for k in ops.COLLAPSE_KEYS))
        after = {k: last[k] for k in ("buyout", *ops.COLLAPSE_KEYS)}
    assert len(seen) == 4, f"keyset walk skipped rows: {seen}"
    assert len(set(seen)) == 4


@given(
    vals=st.lists(
        st.floats(min_value=-100, max_value=100, allow_nan=False),
        min_size=1,
        max_size=12,
    )
)
@_SETTINGS
def test_rolling_median_and_ewma_invariants(spark, vals):
    """w10/w11 math on arbitrary series: a CONSTANT series is a fixed
    point of both smoothers, and each smoothed value stays inside the
    min/max of its frame."""
    import datetime as dt

    from server_spark.queries.timeseries import (
        w10_ewma_price,
        w11_rolling_median,
    )

    base = dt.datetime(2024, 1, 1)
    rows = [
        (i, base + dt.timedelta(days=i), "purchase", float(v), 1, "{}")
        for i, v in enumerate(vals)
    ]
    df = spark.createDataFrame(
        rows,
        "event_id long, ts timestamp, event_type string, value double, "
        "user_id long, props string",
    )
    import os
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        # match the harness's physical encoding (timestamp[us]) — the
        # loader's footer guard rejects INT96 by design
        prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        try:
            df.write.parquet(os.path.join(td, "events.parquet"))
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
        med = sorted(
            w11_rolling_median(spark, td).collect(), key=lambda r: r["ts"]
        )
        ew = sorted(
            w10_ewma_price(spark, td).collect(), key=lambda r: r["day"]
        )
    for i, r in enumerate(med):
        frame = vals[max(0, i - 6): i + 1]
        assert min(frame) - 1e-4 <= r["rolling_median"] <= max(frame) + 1e-4
    for i, r in enumerate(ew):
        frame = vals[max(0, i - 9): i + 1]
        assert min(frame) - 1e-4 <= r["ewma"] <= max(frame) + 1e-4
    if len(set(vals)) == 1:
        assert all(abs(r["rolling_median"] - vals[0]) < 1e-4 for r in med)
        assert all(abs(r["ewma"] - vals[0]) < 1e-4 for r in ew)


# ---------------------------------------------------------------------------
# Misra-Gries merge-truncate lemma (x73 math)
# ---------------------------------------------------------------------------
#
# x73's MG implementation (a pandas-Series batch fold) is a closure
# pickled by value, so this pins the LEMMA it relies on — per-partition
# summaries folded by batch value-counts + "subtract the (cap+1)-th
# largest, drop <=0", then merged by plain addition, (a) never
# overcount, (b) undercount by at most N/(cap+1), hence (c) candidate
# sets thresholded with that margin are supersets of the true heavy
# hitters. The closure itself is exercised end-to-end by the x73
# oracle parity.

from collections import Counter

from hypothesis import given, settings
from hypothesis import strategies as st


def _mg_fold(stream: list[int], cap: int, batch: int) -> dict[int, int]:
    state: Counter = Counter()
    for i in range(0, len(stream), batch):
        state.update(stream[i : i + batch])
        if len(state) > cap:
            pivot = sorted(state.values(), reverse=True)[cap]
            state = Counter(
                {k: v - pivot for k, v in state.items() if v > pivot}
            )
    return dict(state)


@settings(max_examples=60, deadline=None)
@given(
    data=st.lists(st.integers(0, 30), min_size=1, max_size=400),
    cap=st.integers(2, 12),
    n_parts=st.integers(1, 5),
    batch=st.integers(1, 64),
)
def test_misra_gries_merge_bound(data, cap, n_parts, batch):
    true = Counter(data)
    n = len(data)
    # partition the stream, fold each partition, merge by addition —
    # exactly the x73 topology (mapInPandas per partition -> groupBy sum)
    merged: Counter = Counter()
    step = max(1, (n + n_parts - 1) // n_parts)
    for i in range(0, n, step):
        merged.update(_mg_fold(data[i : i + step], cap, batch))
    err = n / (cap + 1)
    for k, true_cnt in true.items():
        est = merged.get(k, 0)
        assert est <= true_cnt, (k, est, true_cnt)
        assert est >= true_cnt - err, (k, est, true_cnt, err)
    # superset guarantee at any threshold above the error bound
    thr = err + 1
    heavy = {k for k, c in true.items() if c >= thr}
    cands = {k for k, c in merged.items() if c >= thr - err}
    assert heavy <= cands, (heavy - cands, thr, err)


# ---------------------------------------------------------------------------
# a21 triangle enumeration: degree-ordered orientation vs brute force
# ---------------------------------------------------------------------------

# Hub-heavy strategy: node 0 connects to most nodes (the exact shape
# where a value orientation fans a low-id hub out by its full degree);
# random extra edges create triangles through the hub.
_EDGE_LISTS = st.lists(
    st.tuples(st.integers(0, 9), st.integers(0, 9)).filter(
        lambda e: e[0] != e[1]
    ),
    min_size=1,
    max_size=40,
).map(
    lambda es: sorted({(min(a, b), max(a, b)) for a, b in es}
                      | {(0, n) for n in range(1, 8)})
)


@given(edges=_EDGE_LISTS)
@_SETTINGS
def test_triangle_counts_match_bruteforce(spark, edges):
    """triangle_counts (degree-ordered orientation) equals the brute
    force per-node triangle enumeration on hub-heavy graphs, where a
    naive value orientation is cheapest to get wrong."""
    from itertools import combinations

    from server_spark.queries.joins_sets import triangle_counts

    eset = set(edges)
    nodes = sorted({n for e in edges for n in e})
    want_tri = dict.fromkeys(nodes, 0)
    for a, b, c in combinations(nodes, 3):
        if {(a, b), (a, c), (b, c)} <= eset:
            for n in (a, b, c):
                want_tri[n] += 1
    want_deg = {
        n: sum(n in e for e in eset) for n in nodes
    }

    df = spark.createDataFrame(edges, "s long, t long")
    deg, node_tri = triangle_counts(df)
    got_deg = {r["item"]: r["degree"] for r in deg.collect()}
    got_tri = {r["item"]: r["triangles"] for r in node_tri.collect()}
    assert got_deg == want_deg
    assert got_tri == {n: c for n, c in want_tri.items() if c > 0}


# ---------------------------------------------------------------------------
# bucket_pairs: the shared candidate generator (banded LSH, x77 prints)
# ---------------------------------------------------------------------------

_KV_ROWS = st.lists(
    st.tuples(st.integers(0, 6), st.integers(0, 12)),  # (key, doc)
    min_size=1,
    max_size=60,
).map(lambda xs: sorted(set(xs)))


@given(kv=_KV_ROWS, cap=st.integers(2, 6))
@_SETTINGS
def test_bucket_pairs_matches_bruteforce(spark, kv, cap):
    """bucket_pairs == brute force: all ordered (a < b) pairs sharing a
    key whose bucket is within the cap; buckets over the cap generate
    NOTHING (the hot-bucket guard)."""
    from collections import defaultdict
    from itertools import combinations

    from server_spark.dedup.minhash import bucket_pairs

    groups = defaultdict(set)
    for k, d in kv:
        groups[k].add(d)
    want = set()
    for ids in groups.values():
        if len(ids) <= cap:
            want |= set(combinations(sorted(ids), 2))

    df = spark.createDataFrame(kv, "k long, doc_id long")
    got = {
        (r["doc_a"], r["doc_b"])
        for r in bucket_pairs(df, ["k"], max_bucket=cap).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# a33 coreness: h-index iteration vs brute-force peeling
# ---------------------------------------------------------------------------


def _peel_coreness(eset: set) -> dict:
    """Textbook sequential peel: repeatedly remove the min-degree node,
    its coreness = max(k seen so far, its degree at removal)."""
    adj: dict = {}
    for a, b in eset:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    core, k = {}, 0
    while adj:
        v = min(adj, key=lambda n: (len(adj[n]), n))
        k = max(k, len(adj[v]))
        core[v] = k
        for n in adj[v]:
            adj[n].discard(v)
        del adj[v]
    return core


@given(edges=_EDGE_LISTS)
@_SETTINGS
def test_coreness_matches_bruteforce(spark, edges):
    """coreness (distributed h-index fixpoint) equals sequential
    peeling on hub-heavy graphs — the orientation-free invariant that
    makes the iteration trustworthy."""
    from server_spark.queries.joins_sets import coreness

    want = _peel_coreness(set(edges))
    df = spark.createDataFrame(edges, "s long, t long")
    got = {r["item"]: r["coreness"] for r in coreness(df).collect()}
    assert got == want


def test_coreness_raises_when_rounds_run_out(spark):
    """A path's degree-2 interior learns its coreness of 1 one hop per
    round from the ends, so two rounds cannot settle a 12-node path:
    coreness must raise instead of returning the unsettled values."""
    import pytest

    from server_spark.queries.joins_sets import coreness

    path = [(i, i + 1) for i in range(11)]
    df = spark.createDataFrame(path, "s long, t long")
    with pytest.raises(RuntimeError, match="did not converge in 2 rounds"):
        coreness(df, max_rounds=2)
    got = {r["item"]: r["coreness"] for r in coreness(df).collect()}
    assert got == _peel_coreness(set(path))


# ---------------------------------------------------------------------------
# t33 Kaplan–Meier: distributed estimator vs sequential reference
# ---------------------------------------------------------------------------

SPELLS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=8),   # duration (small so
        st.booleans(),                           # ties are routine)
    ),
    min_size=1,
    max_size=40,
)


def _km_reference(spells):
    """Textbook sequential KM: walk distinct times ascending, censored
    subjects at t stay at-risk for events at t."""
    from collections import defaultdict

    d = defaultdict(int)
    c = defaultdict(int)
    for t, ev in spells:
        (d if ev else c)[t] += 1
    out = []
    n_risk = len(spells)
    s = 1.0
    for t in sorted(set(d) | set(c)):
        if d[t]:
            s *= (n_risk - d[t]) / n_risk
            out.append((t, n_risk, d[t], c[t], s))
        n_risk -= d[t] + c[t]
    return out


@given(spells=SPELLS)
@_SETTINGS
def test_km_curve_matches_sequential_reference(spark, spells):
    from server_spark.operators import timeseries as ts_ops

    df = spark.createDataFrame(spells, "t long, ev boolean")
    got = sorted(
        (
            (r["t"], r["n_risk"], r["d"], r["n_censored"], r["survival"])
            for r in ts_ops.km_curve(df).collect()
        )
    )
    want = _km_reference(spells)
    assert [g[:4] for g in got] == [w[:4] for w in want]
    for g, w in zip(got, want):
        assert abs(g[4] - w[4]) < 1e-9
    # structural invariants: survival nonincreasing in (0, 1]
    survs = [g[4] for g in got]
    assert all(0.0 <= s <= 1.0 for s in survs)
    assert all(a >= b - 1e-12 for a, b in zip(survs, survs[1:]))


# ---------------------------------------------------------------------------
# a36 isotonic fit: PAVA vs the independent minimax characterization
# ---------------------------------------------------------------------------

ISO_POINTS = st.lists(
    st.tuples(
        st.integers(min_value=0, max_value=500),  # y (price-ish)
        st.integers(min_value=1, max_value=9),    # weight
    ),
    min_size=1,
    max_size=12,
)


def _minimax_isotonic(y, w, increasing):
    """Independent O(n³) reference: the isotonic LSQ fit equals
    ŷᵢ = max_{j≤i} min_{k≥i} weightedAv(y[j..k]) (increasing case;
    decreasing via negation). Textbook characterization — shares no
    code with the PAVA merge stack."""
    if not increasing:
        return [-v for v in _minimax_isotonic([-v for v in y], w, True)]

    def av(j, k):
        tw = sum(w[j:k + 1])
        return sum(yi * wi for yi, wi in zip(y[j:k + 1], w[j:k + 1])) / tw

    n = len(y)
    return [
        max(min(av(j, k) for k in range(i, n)) for j in range(i + 1))
        for i in range(n)
    ]


@given(pts=ISO_POINTS, inc=st.booleans())
@_SETTINGS
def test_isotonic_fit_matches_minimax_reference(spark, pts, inc):
    from server_spark.operators.isotonic import isotonic_fit

    rows = [(1, i, float(y), float(w)) for i, (y, w) in enumerate(pts)]
    df = spark.createDataFrame(
        rows, "item long, qty long, y double, w double"
    )
    got = (
        isotonic_fit(df, ["item"], "qty", "y", "w", increasing=inc)
        .orderBy("qty")
        .collect()
    )
    ys = [float(y) for y, _ in pts]
    ws = [float(w) for _, w in pts]
    want = _minimax_isotonic(ys, ws, inc)
    assert all(abs(g["fitted"] - wv) < 1e-8 for g, wv in zip(got, want))
    fitted = [g["fitted"] for g in got]
    # monotone in the requested direction + weighted-mean preserving
    pairs = zip(fitted, fitted[1:])
    if inc:
        assert all(a <= b + 1e-12 for a, b in pairs)
    else:
        assert all(a >= b - 1e-12 for a, b in pairs)
    assert abs(
        sum(f * w for f, w in zip(fitted, ws))
        - sum(y * w for y, w in zip(ys, ws))
    ) < 1e-6


# ---------------------------------------------------------------------------
# Native codec round-trips (r10): PNG / BMP / Y4M on ARBITRARY pixels
# ---------------------------------------------------------------------------

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st
from hypothesis.extra.numpy import arrays as np_arrays


@settings(max_examples=25, deadline=None)
@given(
    img=np_arrays(
        np.uint8,
        st.tuples(
            st.integers(1, 9), st.integers(1, 9), st.just(3)
        ),
    ),
    data=st.data(),
)
def test_png_roundtrip_any_pixels_any_filters(img, data):
    """decode(encode(img, any per-row filter mix)) == img for ANY
    uint8 RGB image — the strongest statement of the five filter
    reconstructions' correctness (golden fixtures only sample the
    space; hypothesis drives the adversarial corners: 1-px rows,
    saturated values, repeated rows)."""
    from server_spark.multimodal.image import decode_png, encode_png

    h = img.shape[0]
    filters = data.draw(
        st.lists(st.integers(0, 4), min_size=h, max_size=h)
    )
    dec = decode_png(encode_png(img, row_filters=filters))
    assert dec is not None and (dec == img).all()


@settings(max_examples=25, deadline=None)
@given(
    img=np_arrays(
        np.uint8,
        st.tuples(
            st.integers(1, 9), st.integers(1, 9), st.just(3)
        ),
    )
)
def test_bmp_roundtrip_any_pixels(img):
    from server_spark.multimodal.image import decode_bmp, encode_bmp

    dec = decode_bmp(encode_bmp(img))
    assert dec is not None and (dec == img).all()


@settings(max_examples=25, deadline=None)
@given(
    frames=st.lists(
        np_arrays(np.uint8, st.shared(
            st.tuples(st.integers(1, 8), st.integers(1, 8)),
            key="wh",
        )),
        min_size=1,
        max_size=5,
    )
)
def test_y4m_roundtrip_any_frames(frames):
    from server_spark.multimodal.video import encode_y4m_mono, parse_y4m

    parsed = parse_y4m(encode_y4m_mono(frames))
    assert parsed is not None
    _w, _h, got = parsed
    assert len(got) == len(frames)
    for a, b in zip(frames, got):
        assert (a == b).all()


@settings(max_examples=15, deadline=None)
@given(
    rate=st.sampled_from([8000, 16000, 44100]),
    channels=st.integers(1, 2),
    n=st.integers(1, 400),
    seed=st.integers(0, 10**6),
)
def test_wav_roundtrip_any_samples(rate, channels, n, seed):
    """parse(synthesize(x)) recovers the PCM16-quantized samples for
    arbitrary lengths/rates/channel counts (incl. odd data sizes that
    exercise RIFF word alignment)."""
    import numpy as np

    from server_spark.multimodal.audio import parse_pcm16

    rng = np.random.RandomState(seed)
    mono = rng.uniform(-0.99, 0.99, n)
    pcm = (mono * 32767).astype("<i2")
    frames_b = np.repeat(pcm[:, None], channels, axis=1).tobytes()
    byte_rate = rate * channels * 2
    wav = (
        b"RIFF" + (36 + len(frames_b)).to_bytes(4, "little") + b"WAVE"
        + b"fmt " + (16).to_bytes(4, "little")
        + (1).to_bytes(2, "little") + channels.to_bytes(2, "little")
        + rate.to_bytes(4, "little") + byte_rate.to_bytes(4, "little")
        + (channels * 2).to_bytes(2, "little") + (16).to_bytes(2, "little")
        + b"data" + len(frames_b).to_bytes(4, "little") + frames_b
    )
    parsed = parse_pcm16(wav)
    assert parsed is not None
    got_rate, got_ch, x = parsed
    assert (got_rate, got_ch) == (rate, channels)
    expect = pcm.astype(np.float64) / 32768.0
    assert np.allclose(x[:, 0], expect)
