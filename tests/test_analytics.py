"""Independent-reference tests for the r8 analytics batch (a40-a44,
t39, x102, x103).

Every oracle-backed query already runs against its DuckDB twin in
test_parity; these tests add a THIRD, hand-written Python
implementation (or a brute-force/property check) so a shared
misreading of the statistic can't pass parity by matching itself.
"""

from __future__ import annotations

import hashlib
import math
import re
from collections import Counter, defaultdict
from datetime import date, timedelta

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tests.conftest import SF_SMOKE

_SETTINGS = settings(max_examples=25, deadline=None)


def _r4(v: float) -> float:
    # mirror of parity.r4 for test-side comparison (4-decimal snap)
    from decimal import ROUND_HALF_UP, Decimal

    return float(
        Decimal(repr(float(v))).quantize(Decimal("0.0001"), ROUND_HALF_UP)
    )


def _events() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/events.parquet")


def _docs_pd() -> pd.DataFrame:
    return pd.read_parquet(f"{SF_SMOKE}/documents.parquet")


# ---------------------------------------------------------------------------
# a40 — KS test vs direct Python ECDF computation
# ---------------------------------------------------------------------------


def test_a40_ks_matches_python(spark):
    from server_spark.registry import queries

    got = {
        r["event_type"]: r
        for r in queries()["a40_ks_test"](spark, SF_SMOKE).collect()
    }

    ev = _events()
    anchor = date(1970, 1, 5)
    for etype, grp in ev.groupby("event_type"):
        wknd = grp["ts"].dt.date.map(
            lambda d: (d - anchor).days % 7 >= 5
        )
        w = sorted(grp.loc[wknd, "value"])
        d_ = sorted(grp.loc[~wknd, "value"])
        n1, n2 = len(w), len(d_)
        values = sorted(set(w) | set(d_))
        cw = cd = 0
        iw = idx = 0
        dnum = 0
        wi = di = 0
        for v in values:
            while wi < n1 and w[wi] <= v:
                cw += 1
                wi += 1
            while di < n2 and d_[di] <= v:
                cd += 1
                di += 1
            dnum = max(dnum, abs(cw * n2 - cd * n1))
        row = got[etype]
        assert row["n_weekend"] == n1 and row["n_weekday"] == n2
        assert row["d_stat"] == pytest.approx(
            _r4(dnum / (n1 * n2)), abs=1e-9
        )
        crit = _r4(1.3581 * math.sqrt((n1 + n2) / (n1 * n2)))
        assert row["significant"] == (row["d_stat"] > crit)


# ---------------------------------------------------------------------------
# a41 — bootstrap CI: determinism + statistical sanity
# ---------------------------------------------------------------------------


def test_a41_bootstrap_deterministic_and_sane(spark):
    from server_spark.registry import queries

    fn = queries()["a41_bootstrap_ci"]
    first = [tuple(r) for r in fn(spark, SF_SMOKE).collect()]
    second = [tuple(r) for r in fn(spark, SF_SMOKE).collect()]
    assert first == second  # hash draws, no RNG state

    # mean inside its own CI; SE within a loose factor of the
    # theoretical sd/sqrt(n) (Poisson bootstrap approximates it)
    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    sup = pd.read_parquet(f"{SF_SMOKE}/supplier.parquet")
    nat = pd.read_parquet(f"{SF_SMOKE}/nation.parquet")
    reg = pd.read_parquet(f"{SF_SMOKE}/region.parquet")
    m = (
        li.merge(sup, left_on="l_suppkey", right_on="s_suppkey")
        .merge(nat, left_on="s_nationkey", right_on="n_nationkey")
        .merge(reg, left_on="n_regionkey", right_on="r_regionkey")
    )
    for row in fn(spark, SF_SMOKE).collect():
        assert row["ci_lo"] <= row["mean_buyout"] <= row["ci_hi"]
        assert row["boot_se"] > 0
        g = m[m["r_name"] == row["region_name"]]["l_extendedprice"]
        theo = g.std(ddof=1) / math.sqrt(len(g))
        assert 0.2 * theo < row["boot_se"] < 5 * theo


# ---------------------------------------------------------------------------
# a42 — skyline vs brute-force dominance (hypothesis, tiny grid)
# ---------------------------------------------------------------------------

_PTS = st.lists(
    st.tuples(st.integers(0, 40), st.integers(1, 12)),  # (cents, qty)
    min_size=1,
    max_size=50,
)


@given(pts=_PTS)
@_SETTINGS
def test_a42_skyline_matches_bruteforce(spark, pts):
    from server_spark.queries.ext_analytics import skyline_frontier

    best: dict[int, int] = {}
    for c, q in pts:
        best[c] = max(best.get(c, 0), q)
    cand = [(c, float(q)) for c, q in best.items()]
    want = sorted(
        (c, q)
        for c, q in cand
        if not any(c2 < c and q2 >= q for c2, q2 in cand)
    )
    df = spark.createDataFrame(cand, "cents long, qty double")
    # grid=7 forces many buckets and bucket-boundary cases
    got = [
        (r["buyout_cents"], r["quantity"])
        for r in skyline_frontier(df, grid=7).collect()
    ]
    assert got == want


# ---------------------------------------------------------------------------
# a43 — Adamic-Adar vs direct Python computation
# ---------------------------------------------------------------------------


def test_a43_adamic_adar_matches_python(spark):
    from server_spark.queries.ext_analytics import _A43_MICRO
    from server_spark.registry import queries

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    io = set(zip(li["l_partkey"], li["l_suppkey"]))
    owners = defaultdict(set)
    for item, owner in io:
        owners[item].add(owner)
    scores: Counter = Counter()
    shared: Counter = Counter()
    for item, os_ in owners.items():
        n = len(os_)
        if not 2 <= n <= 40:
            continue
        os_sorted = sorted(os_)
        for i in range(len(os_sorted)):
            for j in range(i + 1, len(os_sorted)):
                key = (os_sorted[i], os_sorted[j])
                scores[key] += _A43_MICRO[n]
                shared[key] += 1
    want = sorted(
        ((a, b, shared[(a, b)], s) for (a, b), s in scores.items()),
        key=lambda t: (-t[3], t[0], t[1]),
    )[:100]
    got = [
        (r["owner_a"], r["owner_b"], r["n_shared"], r["aa_micro"])
        for r in queries()["a43_adamic_adar"](spark, SF_SMOKE).collect()
    ]
    assert got == want


# ---------------------------------------------------------------------------
# a44 — mutual information vs direct Python computation
# ---------------------------------------------------------------------------


def test_a44_mutual_information_matches_python(spark):
    from server_spark.registry import queries

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    sup = pd.read_parquet(f"{SF_SMOKE}/supplier.parquet")
    nat = pd.read_parquet(f"{SF_SMOKE}/nation.parquet")
    reg = pd.read_parquet(f"{SF_SMOKE}/region.parquet")
    m = (
        li.merge(sup, left_on="l_suppkey", right_on="s_suppkey")
        .merge(nat, left_on="s_nationkey", right_on="n_nationkey")
        .merge(reg, left_on="n_regionkey", right_on="r_regionkey")
    )
    joint = Counter(zip(m["l_returnflag"], m["r_name"]))
    n = sum(joint.values())
    cx: Counter = Counter()
    cy: Counter = Counter()
    for (x, y), c in joint.items():
        cx[x] += c
        cy[y] += c
    hx = -sum(c / n * math.log(c / n) for c in cx.values())
    hy = -sum(c / n * math.log(c / n) for c in cy.values())
    mi = sum(
        c / n * math.log(c * n / (cx[x] * cy[y]))
        for (x, y), c in joint.items()
    )
    row = queries()["a44_mutual_information"](spark, SF_SMOKE).collect()[0]
    assert row["n"] == n
    assert row["h_timeleft_nats"] == pytest.approx(hx, abs=2e-4)
    assert row["h_region_nats"] == pytest.approx(hy, abs=2e-4)
    assert row["mi_nats"] == pytest.approx(mi, abs=2e-4)
    assert row["nmi"] == pytest.approx(mi / math.sqrt(hx * hy), abs=2e-4)
    assert 0 <= row["nmi"] <= 1


# ---------------------------------------------------------------------------
# x102 — chunk dedup vs direct Python reimplementation
# ---------------------------------------------------------------------------


def test_x102_chunk_dedup_matches_python(spark):
    from server_spark.registry import queries

    docs = _docs_pd()
    chunks = []  # (hash, doc_id, ci, n_tok)
    for _, row in docs.iterrows():
        toks = re.split(r"\s+", str(row["text"]).strip().lower())
        for ci in range(math.ceil(len(toks) / 10)):
            seg = toks[ci * 10:(ci + 1) * 10]
            h = hashlib.md5(" ".join(seg).encode()).hexdigest()
            chunks.append((h, int(row["doc_id"]), ci, len(seg)))
    first: dict[str, int] = {}
    for h, d, ci, _ in chunks:
        key = d * 1_000_000 + ci
        first[h] = min(first.get(h, key), key)
    want: dict[int, list[int]] = defaultdict(lambda: [0, 0, 0])
    for h, d, ci, nt in chunks:
        stats = want[d]
        stats[0] += 1
        if d * 1_000_000 + ci == first[h]:
            stats[1] += 1
            stats[2] += nt
    got = queries()["x102_chunk_dedup"](spark, SF_SMOKE).collect()
    assert len(got) == len(want)
    for r in got:
        n, kept, ktok = want[r["doc_id"]]
        assert (r["n_chunks"], r["kept_chunks"], r["removed_chunks"],
                r["kept_tokens"]) == (n, kept, n - kept, ktok)


# ---------------------------------------------------------------------------
# x103 — Fleiss kappa vs direct Python computation
# ---------------------------------------------------------------------------


def test_x103_fleiss_matches_python(spark):
    from server_spark.registry import queries

    docs = _docs_pd()
    sumsq = tot = 0
    nd = len(docs)
    for _, row in docs.iterrows():
        toks = re.split(r"\s+", str(row["text"]).strip().lower())
        pos = (
            int(row["n_chars"] >= 200)
            + int(len(toks) >= 40)
            + int(2 * len(set(toks)) >= len(toks))
        )
        tot += pos
        sumsq += pos * pos + (3 - pos) * (3 - pos)
    p_bar = (sumsq - 3 * nd) / (6 * nd)
    p1 = tot / (3 * nd)
    p_e = p1 * p1 + (1 - p1) * (1 - p1)
    kappa = (p_bar - p_e) / (1 - p_e)
    row = queries()["x103_fleiss_kappa"](spark, SF_SMOKE).collect()[0]
    assert row["n_docs"] == nd
    assert row["p_bar"] == pytest.approx(p_bar, abs=2e-4)
    assert row["p_e"] == pytest.approx(p_e, abs=2e-4)
    assert row["fleiss_kappa"] == pytest.approx(kappa, abs=2e-4)


# ---------------------------------------------------------------------------
# t39 — Hurst exponent vs direct Python R/S reference
# ---------------------------------------------------------------------------


def _python_rs(xs: list[int], sizes=(32, 64, 128)):
    """Reference R/S curve + fitted Hurst for one dense series."""
    pts = []
    for n in sizes:
        rss = []
        for b in range(len(xs) // n):
            blk = xs[b * n:(b + 1) * n]
            s1 = sum(blk)
            cum = 0
            nzs = []
            for k, x in enumerate(blk, start=1):
                cum += x
                nzs.append(n * cum - k * s1)
            rn = max(nzs) - min(nzs)
            s2n = n * sum(x * x for x in blk) - s1 * s1
            if s2n > 0:
                rss.append(rn / math.sqrt(s2n))
        if rss:
            pts.append((math.log(n), math.log(sum(rss) / len(rss))))
    m = len(pts)
    sx = sum(p[0] for p in pts)
    sy = sum(p[1] for p in pts)
    sxy = sum(p[0] * p[1] for p in pts)
    sxx = sum(p[0] * p[0] for p in pts)
    return (sxy - sx * sy / m) / (sxx - sx * sx / m)


def test_t39_hurst_matches_python_reference(spark):
    from server_spark.registry import queries

    ev = _events()
    anchor = pd.Timestamp("2024-01-01 00:00:00")
    got = {
        r["event_type"]: r
        for r in queries()["t39_hurst_exponent"](
            spark, SF_SMOKE
        ).collect()
    }
    for etype, grp in ev.groupby("event_type"):
        hours = (
            (grp["ts"].dt.floor("h") - anchor) // pd.Timedelta(hours=1)
        ).astype(int)
        counts = Counter(hours)
        hmin, hmax = min(counts), max(counts)
        xs = [counts.get(h, 0) for h in range(hmin, hmax + 1)]
        assert got[etype]["hurst"] == pytest.approx(
            _python_rs(xs), abs=2e-4
        )


def test_t39_hurst_flags_persistence(spark, tmp_path):
    """White-noise counts give H near 1/2; a strongly trending series
    gives H near 1 — the query must separate the two regimes."""
    import numpy as np

    from server_spark.registry import queries

    rng = np.random.RandomState(7)
    hours = 768
    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    # iid series: one event row per unit of count
    for h in range(hours):
        for _ in range(int(rng.poisson(4))):
            rows.append(("iid", base + pd.Timedelta(hours=h)))
    # persistent series: slow sinusoidal intensity (long memory proxy)
    for h in range(hours):
        lam = 6 + 5 * math.sin(2 * math.pi * h / 256)
        for _ in range(max(0, int(round(lam)))):
            rows.append(("persist", base + pd.Timedelta(hours=h)))
    ev = pd.DataFrame(rows, columns=["event_type", "ts"])
    ev["event_id"] = range(len(ev))
    ev["user_id"] = 1
    ev["value"] = 1.0
    ev["props"] = "{}"
    td = str(tmp_path / "sf")
    import os

    os.makedirs(td)
    ev[["event_id", "ts", "user_id", "event_type", "value", "props"]
       ].to_parquet(os.path.join(td, "events.parquet"), index=False)
    got = {
        r["event_type"]: r["hurst"]
        for r in queries()["t39_hurst_exponent"](spark, td).collect()
    }
    assert 0.3 < got["iid"] < 0.65
    assert got["persist"] > 0.75
    assert got["persist"] > got["iid"] + 0.15


# ---------------------------------------------------------------------------
# x104 — matryoshka recall invariants
# ---------------------------------------------------------------------------


def test_x104_matryoshka_invariants(spark):
    from server_spark.registry import queries

    rows = queries()["x104_matryoshka_recall"](spark, SF_SMOKE).collect()
    by_dim = {r["dim"]: r["recall_at_10"] for r in rows}
    assert by_dim[64] == 1.0  # full prefix reproduces the baseline
    assert all(0.0 <= v <= 1.0 for v in by_dim.values())
    # longer prefixes can only see more of the true geometry
    dims = sorted(by_dim)
    assert all(
        by_dim[a] <= by_dim[b] + 1e-9 for a, b in zip(dims, dims[1:])
    )


# ---------------------------------------------------------------------------
# a45 — trimmed/winsorized means vs direct Python computation
# ---------------------------------------------------------------------------


def test_a45_trimmed_mean_matches_python(spark):
    from server_spark.registry import queries

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    got = {
        r["time_left"]: r
        for r in queries()["a45_trimmed_mean"](spark, SF_SMOKE).collect()
    }
    from decimal import Decimal

    for tl, grp in li.groupby("l_returnflag"):
        cents = sorted(
            int(Decimal(repr(float(v))).quantize(Decimal("0.01")) * 100)
            for v in grp["l_extendedprice"]
        )
        n = len(cents)
        t = int(math.floor(n * 0.1))
        kept = cents[t:n - t]
        row = got[tl]
        assert row["n"] == n and row["trim_k"] == t
        assert row["mean_buyout"] == pytest.approx(
            sum(cents) / (100 * n), abs=1e-4
        )
        assert row["trimmed_mean"] == pytest.approx(
            sum(kept) / (100 * len(kept)), abs=1e-4
        )
        wins = sum(kept) + t * kept[0] + t * kept[-1]
        assert row["winsorized_mean"] == pytest.approx(
            wins / (100 * n), abs=1e-4
        )
        # robustness ordering sanity: trimmed between min/max of kept
        assert kept[0] / 100 <= row["trimmed_mean"] <= kept[-1] / 100


# ---------------------------------------------------------------------------
# a46 — l-diversity vs direct Python computation
# ---------------------------------------------------------------------------


def test_a46_l_diversity_matches_python(spark):
    from server_spark.registry import queries

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    got = {
        (r["item"], r["time_left"]): r
        for r in queries()["a46_l_diversity"](spark, SF_SMOKE).collect()
    }
    groups = li.groupby(["l_partkey", "l_returnflag"])["l_suppkey"]
    assert len(got) == groups.ngroups
    for (item, tl), owners in groups:
        row = got[(item, tl)]
        counts = Counter(owners)
        nsz = sum(counts.values())
        ent = -sum(c / nsz * math.log(c / nsz) for c in counts.values())
        assert row["group_size"] == nsz
        assert row["distinct_owners"] == len(counts)
        assert row["entropy_l"] == pytest.approx(
            math.exp(ent), abs=2e-4
        )
        assert row["at_risk"] == (len(counts) < 3)
        # entropy-l never exceeds the distinct count
        assert row["entropy_l"] <= len(counts) + 1e-6


# ---------------------------------------------------------------------------
# x105 — source vocabulary overlap vs direct Python computation
# ---------------------------------------------------------------------------


def test_x105_source_overlap_matches_python(spark):
    from server_spark.registry import queries

    docs = _docs_pd()
    vocab: dict[str, set] = defaultdict(set)
    for _, row in docs.iterrows():
        toks = re.split(r"\s+", str(row["text"]).strip().lower())
        vocab[row["source"]].update(toks)
    got = {
        (r["src_a"], r["src_b"]): r
        for r in queries()["x105_source_overlap"](
            spark, SF_SMOKE
        ).collect()
    }
    srcs = sorted(vocab)
    n_expected = 0
    for i, a in enumerate(srcs):
        for b in srcs[i + 1:]:
            common = len(vocab[a] & vocab[b])
            if common == 0:
                assert (a, b) not in got
                continue
            n_expected += 1
            row = got[(a, b)]
            assert row["common_vocab"] == common
            union = len(vocab[a] | vocab[b])
            assert row["vocab_jaccard"] == pytest.approx(
                common / union, abs=1e-4
            )
            assert row["vocab_containment"] == pytest.approx(
                common / min(len(vocab[a]), len(vocab[b])), abs=1e-4
            )
    assert len(got) == n_expected


# ---------------------------------------------------------------------------
# x106 — minhash eval confusion counts consistent with its two legs
# ---------------------------------------------------------------------------


def test_x106_confusion_consistent_with_legs(spark):
    from server_spark.queries.ext_common import JACCARD_MIN, _docs
    from server_spark.queries.ext_dedup import _md5_minhash_pairs
    from server_spark.dedup import ngram as ng
    from server_spark.registry import queries

    row = queries()["x106_minhash_eval"](spark, SF_SMOKE).collect()[0]
    docs = _docs(spark, SF_SMOKE)
    n_truth = ng.jaccard_pairs(docs, n=3, threshold=JACCARD_MIN).count()
    n_est = _md5_minhash_pairs(docs, JACCARD_MIN).count()
    assert row["tp"] + row["fn"] == n_truth
    assert row["tp"] + row["fp"] == n_est
    assert 0.0 <= row["prec"] <= 1.0 and 0.0 <= row["recall"] <= 1.0
    # harmonic-mean identity from the raw counts
    tp, fp, fn = row["tp"], row["fp"], row["fn"]
    if 2 * tp + fp + fn:
        assert row["f1"] == pytest.approx(
            2 * tp / (2 * tp + fp + fn), abs=1e-4
        )
    # 32 hashes at a 0.2 threshold: the sketch must find most of the
    # truth set at smoke scale (catches banding/signature regressions)
    if n_truth:
        assert row["recall"] >= 0.6


def test_x133_x134_leakage_found_then_closed(spark):
    """The audit/remedy pair tells one story: x133 finds near-dup
    pairs crossing the naive per-doc split (real leakage on this
    corpus), x134's cluster-respecting split moves docs and reports
    ZERO remaining cross-split pairs — and conserves the corpus."""
    from server_spark.registry import queries

    audit = queries()["x133_split_leakage"](spark, SF_SMOKE).collect()
    crossing = sum(r["n_pairs"] for r in audit if r["crosses_split"])
    total_pairs = sum(r["n_pairs"] for r in audit)
    assert crossing > 0  # the naive split leaks on this corpus

    remedy = queries()["x134_cluster_split"](spark, SF_SMOKE).collect()
    assert {r["split"] for r in remedy} <= {"train", "val", "test"}
    assert sum(r["n_docs"] for r in remedy) == 500  # corpus conserved
    assert all(r["cross_pairs_after"] == 0 for r in remedy)
    assert sum(r["n_moved"] for r in remedy) > 0  # the remedy did work
    # pair universe unchanged by re-splitting (sanity on the audit)
    assert total_pairs > 0


def test_x137_budget_reflects_cluster_survivors(spark):
    """Post-dedup budgets must be consistent with the same component
    structure x134 uses: total docs after = 500 − (cluster members −
    clusters), every source keeps at least one doc, removed share in
    [0, 1), and the capped mix weight obeys x28's formula on the
    AFTER counts."""
    from server_spark.dedup.components import connected_components
    from server_spark.queries.ext_common import _docs
    from server_spark.queries.ext_dedup import _md5_minhash_pairs
    from server_spark.registry import queries

    rows = queries()["x137_dedup_aware_mix"](spark, SF_SMOKE).collect()
    docs = _docs(spark, SF_SMOKE)
    comp = connected_components(
        _md5_minhash_pairs(docs, 0.2)
    ).collect()
    members = len(comp)
    clusters = len({r["component"] for r in comp})
    assert sum(r["n_docs_before"] for r in rows) == 500
    assert sum(r["n_docs_after"] for r in rows) == 500 - members + clusters
    total_after = sum(r["tokens_after"] for r in rows)
    n_sources = len(rows)
    for r in rows:
        assert 0 <= r["removed_token_share"] < 1
        assert r["n_docs_after"] >= 1
        expect = min(2.0, (total_after / n_sources) / r["tokens_after"])
        assert r["mix_weight_after"] == pytest.approx(expect, abs=1e-3)
    # dedup must actually have removed something on this corpus
    assert members > clusters


def test_x106_hash_sample_agrees_with_full_on_subset(spark, tmp_path):
    """The sample_mod valve is exact restriction, not approximation:
    x106 at sample_mod=m equals the full eval run over a corpus that
    was pre-filtered to the same deterministic hash-sample. (That is
    the property that makes the 100 TB sampled eval trustworthy —
    sampling happens before BOTH legs, so the confusion matrix is the
    true matrix of the sampled corpus.)"""
    from server_spark.queries.ext_common import _docs, hash_sample
    from server_spark.queries.ext_dedup import (
        x106_minhash_eval,
        x107_lsh_calibration,
    )

    mod = 2
    sampled_docs = hash_sample(_docs(spark, SF_SMOKE), mod)
    assert 0 < sampled_docs.count() < _docs(spark, SF_SMOKE).count()
    sampled_docs.toPandas().to_parquet(tmp_path / "documents.parquet")

    direct = x106_minhash_eval(spark, SF_SMOKE, sample_mod=mod).collect()
    prefiltered = x106_minhash_eval(spark, str(tmp_path)).collect()
    assert [tuple(r) for r in direct] == [tuple(r) for r in prefiltered]

    d7 = x107_lsh_calibration(spark, SF_SMOKE, sample_mod=mod).collect()
    p7 = x107_lsh_calibration(spark, str(tmp_path)).collect()
    assert [tuple(r) for r in d7] == [tuple(r) for r in p7]


# ---------------------------------------------------------------------------
# a47 — chi-squared independence vs direct Python computation
# ---------------------------------------------------------------------------


def test_a47_chi2_matches_python(spark):
    from server_spark.registry import queries

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    sup = pd.read_parquet(f"{SF_SMOKE}/supplier.parquet")
    nat = pd.read_parquet(f"{SF_SMOKE}/nation.parquet")
    reg = pd.read_parquet(f"{SF_SMOKE}/region.parquet")
    m = (
        li.merge(sup, left_on="l_suppkey", right_on="s_suppkey")
        .merge(nat, left_on="s_nationkey", right_on="n_nationkey")
        .merge(reg, left_on="n_regionkey", right_on="r_regionkey")
    )
    joint = Counter(zip(m["l_returnflag"], m["r_name"]))
    n = sum(joint.values())
    rx: Counter = Counter()
    cy: Counter = Counter()
    for (x, y), c in joint.items():
        rx[x] += c
        cy[y] += c
    chi2 = sum(
        (c - rx[x] * cy[y] / n) ** 2 / (rx[x] * cy[y] / n)
        for (x, y), c in joint.items()
    )
    df = (len(rx) - 1) * (len(cy) - 1)
    v = math.sqrt(chi2 / (n * min(len(rx) - 1, len(cy) - 1)))
    row = queries()["a47_chi2_independence"](spark, SF_SMOKE).collect()[0]
    assert row["n"] == n and row["df"] == df
    assert row["chi2"] == pytest.approx(chi2, abs=2e-3)
    assert row["cramers_v"] == pytest.approx(v, abs=2e-4)
    assert row["dependent"] == (row["chi2"] > row["crit_95"])


# ---------------------------------------------------------------------------
# w15 — weighted median vs direct Python computation
# ---------------------------------------------------------------------------


def test_w15_weighted_median_matches_python(spark):
    from decimal import Decimal

    from server_spark.registry import queries

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    li = li[(li["l_quantity"] > 0) & (li["l_extendedprice"] > 0)]
    got = {
        r["item"]: r
        for r in queries()["w15_weighted_median"](
            spark, SF_SMOKE
        ).collect()
    }
    assert len(got) == li["l_partkey"].nunique()
    for item, grp in li.groupby("l_partkey"):
        pairs = defaultdict(int)
        for _, row in grp.iterrows():
            v = float(row["l_extendedprice"]) / float(row["l_quantity"])
            w = int(
                Decimal(repr(float(row["l_quantity"]))).quantize(
                    Decimal("0.01")
                )
                * 100
            )
            pairs[v] += w
        totw = sum(pairs.values())
        cum = 0
        wmed = None
        for v in sorted(pairs):
            cum += pairs[v]
            if 2 * cum >= totw:
                wmed = v
                break
        r = got[item]
        assert r["total_quantity"] == pytest.approx(totw / 100, abs=1e-4)
        assert r["weighted_median_per_unit"] == pytest.approx(
            wmed, abs=2e-4
        )


# ---------------------------------------------------------------------------
# t40 — periodogram vs Python reference + planted-cycle regime test
# ---------------------------------------------------------------------------


def _python_periodogram(xs_by_t: dict[int, int], periods=range(2, 11)):
    ts = sorted(xs_by_t)
    mean = sum(xs_by_t.values()) / len(ts)
    rv = {t: xs_by_t[t] - mean for t in ts}
    den = sum(r * r for r in rv.values())
    out = {}
    for p in periods:
        c = sum(rv[t] * math.cos(2 * math.pi * t / p) for t in ts)
        s = sum(rv[t] * math.sin(2 * math.pi * t / p) for t in ts)
        out[p] = (c * c + s * s) / den
    return out


def test_t40_periodogram_matches_python(spark):
    from server_spark.registry import queries

    ev = _events()
    anchor = date(2024, 1, 1)
    got = {
        r["event_type"]: r
        for r in queries()["t40_periodogram"](spark, SF_SMOKE).collect()
    }
    for etype, grp in ev.groupby("event_type"):
        days = Counter(
            (d - anchor).days for d in grp["ts"].dt.date
        )
        powers = _python_periodogram(days)
        best = min(
            powers, key=lambda p: (-_r4(powers[p]), p)
        )
        row = got[etype]
        assert row["best_period"] == best
        assert row["best_power"] == pytest.approx(
            powers[best], abs=2e-4
        )
        assert row["weekly_power"] == pytest.approx(
            powers[7], abs=2e-4
        )


def test_t40_periodogram_finds_planted_cycle(spark, tmp_path):
    import os

    from server_spark.registry import queries

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    for d in range(56):
        lam = 10 + 8 * math.sin(2 * math.pi * d / 7)
        for _ in range(max(1, int(round(lam)))):
            rows.append(("cyclic", base + pd.Timedelta(days=d)))
    ev = pd.DataFrame(rows, columns=["event_type", "ts"])
    ev["event_id"] = range(len(ev))
    ev["user_id"] = 1
    ev["value"] = 1.0
    ev["props"] = "{}"
    td = str(tmp_path / "sf")
    os.makedirs(td)
    ev[["event_id", "ts", "user_id", "event_type", "value", "props"]
       ].to_parquet(os.path.join(td, "events.parquet"), index=False)
    row = queries()["t40_periodogram"](spark, td).collect()[0]
    assert row["best_period"] == 7
    assert row["best_power"] == row["weekly_power"]


# ---------------------------------------------------------------------------
# t41 — spectral entropy vs Python reference + regime contrast
# ---------------------------------------------------------------------------


def test_t41_spectral_entropy_matches_python(spark):
    from server_spark.registry import queries

    ev = _events()
    anchor = date(2024, 1, 1)
    got = {
        r["event_type"]: r
        for r in queries()["t41_spectral_entropy"](
            spark, SF_SMOKE
        ).collect()
    }
    for etype, grp in ev.groupby("event_type"):
        days = Counter((d - anchor).days for d in grp["ts"].dt.date)
        powers = _python_periodogram(days)
        tot = sum(powers.values())
        fr = [p / tot for p in powers.values() if p > 0]
        h = -sum(f * math.log(f) for f in fr) / math.log(len(powers))
        row = got[etype]
        assert row["spectral_entropy"] == pytest.approx(h, abs=2e-4)
        assert row["forecastability"] == pytest.approx(1 - h, abs=2e-4)
        assert 0.0 <= row["spectral_entropy"] <= 1.0 + 1e-9


def test_t41_planted_cycle_lowers_entropy(spark, tmp_path):
    import os

    from server_spark.registry import queries

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    rngstate = 12345
    for d in range(56):
        lam = 10 + 8 * math.sin(2 * math.pi * d / 7)
        for _ in range(max(1, int(round(lam)))):
            rows.append(("cyclic", base + pd.Timedelta(days=d)))
        # arithmetic noise series: deterministic pseudo-random counts
        rngstate = (rngstate * 1103515245 + 12345) % (2 ** 31)
        for _ in range(5 + rngstate % 11):
            rows.append(("noisy", base + pd.Timedelta(days=d)))
    ev = pd.DataFrame(rows, columns=["event_type", "ts"])
    ev["event_id"] = range(len(ev))
    ev["user_id"] = 1
    ev["value"] = 1.0
    ev["props"] = "{}"
    td = str(tmp_path / "sf")
    os.makedirs(td)
    ev[["event_id", "ts", "user_id", "event_type", "value", "props"]
       ].to_parquet(os.path.join(td, "events.parquet"), index=False)
    got = {
        r["event_type"]: r["spectral_entropy"]
        for r in queries()["t41_spectral_entropy"](spark, td).collect()
    }
    assert got["cyclic"] < got["noisy"] - 0.1  # cycle concentrates power


# ---------------------------------------------------------------------------
# x107 — LSH calibration invariants
# ---------------------------------------------------------------------------


def test_x107_lsh_calibration_invariants(spark):
    from server_spark.registry import queries

    rows = queries()["x107_lsh_calibration"](spark, SF_SMOKE).collect()
    assert rows, "banding produced no candidate pairs at smoke scale"
    for r in rows:
        assert 0 <= r["j_bin"] <= 9
        assert r["n_pairs"] > 0
        assert 0.0 <= r["mean_est"] <= 1.0
        assert 0.0 <= r["mean_exact"] <= 1.0
        assert r["mean_bias"] == pytest.approx(
            r["mean_est"] - r["mean_exact"], abs=2e-4
        )
    # the most-similar populated bin must be near-unbiased: 32-hash
    # estimator sd at j~0.95 is ~0.04; selection effects live in the
    # LOW bins, not here
    top = max(rows, key=lambda r: r["j_bin"])
    if top["n_pairs"] >= 10:
        assert abs(top["mean_bias"]) < 0.05


# ---------------------------------------------------------------------------
# t42 — DTW vs an independent full-matrix reference implementation
# ---------------------------------------------------------------------------


def _full_dtw(p, q, w):
    """O(n*m) memo-table DTW with the same band semantics, written
    independently of the query's rolling-row implementation."""
    n, m = len(p), len(q)
    w = max(w, abs(n - m))
    inf = float("inf")
    D = [[inf] * (m + 1) for _ in range(n + 1)]
    D[0][0] = 0.0
    for i in range(1, n + 1):
        for j in range(max(1, i - w), min(m, i + w) + 1):
            cost = abs(p[i - 1] - q[j - 1])
            D[i][j] = cost + min(
                D[i - 1][j], D[i][j - 1], D[i - 1][j - 1]
            )
    return D[n][m]


def test_t42_dtw_matches_reference(spark):
    import numpy as np

    from server_spark.queries.timeseries import _T42_BAND
    from server_spark.registry import queries

    ev = _events()
    anchor = date(2024, 1, 1)
    counts = {}
    for etype, grp in ev.groupby("event_type"):
        counts[etype] = Counter(
            (d - anchor).days for d in grp["ts"].dt.date
        )

    def _znorm(v):
        sd = v.std()
        return (v - v.mean()) / sd if sd > 0 else v - v.mean()

    got = {
        (r["ev_a"], r["ev_b"]): r
        for r in queries()["t42_dtw_similarity"](
            spark, SF_SMOKE
        ).collect()
    }
    names = sorted(counts)
    assert len(got) == len(names) * (len(names) - 1) // 2
    for i, a in enumerate(names):
        for b in names[i + 1:]:
            row = got[(a, b)]
            # union-grid densification (mirrors the query): both
            # series share one calendar span so DTW and Euclidean
            # compare aligned vectors
            lo = min(min(counts[a]), min(counts[b]))
            hi = max(max(counts[a]), max(counts[b]))
            va = _znorm(np.array(
                [counts[a].get(t, 0) for t in range(lo, hi + 1)], float
            ))
            vb = _znorm(np.array(
                [counts[b].get(t, 0) for t in range(lo, hi + 1)], float
            ))
            want = _full_dtw(va, vb, _T42_BAND)
            assert row["dtw_dist"] == pytest.approx(want, abs=2e-4)
            euc = float(np.sqrt(((va - vb) ** 2).sum()))
            assert row["euclid_dist"] == pytest.approx(euc, abs=2e-4)
            # warping can only reduce L1 path cost vs any alignment,
            # and a series is identical to itself
            assert row["dtw_dist"] >= 0


def test_t42_dtw_shift_invariance(spark, tmp_path):
    """A copy of a series shifted by 2 days must be much closer under
    DTW than under lock-step Euclidean — the reason DTW exists."""
    import os

    from server_spark.registry import queries

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    for d in range(40):
        # same date span for both series — the phase of the pattern
        # shifts, not the span, so the union grid equals each span
        lam = 10 + 8 * math.sin(2 * math.pi * d / 10)
        lam_s = 10 + 8 * math.sin(2 * math.pi * (d - 2) / 10)
        for _ in range(max(1, int(round(lam)))):
            rows.append(("orig", base + pd.Timedelta(days=d)))
        for _ in range(max(1, int(round(lam_s)))):
            rows.append(("shifted", base + pd.Timedelta(days=d)))
    ev = pd.DataFrame(rows, columns=["event_type", "ts"])
    ev["event_id"] = range(len(ev))
    ev["user_id"] = 1
    ev["value"] = 1.0
    ev["props"] = "{}"
    td = str(tmp_path / "sf")
    os.makedirs(td)
    ev[["event_id", "ts", "user_id", "event_type", "value", "props"]
       ].to_parquet(os.path.join(td, "events.parquet"), index=False)
    row = queries()["t42_dtw_similarity"](spark, td).collect()[0]
    # warping absorbs the 2-day phase shift; lock-step distance can't
    # (measured ~0.36x — count rounding and edges keep it nonzero)
    assert row["dtw_dist"] < 0.5 * row["euclid_dist"]


# ---------------------------------------------------------------------------
# t43 — Holt-Winters vs an independent Python reference
# ---------------------------------------------------------------------------


def _hw_reference(xs, m=7, alpha=0.3, beta=0.1, gamma=0.2, horizon=7):
    mean1 = sum(xs[:m]) / m
    mean2 = sum(xs[m:2 * m]) / m
    level, trend = mean1, (mean2 - mean1) / m
    season = [v - mean1 for v in xs[:m]]
    for t, x in enumerate(xs):
        si = t % m
        prev = level
        level = alpha * (x - season[si]) + (1 - alpha) * (level + trend)
        trend = beta * (level - prev) + (1 - beta) * trend
        season[si] = gamma * (x - level) + (1 - gamma) * season[si]
    return [
        level + h * trend + season[(len(xs) + h - 1) % m]
        for h in range(1, horizon + 1)
    ]


def test_t43_holt_winters_matches_reference(spark):
    from server_spark.registry import queries

    ev = _events()
    got = queries()["t43_holt_winters"](spark, SF_SMOKE).collect()
    by_et = defaultdict(dict)
    for r in got:
        by_et[r["event_type"]][r["horizon"]] = r["forecast"]
    for etype, grp in ev.groupby("event_type"):
        days = Counter(grp["ts"].dt.date)
        # calendar-dense grid, zeros for missing days (mirrors the
        # query's densification — a skipped day must not shift the
        # weekly seasonal phase)
        lo, hi = min(days), max(days)
        xs = [
            float(days.get(lo + timedelta(days=i), 0))
            for i in range((hi - lo).days + 1)
        ]
        if len(xs) < 14:
            assert etype not in by_et
            continue
        want = _hw_reference(xs)
        for h in range(1, 8):
            assert by_et[etype][h] == pytest.approx(
                want[h - 1], rel=1e-9
            )


def test_t43_tracks_planted_weekly_shape(spark, tmp_path):
    """On a clean weekly pattern the h-step forecasts must reproduce
    the day-of-week shape (peak day forecast > trough day forecast)."""
    import os

    from server_spark.registry import queries

    base = pd.Timestamp("2024-01-01 00:00:00")  # a Monday
    shape = [4, 4, 4, 4, 4, 20, 20]  # weekend spike
    rows = []
    for d in range(42):
        for _ in range(shape[d % 7]):
            rows.append(("wk", base + pd.Timedelta(days=d)))
    ev = pd.DataFrame(rows, columns=["event_type", "ts"])
    ev["event_id"] = range(len(ev))
    ev["user_id"] = 1
    ev["value"] = 1.0
    ev["props"] = "{}"
    td = str(tmp_path / "sf")
    os.makedirs(td)
    ev[["event_id", "ts", "user_id", "event_type", "value", "props"]
       ].to_parquet(os.path.join(td, "events.parquet"), index=False)
    got = {
        r["horizon"]: r["forecast"]
        for r in queries()["t43_holt_winters"](spark, td).collect()
    }
    # series ends on day 41 (a Thursday index 41%7=6... horizons map
    # onto the shape cyclically); just check forecast spread mirrors
    # the planted 5x weekend spike
    assert max(got.values()) > 2.5 * max(1e-9, min(got.values()))


# ---------------------------------------------------------------------------
# t44 — stationary distribution vs numpy power iteration
# ---------------------------------------------------------------------------


def test_t44_stationary_matches_numpy(spark):
    import numpy as np

    from server_spark.registry import queries

    ev = _events().sort_values(["user_id", "ts", "event_id"])
    states = sorted(ev["event_type"].unique())
    idx = {s: i for i, s in enumerate(states)}
    n = len(states)
    C = np.zeros((n, n))
    for _, grp in ev.groupby("user_id"):
        seq = grp["event_type"].tolist()
        for a, b in zip(seq, seq[1:]):
            C[idx[a], idx[b]] += 1
    P = C / C.sum(axis=1, keepdims=True)
    v = np.full(n, 1.0 / n) @ np.linalg.matrix_power(P, 64)
    got = {
        r["state"]: r
        for r in queries()["t44_markov_stationary"](
            spark, SF_SMOKE
        ).collect()
    }
    total = len(ev)
    for s in states:
        assert got[s]["stationary_prob"] == pytest.approx(
            v[idx[s]], abs=2e-4
        )
        assert got[s]["empirical_share"] == pytest.approx(
            (ev["event_type"] == s).sum() / total, abs=2e-4
        )
    assert sum(r["stationary_prob"] for r in got.values()) == (
        pytest.approx(1.0, abs=5e-4)
    )


def test_t44_terminal_sink_matches_oracle(spark, tmp_path):
    """A dangling-sink chain: 'login' is always followed by 'logout',
    which always ends a user's sequence, so every walk from 'login'
    dies after two steps while 'view' <-> 'click' keeps its mass. t44
    divides by the three sources of P^1 (not the two of P^64), so the
    stationary mass is 2/3, and it must match its DuckDB twin."""
    import os
    from datetime import datetime, timedelta

    from server_spark.parity_check import TABLES, run_parity

    seqs = [
        ["view", "click", "view", "click", "view"],
        ["click", "view", "view", "click", "click"],
        ["login", "logout"],
        ["login", "logout"],
    ]
    rows = [
        (user, event, i)
        for user, seq in enumerate(seqs) for i, event in enumerate(seq)
    ]
    t0 = datetime(2024, 1, 1)
    pd.DataFrame({
        "event_id": range(len(rows)),
        "ts": [t0 + timedelta(hours=user, minutes=i) for user, _, i in rows],
        "user_id": [user for user, _, _ in rows],
        "event_type": [event for _, event, _ in rows],
        "value": [1.0] * len(rows),
        "props": ['{"k": 0}'] * len(rows),
    }).astype({"ts": "datetime64[us]"}).to_parquet(
        tmp_path / "events.parquet", index=False
    )
    for t in TABLES:
        if t != "events":
            os.symlink(f"{SF_SMOKE}/{t}.parquet", tmp_path / f"{t}.parquet")
    passed, _, failed = run_parity(
        spark, str(tmp_path), only={"t44_markov_stationary"}, verbose=False
    )
    assert passed == ["t44_markov_stationary"] and not failed, failed
    from server_spark.registry import queries

    got = queries()["t44_markov_stationary"](spark, str(tmp_path)).collect()
    assert {r["state"] for r in got} == {"view", "click"}
    assert sum(r["stationary_prob"] for r in got) == pytest.approx(2 / 3, abs=2e-4)


# ---------------------------------------------------------------------------
# x108 / procrustes operator — numpy reference + planted-rotation recovery
# ---------------------------------------------------------------------------


def test_procrustes_matches_numpy_reference(spark):
    import numpy as np

    from server_spark.similarity.procrustes import procrustes_align

    rng = np.random.RandomState(3)
    a = rng.randn(120, 16)
    b = a @ np.linalg.qr(rng.randn(16, 16))[0] + 0.01 * rng.randn(120, 16)
    pairs = spark.createDataFrame(
        [(x.tolist(), y.tolist()) for x, y in zip(a, b)],
        "a array<double>, b array<double>",
    ).repartition(5)  # exercise multi-partition partial combination
    got = procrustes_align(pairs)
    # independent reference: full-matrix centered SVD in one numpy go
    ac = a - a.mean(0)
    bc = b - b.mean(0)
    u, _s, vt = np.linalg.svd(ac.T @ bc)
    r_ref = u @ vt
    resid_ref = float(((ac @ r_ref - bc) ** 2).sum() / (bc ** 2).sum())
    assert got.n == 120
    assert got.residual_rel == pytest.approx(resid_ref, rel=1e-6)
    assert np.allclose(np.array(got.rotation), r_ref, atol=1e-8)


def test_procrustes_recovers_planted_rotation(spark):
    import numpy as np

    from server_spark.similarity.procrustes import procrustes_align

    rng = np.random.RandomState(11)
    a = rng.randn(200, 12)
    r_true = np.linalg.qr(rng.randn(12, 12))[0]
    b = a @ r_true  # pure rotation, no noise
    pairs = spark.createDataFrame(
        [(x.tolist(), y.tolist()) for x, y in zip(a, b)],
        "a array<double>, b array<double>",
    ).repartition(4)
    got = procrustes_align(pairs)
    assert got.residual_rel < 1e-12  # exact recovery
    assert np.allclose(np.array(got.rotation), r_true, atol=1e-8)
    # orthogonality of the fitted rotation
    r = np.array(got.rotation)
    assert np.allclose(r.T @ r, np.eye(12), atol=1e-8)


def test_x108_quantization_alignment_invariants(spark):
    from server_spark.registry import queries

    row = queries()["x108_embedding_alignment"](
        spark, SF_SMOKE
    ).collect()[0]
    assert row["n"] > 0
    # int8 quantization is element-wise: same space up to tiny noise
    assert row["residual_rel"] < 1e-3
    assert row["trace_alignment"] > 0.999
    assert row["rotation_dev_from_identity"] < 0.1


# ---------------------------------------------------------------------------
# j13 — tolerance as-of vs direct Python computation
# ---------------------------------------------------------------------------


def test_j13_asof_tolerance_matches_python(spark):
    from server_spark.registry import queries

    ev = _events().sort_values("ts")
    clicks = ev[ev["event_type"] == "click"]
    got = {
        r["event_id"]: r
        for r in queries()["j13_asof_tolerance"](
            spark, SF_SMOKE
        ).collect()
    }
    assert len(got) == len(clicks)
    purchases = ev[ev["event_type"] == "purchase"]
    by_user = {
        u: list(zip(g["ts"], g["value"]))
        for u, g in purchases.groupby("user_id")
    }
    tol = pd.Timedelta(days=3)
    n_stale = n_fresh = 0
    for _, c in clicks.iterrows():
        cands = [
            (t, v)
            for t, v in by_user.get(c["user_id"], [])
            if t <= c["ts"]
        ]
        row = got[c["event_id"]]
        if not cands:
            assert row["recent_purchase_value"] is None
            assert row["is_stale"] is False
            continue
        t, v = max(cands)
        if t >= c["ts"] - tol:
            assert row["recent_purchase_value"] == pytest.approx(v)
            assert row["is_stale"] is False
            n_fresh += 1
        else:
            assert row["recent_purchase_value"] is None
            assert row["is_stale"] is True
            n_stale += 1
    assert n_fresh > 0  # fixture exercises both arms
    assert n_stale > 0


# ---------------------------------------------------------------------------
# x109 — dedup-rate report vs direct Python computation
# ---------------------------------------------------------------------------


def test_x109_dedup_rates_match_python(spark):
    from server_spark.registry import queries

    docs = _docs_pd()
    docs["hh"] = docs["text"].map(
        lambda t: hashlib.md5(str(t).strip().lower().encode()).hexdigest()
    )
    sources_of = docs.groupby("hh")["source"].nunique()
    multi = set(sources_of[sources_of > 1].index)
    got = {
        r["source"]: r
        for r in queries()["x109_dedup_rate_by_source"](
            spark, SF_SMOKE
        ).collect()
    }
    for src, grp in docs.groupby("source"):
        row = got[src]
        assert row["n_docs"] == len(grp)
        assert row["n_unique"] == grp["hh"].nunique()
        assert row["internal_dup_rate"] == pytest.approx(
            1 - grp["hh"].nunique() / len(grp), abs=1e-4
        )
        assert row["n_cross_source_hashes"] == len(
            set(grp["hh"]) & multi
        )


# ---------------------------------------------------------------------------
# t45 — dispersion vs direct Python computation
# ---------------------------------------------------------------------------


def test_t45_dispersion_matches_python(spark):
    from server_spark.registry import queries

    ev = _events()
    got = {
        r["event_type"]: r
        for r in queries()["t45_dispersion"](spark, SF_SMOKE).collect()
    }
    for etype, grp in ev.groupby("event_type"):
        hours = (
            (grp["ts"].dt.floor("h") - pd.Timestamp("2024-01-01"))
            // pd.Timedelta(hours=1)
        ).astype(int)
        counts = Counter(hours)
        lo, hi = min(counts), max(counts)
        xs = [counts.get(h, 0) for h in range(lo, hi + 1)]
        n = len(xs)
        mean = sum(xs) / n
        var = sum((x - mean) ** 2 for x in xs) / (n - 1)
        row = got[etype]
        assert row["n_hours"] == n
        assert row["mean_per_hour"] == pytest.approx(mean, abs=2e-4)
        assert row["fano"] == pytest.approx(var / mean, abs=2e-4)
        assert row["overdispersed"] == (row["fano"] > 1.5)
        if var > mean:
            assert row["nb_r"] == pytest.approx(
                mean * mean / (var - mean), abs=2e-3
            )
            assert row["nb_p"] == pytest.approx(mean / var, abs=2e-4)
        else:
            assert row["nb_r"] is None and row["nb_p"] is None


# ---------------------------------------------------------------------------
# x110 — hapax rates vs direct Python computation
# ---------------------------------------------------------------------------


def test_x110_hapax_matches_python(spark):
    from server_spark.registry import queries

    docs = _docs_pd()
    got = {
        r["source"]: r
        for r in queries()["x110_hapax_rate"](spark, SF_SMOKE).collect()
    }
    for src, grp in docs.groupby("source"):
        tf = Counter()
        for t in grp["text"]:
            tf.update(re.split(r"\s+", str(t).strip().lower()))
        vocab = len(tf)
        hapax = sum(1 for c in tf.values() if c == 1)
        rare = sum(1 for c in tf.values() if c <= 2)
        ntok = sum(tf.values())
        row = got[src]
        assert row["vocab"] == vocab and row["n_tokens"] == ntok
        assert row["hapax"] == hapax
        assert row["hapax_rate"] == pytest.approx(
            hapax / vocab, abs=1e-4
        )
        assert row["rare_type_rate"] == pytest.approx(
            rare / vocab, abs=1e-4
        )
        assert row["type_token_ratio"] == pytest.approx(
            vocab / ntok, abs=1e-4
        )


# ---------------------------------------------------------------------------
# a50 — Spearman vs scipy-free Python computation
# ---------------------------------------------------------------------------


def test_a50_spearman_matches_python(spark):
    from decimal import Decimal

    from server_spark.registry import queries

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    got = {
        r["time_left"]: r
        for r in queries()["a50_spearman"](spark, SF_SMOKE).collect()
    }

    def cents(v):
        return int(
            Decimal(repr(float(v))).quantize(Decimal("0.01")) * 100
        )

    def avg_ranks(vals):
        order = sorted(vals)
        ranks = {}
        i = 0
        while i < len(order):
            j = i
            while j < len(order) and order[j] == order[i]:
                j += 1
            ranks[order[i]] = (i + 1 + j) / 2  # average of ranks i+1..j
            i = j
        return ranks

    for tl, grp in li.groupby("l_returnflag"):
        xs = [cents(v) for v in grp["l_quantity"]]
        ys = [cents(v) for v in grp["l_extendedprice"]]
        rx = avg_ranks(xs)
        ry = avg_ranks(ys)
        a = [rx[v] for v in xs]
        b = [ry[v] for v in ys]
        n = len(a)
        ma = sum(a) / n
        mb = sum(b) / n
        num = sum((p - ma) * (q - mb) for p, q in zip(a, b))
        den = math.sqrt(
            sum((p - ma) ** 2 for p in a) * sum((q - mb) ** 2 for q in b)
        )
        row = got[tl]
        assert row["n"] == n
        assert row["spearman_rho"] == pytest.approx(num / den, abs=2e-4)
        assert -1 <= row["spearman_rho"] <= 1


# ---------------------------------------------------------------------------
# t46 — Ljung-Box vs direct Python computation
# ---------------------------------------------------------------------------


def test_t46_ljung_box_matches_python(spark):
    from server_spark.registry import queries

    ev = _events()
    got = {
        r["event_type"]: r
        for r in queries()["t46_ljung_box"](spark, SF_SMOKE).collect()
    }
    for etype, grp in ev.groupby("event_type"):
        daily = grp.groupby(grp["ts"].dt.date)["value"].mean()
        xs = daily.sort_index().tolist()
        n = len(xs)
        xbar = sum(xs) / n
        ss0 = sum((x - xbar) ** 2 for x in xs)
        q = 0.0
        for k in (1, 2, 3):
            rk = (
                sum(
                    (xs[t] - xbar) * (xs[t + k] - xbar)
                    for t in range(n - k)
                )
                / ss0
            )
            q += rk * rk / (n - k)
        q *= n * (n + 2)
        row = got[etype]
        assert row["n_days"] == n
        assert row["lb_q"] == pytest.approx(q, abs=2e-3)
        assert row["autocorrelated"] == (row["lb_q"] > 7.815)


# ---------------------------------------------------------------------------
# t47 — circadian stats vs Python + planted-rhythm regime test
# ---------------------------------------------------------------------------


def test_t47_circadian_matches_python(spark):
    from server_spark.registry import queries

    ev = _events()
    got = {
        r["event_type"]: r
        for r in queries()["t47_circadian"](spark, SF_SMOKE).collect()
    }
    for etype, grp in ev.groupby("event_type"):
        hrs = grp["ts"].dt.hour
        n = len(hrs)
        cc = sum(math.cos(2 * math.pi * h / 24) for h in hrs)
        ss = sum(math.sin(2 * math.pi * h / 24) for h in hrs)
        row = got[etype]
        assert row["n"] == n
        assert row["resultant_r"] == pytest.approx(
            math.sqrt(cc * cc + ss * ss) / n, abs=2e-4
        )
        peak = (math.atan2(ss, cc) / (2 * math.pi)) * 24 % 24
        assert row["peak_hour"] == pytest.approx(peak, abs=2e-3)


def test_t47_planted_rhythm(spark, tmp_path):
    import os

    from server_spark.registry import queries

    base = pd.Timestamp("2024-01-01 00:00:00")
    rows = []
    for d in range(20):
        for _ in range(30):  # nightly spike at 23:00
            rows.append(("nightly", base + pd.Timedelta(days=d, hours=23)))
        for h in range(24):  # uniform background
            rows.append(("flat", base + pd.Timedelta(days=d, hours=h)))
    ev = pd.DataFrame(rows, columns=["event_type", "ts"])
    ev["event_id"] = range(len(ev))
    ev["user_id"] = 1
    ev["value"] = 1.0
    ev["props"] = "{}"
    td = str(tmp_path / "sf")
    os.makedirs(td)
    ev[["event_id", "ts", "user_id", "event_type", "value", "props"]
       ].to_parquet(os.path.join(td, "events.parquet"), index=False)
    got = {
        r["event_type"]: r
        for r in queries()["t47_circadian"](spark, td).collect()
    }
    assert got["nightly"]["resultant_r"] > 0.95
    assert got["nightly"]["peak_hour"] == pytest.approx(23.0, abs=0.01)
    assert got["nightly"]["concentrated"] is True
    assert got["flat"]["resultant_r"] < 0.01
    assert got["flat"]["concentrated"] is False


# ---------------------------------------------------------------------------
# t48 — max drawdown vs direct Python computation
# ---------------------------------------------------------------------------


def test_t48_max_drawdown_matches_python(spark):
    from decimal import Decimal

    from server_spark.registry import queries

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    li = li[li["l_extendedprice"] > 0]
    got = {
        r["item"]: r
        for r in queries()["t48_max_drawdown"](spark, SF_SMOKE).collect()
    }

    def cents(v):
        return int(
            Decimal(repr(float(v))).quantize(Decimal("0.01")) * 100
        )

    n_checked = 0
    for item, grp in li.groupby("l_partkey"):
        daily = defaultdict(lambda: [0, 0])
        for _, row in grp.iterrows():
            d = pd.Timestamp(row["l_shipdate"]).date()
            daily[d][0] += cents(row["l_extendedprice"])
            daily[d][1] += 1
        prices = [
            daily[d][0] / (100 * daily[d][1]) for d in sorted(daily)
        ]
        if len(prices) < 5:
            assert item not in got
            continue
        peak = mdd = 0.0
        for p in prices:
            peak = max(peak, p)
            mdd = max(mdd, 1 - p / peak)
        row = got[item]
        assert row["n_days"] == len(prices)
        assert row["max_drawdown"] == pytest.approx(mdd, abs=2e-4)
        assert 0 <= row["max_drawdown"] < 1
        n_checked += 1
    assert n_checked > 0


# ---------------------------------------------------------------------------
# x111 — conditional entropy vs Python + templated-vs-diverse contrast
# ---------------------------------------------------------------------------


def test_x111_conditional_entropy_matches_python(spark):
    from server_spark.registry import queries

    docs = _docs_pd()
    got = {
        r["source"]: r
        for r in queries()["x111_conditional_entropy"](
            spark, SF_SMOKE
        ).collect()
    }
    for src, grp in docs.groupby("source"):
        cb = Counter()
        for t in grp["text"]:
            toks = re.split(r"\s+", str(t).strip().lower())
            cb.update(zip(toks, toks[1:]))
        n = sum(cb.values())
        c1 = Counter()
        for (w1, _w2), c in cb.items():
            c1[w1] += c
        hj = -sum(c / n * math.log(c / n) for c in cb.values())
        hc = -sum(c / n * math.log(c / n) for c in c1.values())
        row = got[src]
        assert row["n_bigrams"] == n
        assert row["cond_entropy_nats"] == pytest.approx(
            hj - hc, abs=2e-4
        )
        assert row["bigram_ppl"] == pytest.approx(
            math.exp(hj - hc), rel=1e-3
        )
        # conditioning can only reduce entropy
        assert row["cond_entropy_nats"] <= row["context_entropy_nats"] + 5
        assert row["cond_entropy_nats"] >= -1e-9


# ---------------------------------------------------------------------------
# a51 — VaR/CVaR vs direct Python computation
# ---------------------------------------------------------------------------


def test_a51_tail_risk_matches_python(spark):
    from decimal import Decimal

    from server_spark.registry import queries

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    got = {
        r["time_left"]: r
        for r in queries()["a51_tail_risk"](spark, SF_SMOKE).collect()
    }
    for tl, grp in li.groupby("l_returnflag"):
        cents = sorted(
            int(Decimal(repr(float(v))).quantize(Decimal("0.01")) * 100)
            for v in grp["l_extendedprice"]
        )
        n = len(cents)
        k = (19 * n + 19) // 20
        var_c = cents[k - 1]  # rank-k order statistic (1-based)
        tail = [v for v in cents if v >= var_c]
        row = got[tl]
        assert row["n"] == n
        assert row["var_95"] == pytest.approx(var_c / 100, abs=1e-4)
        assert row["n_tail"] == len(tail)
        assert row["cvar_95"] == pytest.approx(
            sum(tail) / (100 * len(tail)), abs=1e-4
        )
        # CVaR dominates VaR by construction
        assert row["cvar_95"] >= row["var_95"] - 1e-9


# ---------------------------------------------------------------------------
# w16 — Bollinger bands vs direct Python computation
# ---------------------------------------------------------------------------


def test_w16_bollinger_matches_python(spark):
    from decimal import Decimal
    from statistics import mean, stdev

    from server_spark.registry import queries

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    li = li[li["l_extendedprice"] > 0]
    got = {
        (r["item"], r["day"]): r
        for r in queries()["w16_bollinger"](spark, SF_SMOKE).collect()
    }

    def cents(v):
        return int(
            Decimal(repr(float(v))).quantize(Decimal("0.01")) * 100
        )

    n_rows = 0
    for item, grp in li.groupby("l_partkey"):
        daily = defaultdict(lambda: [0, 0])
        for _, row in grp.iterrows():
            d = pd.Timestamp(row["l_shipdate"]).date()
            daily[d][0] += cents(row["l_extendedprice"])
            daily[d][1] += 1
        days = sorted(daily)
        prices = [daily[d][0] / (100 * daily[d][1]) for d in days]
        for i in range(6, len(days)):
            win = prices[i - 6:i + 1]
            mid = mean(win)
            sd = stdev(win)
            row = got[(item, days[i])]
            assert row["mid"] == pytest.approx(mid, abs=2e-4)
            assert row["upper_band"] == pytest.approx(
                mid + 2 * sd, abs=2e-3
            )
            assert row["breach_up"] == (
                row["price"] > row["upper_band"]
            )
            assert row["breach_down"] == (
                row["price"] < row["lower_band"]
            )
            n_rows += 1
    assert n_rows == len(got)


# ---------------------------------------------------------------------------
# x112 — filter attribution vs direct Python computation
# ---------------------------------------------------------------------------


def test_x112_filter_attribution_matches_python(spark):
    from server_spark.registry import queries

    docs = _docs_pd()
    fails = []
    for _, row in docs.iterrows():
        toks = re.split(r"\s+", str(row["text"]).strip().lower())
        alpha = len(re.sub(r"[^a-z]", "", str(row["text"]).lower())) / len(
            str(row["text"])
        )
        fails.append(
            {
                "too_short": len(toks) < 40,
                "too_long": len(toks) > 300,
                "low_alpha": alpha < 0.55,
                "repetitive": 2 * len(set(toks)) < len(toks),
                "tiny": row["n_chars"] < 200,
            }
        )
    got = {
        r["rule"]: r
        for r in queries()["x112_filter_attribution"](
            spark, SF_SMOKE
        ).collect()
    }
    assert set(got) == set(fails[0])
    for rule in fails[0]:
        n_fail = sum(1 for f in fails if f[rule])
        n_unique = sum(
            1
            for f in fails
            if f[rule] and sum(f.values()) == 1
        )
        row = got[rule]
        assert row["n_docs"] == len(fails)
        assert row["n_failing"] == n_fail
        assert row["n_unique_failing"] == n_unique
        assert row["n_unique_failing"] <= row["n_failing"]
        assert row["fail_share"] == pytest.approx(
            n_fail / len(fails), abs=1e-4
        )
    # the fixture must exercise the interesting case: at least one
    # rule fails docs, and unique counts differ from raw counts
    assert any(r["n_failing"] > 0 for r in got.values())


# ---------------------------------------------------------------------------
# t49 — price staleness vs direct Python run-length computation
# ---------------------------------------------------------------------------


def test_t49_staleness_matches_python(spark):
    from decimal import Decimal
    from fractions import Fraction

    from server_spark.registry import queries

    li = pd.read_parquet(f"{SF_SMOKE}/lineitem.parquet")
    li = li[li["l_extendedprice"] > 0]
    got = {
        r["item"]: r
        for r in queries()["t49_price_staleness"](
            spark, SF_SMOKE
        ).collect()
    }

    def cents(v):
        return int(
            Decimal(repr(float(v))).quantize(Decimal("0.01")) * 100
        )

    n_checked = 0
    for item, grp in li.groupby("l_partkey"):
        daily = defaultdict(lambda: [0, 0])
        for _, row in grp.iterrows():
            d = pd.Timestamp(row["l_shipdate"]).date()
            daily[d][0] += cents(row["l_extendedprice"])
            daily[d][1] += 1
        days = sorted(daily)
        if len(days) < 5:
            assert item not in got
            continue
        prices = [Fraction(daily[d][0], daily[d][1]) for d in days]
        runs = [1]
        for a, b in zip(prices, prices[1:]):
            if a == b:
                runs[-1] += 1
            else:
                runs.append(1)
        row = got[item]
        assert row["n_days"] == len(days)
        assert row["n_price_levels"] == len(runs)
        assert row["stale_days"] == len(days) - len(runs)
        assert row["longest_run"] == max(runs)
        assert row["stale_frac"] == pytest.approx(
            (len(days) - len(runs)) / len(days), abs=1e-4
        )
        n_checked += 1
    assert n_checked > 0
