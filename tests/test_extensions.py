"""Tests for the EXT operators that have no DuckDB oracle: MinHash
LSH, SimHash, hyperplane LSH, multimodal plumbing, fuzzy rank."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from server_spark.dedup import exact as ex
from server_spark.dedup import ngram as ng
from server_spark.dedup import simhash as sh
from server_spark.functions.text import fuzzy_search
from server_spark.multimodal.binary import extract_media_meta, synthetic_media
from server_spark.similarity import cosine as cos

DOCS = [
    (1, "the quick brown fox jumps over the lazy dog again and again"),
    (2, "the quick brown fox jumps over the lazy dog again and again"),  # dup of 1
    (3, "the quick brown fox jumps over the lazy cat again and again"),  # near-dup
    (4, "completely different text about spark dataframes and shuffles here"),
]


def _docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup(spark):
    groups = ex.exact_dedup_groups(_docs(spark)).collect()
    assert len(groups) == 3  # docs 1+2 collapse
    dup = [g for g in groups if g["n_docs"] == 2][0]
    assert dup["canonical_doc_id"] == 1


def test_ngram_jaccard_pairs(spark):
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ng.jaccard_pairs(_docs(spark), n=3, threshold=0.1).collect()
    }
    assert pairs[(1, 2)] == 1.0  # identical docs
    assert 0.3 < pairs[(1, 3)] < 1.0  # near-dup
    assert (1, 4) not in pairs


def test_minhash_finds_neardups(spark):
    from server_spark.dedup.minhash import minhash_candidates

    cands = {
        (r["doc_a"], r["doc_b"]): r["jaccard_est"]
        for r in minhash_candidates(_docs(spark), n=3, num_hashes=32,
                                    n_bands=8).collect()
    }
    assert (1, 2) in cands and cands[(1, 2)] == 1.0  # identical docs
    assert (1, 3) in cands  # near-dup must be banded together
    # estimate should be in the right ballpark of the exact 0.5 jaccard
    assert 0.2 <= cands[(1, 3)] <= 0.9
    assert (1, 4) not in cands or cands[(1, 4)] < 0.2


def test_minhash_estimate_tracks_exact_jaccard(spark):
    """On the sf0.001 corpus the minhash estimate must correlate with
    exact Jaccard for every banded candidate pair."""
    from server_spark.dedup.minhash import minhash_candidates

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    est = {
        (r["doc_a"], r["doc_b"]): r["jaccard_est"]
        for r in minhash_candidates(docs, n=3, num_hashes=32, n_bands=8,
                                    min_est=0.3).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ng.jaccard_pairs(docs, n=3, threshold=0.05).collect()
    }
    for pair, e in est.items():
        assert pair in exact, f"minhash invented pair {pair}"
        assert abs(e - exact[pair]) < 0.35, (pair, e, exact[pair])


def test_simhash_properties(spark):
    fps = {r["doc_id"]: r["simhash"] for r in sh.simhash64(_docs(spark)).collect()}
    assert fps[1] == fps[2]  # identical text → identical fingerprint
    h13 = bin(fps[1] ^ fps[3]).count("1")
    h14 = bin(fps[1] ^ fps[4]).count("1")
    assert h13 < h14  # near-dup closer than unrelated


def test_lsh_topk_recall(spark, sf_dir):
    """LSH top-k must return a subset of plausible neighbors and find
    the query's own cluster at high rank on real embeddings."""
    from server_spark.queries.ext_similarity import _seeded_tables

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = cos.brute_force_topk(emb, queries, k=5).collect()
    approx = cos.lsh_topk(emb, queries, _seeded_tables(), k=5).collect()
    exact_set = {(r["query_id"], r["vec_id"]) for r in exact}
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    # every LSH result is a real vector pair with a sane score
    assert all(-1.0001 <= r["score"] <= 1.0001 for r in approx)
    # multi-table LSH recovers a decent share of the true top-5
    assert len(exact_set & approx_set) >= len(exact_set) // 3


def test_multimodal_plumbing(spark):
    docs = _docs(spark)
    meta = extract_media_meta(synthetic_media(docs)).collect()
    assert len(meta) == 4
    by_id = {r["media_id"]: r for r in meta}
    # identical payloads → identical sha
    assert by_id[1]["content_sha"] == by_id[2]["content_sha"]
    assert by_id[1]["n_bytes"] == len(DOCS[0][1].encode())
    # text bytes are not a media container: quarantined as unknown,
    # dimensions null (real header parsing since r6 — dims only for
    # actual PNG/JPEG/GIF/BMP headers, tested in test_binaryfile.py)
    assert all(r["format"] == "unknown" and r["width"] is None for r in meta)


def test_fuzzy_rank_semantics(spark):
    df = spark.createDataFrame(
        [(1, "Old Widget"), (2, "golden gadget"), (3, "wide gem")],
        "id long, name string",
    )
    got = {r["name"]: r["rank"] for r in fuzzy_search(df, "name", "widget", k=10).collect()}
    # 'widget' is a subsequence of 'Old Widget' (case-folded) and of
    # 'wide gem' ('wid'+'ge'+'t'... w-i-d-g-e-t ∈ 'wide gem'? w,i,d,g,e,m → no t) — check:
    assert "Old Widget" in got
    assert "golden gadget" not in got  # 'wi' missing
    assert got["Old Widget"] == 4  # levenshtein('widget', 'old widget')


def test_fuzzy_search_tolerates_map_columns(spark):
    """r13 advisor finding: the r12 unique-tiebreak sorted by EVERY
    remaining column, so a caller whose frame carries a MapType column
    got an AnalysisException from the tiebreak itself (maps are not
    orderable in Spark). The tiebreak must restrict itself to
    orderable columns and still return the right page."""
    df = spark.createDataFrame(
        [(1, "Old Widget", {"k": "v"}), (2, "golden gadget", {}),
         (3, "wide gem", {"a": "b"})],
        "id long, name string, attrs map<string,string>",
    )
    rows = fuzzy_search(df, "name", "widget", k=10).collect()
    assert [r["name"] for r in rows] == ["Old Widget"]
    # map column still present in the output, just not a sort key
    assert rows[0]["attrs"] == {"k": "v"}


def test_udtf_chunks_reassemble(spark):
    """x13: concatenating a doc's chunks in order must reproduce the
    whitespace-normalized document."""
    from server_spark.queries.ext_pipeline import x13_udtf_chunks

    out = x13_udtf_chunks(spark, "/root/testdata/sf0.001")
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    sample = {r["doc_id"]: r["text"] for r in docs.limit(5).collect()}
    chunks = (
        out.filter(F.col("doc_id").isin(list(sample)))
        .orderBy("doc_id", "chunk_idx")
        .collect()
    )
    by_doc: dict[int, list[str]] = {}
    for r in chunks:
        by_doc.setdefault(r["doc_id"], []).append(r["chunk_text"])
    for doc_id, text in sample.items():
        assert " ".join(by_doc[doc_id]) == " ".join(text.split())


def test_ivf_topk_recall(spark, sf_dir):
    """x14: IVF with nprobe=4/16 must recover a solid share of the
    exact top-10 and never invent out-of-corpus ids."""
    from server_spark.similarity.ivf import ivf_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = {(r["query_id"], r["vec_id"]) for r in cos.brute_force_topk(emb, queries, k=10).collect()}
    approx = ivf_topk(emb, queries, k=10, n_clusters=16, n_probe=4).collect()
    approx_set = {(r["query_id"], r["vec_id"]) for r in approx}
    corpus_ids = {r["vec_id"] for r in emb.select("vec_id").collect()}
    assert all(v in corpus_ids for _, v in approx_set)
    assert len(exact & approx_set) >= len(exact) // 3


def test_neardup_blocked_bounded_blocks(spark, sf_dir):
    """x10: block COUNT derives from corpus count so block SIZE stays
    constant as the corpus grows, and small forced blocks reproduce
    the exact all-pairs result (same pairs, same canonical scores)."""
    from server_spark.similarity.cosine import derive_n_blocks

    # doubling the corpus doubles the blocks, not the block size
    assert derive_n_blocks(1_000_000, 4096) == 245
    assert derive_n_blocks(2_000_000, 4096) == 489
    # parallelism floor on small corpora; memory ceiling still binds
    assert derive_n_blocks(1000, 250) == 8
    assert derive_n_blocks(2001, 250) == 9
    assert derive_n_blocks(0, 250) == 8

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {
        (r["vec_a"], r["vec_b"], r["score"])
        for r in cos.neardup_pairs(emb, 0.35, dim=64).collect()
    }
    blocked = {
        (r["vec_a"], r["vec_b"], r["score"])
        for r in cos.neardup_pairs_blocked(
            emb, 0.35, rows_per_block=100
        ).collect()
    }
    assert blocked == exact


def test_connected_components_chain(spark):
    """x15 operator: a chain a-b-c-d collapses into one component even
    though (a,d) was never an edge; disjoint pair stays separate."""
    from server_spark.dedup.components import connected_components, resolve_clusters

    edges = spark.createDataFrame(
        [(4, 3), (3, 2), (2, 1), (10, 11)], "doc_a long, doc_b long"
    )
    comp = {r["node"]: r["component"] for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}
    clusters = {
        r["canonical_doc_id"]: (r["n_members"], r["member_ids"])
        for r in resolve_clusters(edges).collect()
    }
    assert clusters == {1: (4, "1,2,3,4"), 10: (2, "10,11")}


def test_hash_split_proportions_and_determinism(spark):
    """x17: md5 bucketing lands near 80/10/10 and is a pure function
    of the id (two runs identical)."""
    from server_spark.queries.ext_pipeline import x17_hash_split

    sf = "/root/testdata/sf0.01"
    a = x17_hash_split(spark, sf).collect()
    b = x17_hash_split(spark, sf).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    n = len(a)
    frac = {s: sum(1 for r in a if r["split"] == s) / n
            for s in ("train", "val", "test")}
    assert 0.72 <= frac["train"] <= 0.88
    assert 0.04 <= frac["val"] <= 0.16
    assert 0.04 <= frac["test"] <= 0.16


def test_sequence_packing_invariants(spark):
    """x20: within each shard, pack ids/offsets are exactly the
    running-token-count layout: start = pack_id*budget + offset,
    starts increase by n_tokens in doc order, offsets stay < budget."""
    from server_spark.queries.ext_pipeline import PACK_BUDGET, x20_sequence_packing

    rows = x20_sequence_packing(spark, "/root/testdata/sf0.01").collect()
    by_shard: dict[str, list] = {}
    for r in rows:
        by_shard.setdefault(r["shard"], []).append(r)
    assert len(by_shard) == 16
    for shard_rows in by_shard.values():
        shard_rows.sort(key=lambda r: r["doc_id"])
        running = 0
        for r in shard_rows:
            assert 0 <= r["pack_offset"] < PACK_BUDGET
            assert r["pack_id"] * PACK_BUDGET + r["pack_offset"] == running
            running += r["n_tokens"]


@pytest.mark.parametrize("method", ["ivf_topk", "ivfpq_topk"])
def test_ivf_index_persistence_roundtrip(
    spark, sf_dir, tmp_path, monkeypatch, method
):
    """x14/x49: the persisted index state (a .npy sidecar + a parquet
    table: IVF centroids + assignment, IVFPQ residual codebooks + codes)
    reloads in a fresh process cache and yields identical search
    results to the freshly built state."""
    import tempfile

    from server_spark.similarity import ivf, pq

    def clear():
        ivf._INDEX_CACHE.clear()
        pq._IVFPQ_CACHE.clear()

    topk = ivf.ivf_topk if method == "ivf_topk" else pq.ivfpq_topk
    monkeypatch.setattr(tempfile, "gettempdir", lambda: str(tmp_path))
    clear()

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    queries = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    first = sorted(map(tuple, topk(emb, queries, k=5, cache_key="t").collect()))
    assert (tmp_path / "server_spark_ivf").exists()

    clear()  # force the disk-load path
    second = sorted(map(tuple, topk(emb, queries, k=5, cache_key="t").collect()))
    assert first == second
    clear()


def test_exact_paths_match_brute_force(spark, sf_dir):
    """Every method that ends in the shared exact rerank agrees with
    brute force wherever its candidate set is complete: IVF probing
    every list and IVFPQ + refine with a shortlist as large as the
    corpus return brute force's rows exactly, and each LSH row carries
    its pair's brute-force score, ranked by (score desc, id asc). The
    brute-force path scores with the `dot` fold and the others with
    the unrolled `dot_fixed`, so this also pins that the two agree
    once r4-rounded."""
    from server_spark.queries.ext_similarity import _seeded_tables
    from server_spark.similarity import ivf
    from server_spark.similarity.pq import ivfpq_refine_topk

    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").cache()
    n = emb.count()
    queries = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    k, n_clusters = 10, 8
    brute = sorted(map(tuple, cos.brute_force_topk(emb, queries, k=k).collect()))
    assert len(brute) == 4 * k

    index = ivf.build_index(emb, n_clusters=n_clusters, cache=False)
    full_probe = ivf.search(index, queries, k=k, n_probe=n_clusters)
    assert sorted(map(tuple, full_probe.collect())) == brute

    refined = ivfpq_refine_topk(
        emb, queries, k=k, refine=-(-n // k), n_clusters=n_clusters,
        n_probe=n_clusters,
    )
    assert sorted(map(tuple, refined.collect())) == brute

    every = {
        (r["query_id"], r["vec_id"]): r["score"]
        for r in cos.brute_force_topk(emb, queries, k=n).collect()
    }
    lsh = cos.lsh_topk(emb, queries, _seeded_tables(), k=k, dim=64).collect()
    assert lsh
    by_query: dict[int, list] = {}
    for r in lsh:
        assert r["score"] == every[(r["query_id"], r["vec_id"])]
        by_query.setdefault(r["query_id"], []).append(r)
    for rows in by_query.values():
        rows.sort(key=lambda r: r["rnk"])
        assert [r["rnk"] for r in rows] == list(range(1, len(rows) + 1))
        order = [(-r["score"], r["vec_id"]) for r in rows]
        assert order == sorted(order)
    emb.unpersist()


def test_pii_scrub_redacts_and_counts(spark):
    from server_spark.textstats import pii

    rows = [
        (1, "mail me at a.user+x@sub.example.org thanks"),
        (2, "server at 192.168.0.1 and 10.0.0.255 up"),
        (3, "call 555-123-4567 now"),
        (4, "clean text with no pii at all"),
        (5, "mixed b@c.io 1.2.3.4 555-000-1111"),
    ]
    df = spark.createDataFrame(rows, "id long, t string")
    out = {
        r["id"]: r
        for r in df.select(
            "id",
            pii.match_count("t", pii.EMAIL_RE).alias("e"),
            pii.match_count("t", pii.IPV4_RE).alias("i"),
            pii.match_count("t", pii.PHONE_RE).alias("p"),
            pii.scrub("t").alias("clean"),
        ).collect()
    }
    assert (out[1]["e"], out[1]["i"], out[1]["p"]) == (1, 0, 0)
    assert (out[2]["e"], out[2]["i"], out[2]["p"]) == (0, 2, 0)
    assert (out[3]["e"], out[3]["i"], out[3]["p"]) == (0, 0, 1)
    assert (out[4]["e"], out[4]["i"], out[4]["p"]) == (0, 0, 0)
    assert out[1]["clean"] == "mail me at <EMAIL> thanks"
    assert out[2]["clean"] == "server at <IP> and <IP> up"
    assert out[3]["clean"] == "call <PHONE> now"
    assert out[4]["clean"] == "clean text with no pii at all"
    assert out[5]["clean"] == "mixed <EMAIL> <IP> <PHONE>"


def test_norm_outlier_trim_ladder_and_constant(spark):
    """norm_trim_flags on a 1..100 norm ladder drops exactly the two
    tail values; on a constant-norm corpus (the straddling-group
    case) it drops nothing."""
    ladder = spark.createDataFrame(
        [(i, [float(i), 0.0]) for i in range(1, 101)],
        "vec_id long, embedding array<float>",
    )
    rows = cos.norm_trim_flags(ladder, dim=2).collect()
    dropped = sorted(r["vec_id"] for r in rows if not r["kept"])
    assert dropped == [1, 100]

    const = spark.createDataFrame(
        [(i, [3.0, 4.0]) for i in range(50)],
        "vec_id long, embedding array<float>",
    )
    crows = cos.norm_trim_flags(const, dim=2).collect()
    assert all(r["kept"] for r in crows)
    assert all(r["l2_norm"] == 5.0 for r in crows)


def test_weighted_sample_favors_heavy_docs(spark, sf_dir):
    """x50: inclusion probability ∝ n_chars — the sampled docs'
    mean weight must exceed the corpus mean (longer docs
    overrepresented), and the sample is exactly WSAMPLE_N ranked
    rows, deterministic across runs."""
    from server_spark.queries.ext_pipeline import (
        WSAMPLE_N,
        x50_weighted_sample,
    )

    out1 = x50_weighted_sample(spark, sf_dir).collect()
    out2 = x50_weighted_sample(spark, sf_dir).collect()
    assert [r["doc_id"] for r in out1] == [r["doc_id"] for r in out2]
    assert sorted(r["rnk"] for r in out1) == list(range(1, WSAMPLE_N + 1))
    corpus_mean = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .agg(F.avg("n_chars"))
        .first()[0]
    )
    sample_mean = sum(r["n_chars"] for r in out1) / len(out1)
    assert sample_mean > corpus_mean, (
        f"sample mean {sample_mean:.0f} <= corpus mean {corpus_mean:.0f}"
    )


def test_x64_compression_ratio_pins_zlib_and_separates_quality(spark, sf_dir):
    """x64: (1) the distributed column equals direct zlib on the same
    text (deterministic, level pinned), (2) the signal separates
    repetitive boilerplate from high-entropy text — the property the
    quality pre-filter relies on."""
    import zlib

    from server_spark.queries.ext_text import x64_compression_ratio

    got = {r["doc_id"]: r for r in x64_compression_ratio(spark, sf_dir).collect()}
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .select("doc_id", "text")
        .limit(20)
        .collect()
    )
    assert docs
    for d in docs:
        raw = d["text"].encode("utf-8")
        want = round(len(zlib.compress(raw, 6)) / len(raw), 4)
        assert got[d["doc_id"]]["compression_ratio"] == want
        assert got[d["doc_id"]]["n_bytes"] == len(raw)

    # separation property on synthetic extremes
    import random

    rng = random.Random(7)
    rep = "spam " * 400
    noisy = "".join(chr(rng.randint(33, 126)) for _ in range(2000))
    df = spark.createDataFrame(
        [(1, rep), (2, noisy)], "doc_id long, text string"
    )
    from unittest import mock

    with mock.patch(
        "server_spark.queries.ext_text._docs", return_value=df
    ):
        out = {
            r["doc_id"]: r["compression_ratio"]
            for r in x64_compression_ratio(spark, "ignored").collect()
        }
    assert out[1] < 0.05 < 0.5 < out[2]


def test_x65_mmr_matches_reference_and_diversifies(spark, sf_dir):
    """x65: (1) the distributed greedy selection equals a plain-Python
    reference MMR on the same candidate pool, per query; (2) rank 1 is
    the most relevant candidate; (3) the MMR set is no more redundant
    than the plain relevance top-k (mean pairwise cosine ≤)."""
    import numpy as np

    from server_spark.queries.ext_similarity import (
        MMR_K,
        MMR_LAMBDA,
        MMR_M,
        N_QUERY_VECS,
        _emb,
        x65_mmr_diverse_topk,
    )
    from server_spark.similarity import cosine as cos

    got = x65_mmr_diverse_topk(spark, sf_dir).collect()
    by_q = {}
    for r in sorted(got, key=lambda r: (r["query_id"], r["mmr_rank"])):
        by_q.setdefault(r["query_id"], []).append(r["vec_id"])
    assert len(by_q) == N_QUERY_VECS
    assert all(len(v) == MMR_K for v in by_q.values())

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    cands = cos.brute_force_topk(emb, queries, k=MMR_M)
    vecs = {
        r["vec_id"]: np.asarray(r["embedding"], dtype="float64")
        for r in emb.join(
            F.broadcast(cands.select("vec_id").distinct()), "vec_id"
        ).collect()
    }
    qvecs = {
        r["query_id"]: np.asarray(r["query_vec"], dtype="float64")
        for r in queries.collect()
    }
    pool = {}
    for r in cands.collect():
        pool.setdefault(r["query_id"], []).append(r["vec_id"])

    def unit(v):
        return v / np.linalg.norm(v)

    for qid, ids in pool.items():
        ids = sorted(ids)
        U = {i: unit(vecs[i]) for i in ids}
        qe = unit(qvecs[qid])
        rel = {i: round(float(U[i] @ qe), 4) for i in ids}
        chosen, free = [], list(ids)
        while free and len(chosen) < MMR_K:
            best, best_m = None, None
            for i in free:
                red = max(
                    (round(float(U[i] @ U[s]), 4) for s in chosen),
                    default=0.0,
                )
                m = MMR_LAMBDA * rel[i] - (1 - MMR_LAMBDA) * red
                if best_m is None or m > best_m:
                    best, best_m = i, m
            chosen.append(best)
            free.remove(best)
        assert by_q[qid] == chosen, f"query {qid} diverged from reference"
        # rank 1 = pure relevance winner (no redundancy term yet)
        assert rel[chosen[0]] == max(rel.values())
        # diversity: MMR set no more redundant than relevance top-k
        topk = sorted(ids, key=lambda i: (-rel[i], i))[:MMR_K]

        def mean_pairwise(ss):
            return float(
                np.mean([U[a] @ U[b] for a in ss for b in ss if a < b])
            )

        assert mean_pairwise(chosen) <= mean_pairwise(topk) + 1e-9


def _ref_winnow(words, k=3, w=4):
    """Plain-Python reference winnowing: md5-derived k-gram hashes,
    min per full w-window — the fingerprint SET (matches x67's
    arithmetic exactly)."""
    import hashlib

    grams = [" ".join(words[i:i + k]) for i in range(len(words) - k + 1)]
    hs = [
        int(hashlib.md5(g.encode()).hexdigest()[:8], 16) for g in grams
    ]
    return {min(hs[i - w + 1:i + 1]) for i in range(w - 1, len(hs))}


def test_x67_winnowing_guarantee_and_reference_equality(spark):
    """x67: (1) per-doc fingerprint counts equal a plain-Python
    reference winnowing, (2) the MOSS guarantee holds — two docs
    sharing a run of ≥ w+k−1 words share at least one fingerprint,
    (3) docs with no shared k-gram share none."""
    import random

    from unittest import mock

    from server_spark.queries.ext_dedup import (
        _WINNOW_W,
        x67_winnowing_fingerprints,
    )

    rng = random.Random(11)
    shared = [f"run{i}" for i in range(_WINNOW_W + 3 - 1 + 2)]  # > w+k-1
    doc_a = [f"a{rng.randint(0, 50)}" for _ in range(30)] + shared + [
        f"a{rng.randint(51, 99)}" for _ in range(20)
    ]
    doc_b = [f"b{rng.randint(0, 50)}" for _ in range(15)] + shared + [
        f"b{rng.randint(51, 99)}" for _ in range(35)
    ]
    doc_c = [f"c{i}" for i in range(60)]  # shares nothing
    df = spark.createDataFrame(
        [(1, " ".join(doc_a)), (2, " ".join(doc_b)), (3, " ".join(doc_c))],
        "doc_id long, text string",
    )
    with mock.patch(
        "server_spark.queries.ext_dedup._docs", return_value=df
    ):
        got = {
            r["doc_id"]: r
            for r in x67_winnowing_fingerprints(spark, "ignored").collect()
        }

    prints = {1: _ref_winnow(doc_a), 2: _ref_winnow(doc_b), 3: _ref_winnow(doc_c)}
    for did, words in ((1, doc_a), (2, doc_b), (3, doc_c)):
        assert got[did]["n_fingerprints"] == len(prints[did]), did
        n_grams = len(words) - 3 + 1
        assert got[did]["n_windows"] == n_grams - _WINNOW_W + 1
    # the guarantee: the planted shared run forces a shared print
    assert prints[1] & prints[2], "shared run produced no shared print"
    assert not (prints[1] & prints[3]) and not (prints[2] & prints[3])


def test_a20_pagerank_matches_reference(spark, sf_dir):
    """a20: the distributed damped propagation equals a plain-Python
    PageRank on the same gated co-listing graph, and ranks form a
    probability distribution (sum of r = 1 before the ×N norm)."""
    from collections import defaultdict

    from server_spark.queries.joins_sets import (
        _A18_MAX_ITEM,
        _PR_DAMP,
        _PR_ITERS,
        a20_item_pagerank,
    )
    from server_spark.sources.synthetic import auctions as load

    got = {
        r["item"]: r["rank_norm"]
        for r in a20_item_pagerank(spark, sf_dir).collect()
    }

    base = {
        (r["owner"], r["item"])
        for r in load(spark, sf_dir)
        .filter(F.col("item") <= _A18_MAX_ITEM)
        .select("owner", "item")
        .distinct()
        .collect()
    }
    by_owner = defaultdict(set)
    for o, i in base:
        by_owner[o].add(i)
    w = defaultdict(int)
    for items in by_owner.values():
        for s in items:
            for d in items:
                if s != d:
                    w[(s, d)] += 1
    nodes = sorted({s for s, _ in w})
    n = len(nodes)
    wdeg = defaultdict(int)
    for (s, _), c in w.items():
        wdeg[s] += c
    r = {v: 1.0 / n for v in nodes}
    for _ in range(_PR_ITERS):
        inflow = defaultdict(float)
        for (s, d), c in w.items():
            inflow[d] += r[s] * c / wdeg[s]
        r = {v: (1 - _PR_DAMP) / n + _PR_DAMP * inflow[v] for v in nodes}
    want = {v: round(r[v] * n, 4) for v in nodes}
    assert got == want
    assert abs(sum(r.values()) - 1.0) < 1e-9


def test_a23_sketch_overlap_error_bound(spark, sf_dir):
    """a23: HLL inclusion-exclusion overlap estimates land within the
    union-scaled error envelope of the exact per-pair overlaps."""
    import server_spark.queries.joins_sets as js

    got = {
        (r["tier_a"], r["tier_b"]): r
        for r in js.a23_sketch_overlap(spark, sf_dir).collect()
    }
    live = js.auctions(spark, sf_dir).select("time_left", "owner").distinct()
    sets: dict[str, set] = {}
    for r in live.collect():
        sets.setdefault(r["time_left"], set()).add(r["owner"])
    assert got, "no tier pairs"
    for (ta, tb), row in got.items():
        exact_both = len(sets[ta] & sets[tb])
        union = len(sets[ta] | sets[tb])
        # lg_k=12 → relative standard error ~1.6%; the intersection
        # inherits ~3x union-scaled error terms. 5 sigma + slack.
        tol = max(10, int(0.08 * union))
        assert abs(row["est_owners_both"] - exact_both) <= tol, (
            (ta, tb, row["est_owners_both"], exact_both, union)
        )


def test_t30_t31_robust_stats_invariants(spark, sf_dir):
    """t30: every reported row violates the 3.5 modified-z cut with a
    positive MAD; t31: pair count is exactly C(n_days, 2) and the
    median slope is bounded by the extreme pairwise slopes."""
    from server_spark.registry import queries

    q = queries()
    t30 = q["t30_robust_outliers"](spark, sf_dir).collect()
    for r in t30:
        assert r["mad"] > 0
        assert abs(r["robust_z"]) > 3.5
    t31 = q["t31_theil_sen"](spark, sf_dir).collect()
    for r in t31:
        assert r["n_pairs"] == r["n_days"] * (r["n_days"] - 1) // 2


def test_t32_acf_bounds(spark, sf_dir):
    """Sample ACF with the Σdev² normalizer is Cauchy–Schwarz-bounded:
    |r_k| ≤ 1 for every series and lag; n_days exceeds the lag."""
    from server_spark.registry import queries

    rows = queries()["t32_acf"](spark, sf_dir).collect()
    assert rows, "fixture has daily series"
    for r in rows:
        assert abs(r["acf"]) <= 1.0 + 1e-9
        assert r["n_days"] > r["lag"]


def test_a34_runs_identity(spark, sf_dir):
    """Runs partition the sign sequence: 1 ≤ runs ≤ n, and the up/down
    split conserves the day count."""
    from server_spark.registry import queries

    rows = queries()["a34_runs_test"](spark, sf_dir).collect()
    for r in rows:
        assert 1 <= r["runs"] <= r["n_days"]
        assert r["n_up"] + r["n_down"] == r["n_days"]


def test_a35_rfm_scores_and_segments(spark, sf_dir):
    """Rank-quintile scores are 1..5 with near-equal bucket sizes
    (⌊n/5⌋..⌈n/5⌉ by the explicit rank formula), and the segment
    labels are consistent with the scores that define them."""
    from collections import Counter

    from server_spark.registry import queries

    rows = queries()["a35_rfm_segments"](spark, sf_dir).collect()
    n = len(rows)
    assert n > 0
    for axis in ("r_score", "f_score", "m_score"):
        counts = Counter(r[axis] for r in rows)
        assert set(counts) <= {1, 2, 3, 4, 5}
        assert all(n // 5 <= c <= n // 5 + 1 for c in counts.values())
    for r in rows:
        if r["segment"] == "champion":
            assert min(r["r_score"], r["f_score"], r["m_score"]) >= 4
        elif r["segment"] == "loyal":
            assert r["f_score"] >= 4
        elif r["segment"] == "big_spender":
            assert r["m_score"] >= 4
        elif r["segment"] in ("at_risk", "hibernating"):
            assert r["r_score"] <= 2


def test_x96_kappa_below_accuracy(spark, sf_dir):
    """Chance correction can only lower the score: κ ≤ p_observed,
    both probabilities in [0, 1], and κ ≤ 1."""
    from server_spark.registry import queries

    [r] = queries()["x96_cohen_kappa"](spark, sf_dir).collect()
    assert 0.0 <= r["p_observed"] <= 1.0
    assert 0.0 <= r["p_chance"] <= 1.0
    assert r["kappa"] <= r["p_observed"] + 1e-9
    assert r["kappa"] <= 1.0


def test_x97_pca_matches_numpy(spark, sf_dir):
    """x97's distributed covariance + driver eigh equals a one-shot
    numpy PCA: pc1 scores match the top eigenvector projection (up to
    the pinned sign), score variance equals the top eigenvalue, and
    the ABTT residual norm never exceeds the centered norm."""
    import numpy as np

    from server_spark import tables
    from server_spark.registry import queries

    rows = queries()["x97_pca_abtt"](spark, sf_dir).collect()
    emb = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in tables.load(spark, sf_dir, "embeddings").collect()
    }
    X = np.stack([emb[r["vec_id"]] for r in rows])
    c = X - X.mean(axis=0)
    cov = (c.T @ c) / len(X)
    vals, vecs = np.linalg.eigh(cov)
    v1 = vecs[:, -1]
    j = int(np.argmax(np.abs(v1)))
    if v1[j] < 0:
        v1 = -v1
    want = c @ v1
    got = np.array([r["pc1_score"] for r in rows])
    assert np.allclose(got, want, atol=1e-6)
    assert abs(got.var() - vals[-1]) < 1e-6 * max(1.0, vals[-1])
    # ABTT is an orthogonal projection of the CENTERED vector: its
    # norm can't exceed the centered norm (raw norm CAN grow when a
    # vector sits opposite the mean — not an invariant).
    cnorm = np.linalg.norm(c, axis=1)
    for r, cn in zip(rows, cnorm):
        assert r["norm_after"] <= cn + 1e-9


def test_a37_mann_whitney_vs_python(spark, sf_dir):
    """a37's U and z against an independent Python rank computation
    (average ranks, tie-corrected normal approximation)."""
    import datetime as dt
    import math

    from server_spark import tables
    from server_spark.registry import queries

    got = {
        r["event_type"]: r
        for r in queries()["a37_mann_whitney"](spark, sf_dir).collect()
    }
    ev = tables.load(spark, sf_dir, "events").select(
        "event_type", "ts", "value"
    ).collect()
    monday = dt.date(1970, 1, 5)
    by_type: dict = {}
    for r in ev:
        wknd = (r["ts"].date() - monday).days % 7 >= 5
        by_type.setdefault(r["event_type"], []).append((r["value"], wknd))
    for et, vals in by_type.items():
        ordered = sorted(vals)
        # average ranks with ties
        ranks, i = {}, 0
        while i < len(ordered):
            j = i
            while j < len(ordered) and ordered[j][0] == ordered[i][0]:
                j += 1
            ranks[ordered[i][0]] = (i + 1 + j) / 2
            i = j
        r1 = sum(ranks[v] for v, w in vals if w)
        n1 = sum(1 for _, w in vals if w)
        n2 = len(vals) - n1
        n = len(vals)
        u1 = r1 - n1 * (n1 + 1) / 2
        from collections import Counter

        tie = sum(c**3 - c for c in Counter(v for v, _ in vals).values())
        sigma = math.sqrt(
            (n1 * n2 / 12) * ((n + 1) - tie / (n * (n - 1)))
        )
        z = (u1 - n1 * n2 / 2) / sigma
        g = got[et]
        assert (g["n_weekend"], g["n_weekday"]) == (n1, n2)
        assert abs(g["u_stat"] - u1) < 1e-3
        assert abs(g["z"] - z) < 1e-3
        assert g["significant"] == (abs(g["z"]) > 1.96)


def test_x100_weighted_sample_vs_python(spark, sf_dir):
    """x100's selected set equals the independent top-K of
    u^(1/n_chars) computed driver-side, and long docs are
    over-represented vs a uniform draw (the point of A-ES)."""
    import hashlib

    from server_spark import tables
    from server_spark.registry import queries

    rows = queries()["x100_weighted_sample"](spark, sf_dir).collect()
    docs = tables.load(spark, sf_dir, "documents").select(
        "doc_id", "n_chars"
    ).collect()
    keys = []
    for d in docs:
        if d["n_chars"] <= 0:
            continue
        h = int(
            hashlib.md5(str(d["doc_id"]).encode()).hexdigest()[:8], 16
        )
        u = (h + 0.5) / 2**32
        keys.append((u ** (1.0 / d["n_chars"]), d["doc_id"], d["n_chars"]))
    keys.sort(key=lambda t: (-t[0], t[1]))
    want = {doc_id for _, doc_id, _ in keys[:50]}
    got = {r["doc_id"] for r in rows}
    assert got == want
    # weighted draw skews long: sampled mean length > corpus mean
    mean_all = sum(d["n_chars"] for d in docs) / len(docs)
    mean_sample = sum(r["n_chars"] for r in rows) / len(rows)
    assert mean_sample > mean_all


def test_t35_gapfill_invariants(spark, sf_dir):
    """Gap-fill: observed days keep their exact count; every
    interpolated day lies between its two bounding neighbors and the
    spine has no calendar holes per series."""
    import datetime as dt

    from server_spark.registry import queries

    rows = queries()["t35_gapfill_interpolate"](spark, sf_dir).collect()
    by_series: dict = {}
    for r in rows:
        by_series.setdefault((r["event_type"], r["bucket"]), []).append(r)
    assert by_series
    for series in by_series.values():
        series.sort(key=lambda r: r["day"])
        days = [r["day"] for r in series]
        assert days == [
            days[0] + dt.timedelta(days=i) for i in range(len(days))
        ]
        known = [
            (i, r["n_events"])
            for i, r in enumerate(series)
            if r["n_events"] is not None
        ]
        assert known[0][0] == 0 and known[-1][0] == len(series) - 1
        for r in series:
            if r["n_events"] is not None:
                assert not r["is_gap"]
                assert abs(r["filled"] - r["n_events"]) < 1e-9
        for (i0, v0), (i1, v1) in zip(known, known[1:]):
            lo, hi = min(v0, v1), max(v0, v1)
            for k in range(i0 + 1, i1):
                assert series[k]["is_gap"]
                assert lo - 1e-9 <= series[k]["filled"] <= hi + 1e-9


def test_t38_holt_vs_python_and_line_invariant(spark, sf_dir):
    """Holt forecast against an independent driver-side recursion on
    the real daily series, plus the exact-line invariant: on a
    perfectly linear series the recursion locks onto the line and
    forecasts continue it exactly."""
    import datetime as dt

    from pyspark.sql import functions as SF

    from server_spark import tables
    from server_spark.registry import queries

    got = queries()["t38_holt_forecast"](spark, sf_dir).collect()
    daily: dict = {}
    for r in (
        tables.load(spark, sf_dir, "events")
        .groupBy("event_type", SF.col("ts").cast("date").alias("day"))
        .agg(SF.count("*").alias("c"))
        .collect()
    ):
        daily.setdefault(r["event_type"], []).append((r["day"], r["c"]))
    for et, pts in daily.items():
        pts.sort()
        xs = [float(c) for _, c in pts]
        if len(xs) < 2:
            continue
        lvl, tr = xs[0], xs[1] - xs[0]
        for x in xs[1:]:
            prev = lvl
            lvl = 0.5 * x + 0.5 * (lvl + tr)
            tr = 0.3 * (lvl - prev) + 0.7 * tr
        rows = sorted(
            (r for r in got if r["event_type"] == et),
            key=lambda r: r["horizon"],
        )
        assert [r["horizon"] for r in rows] == [1, 2, 3]
        for r in rows:
            assert abs(r["forecast"] - (lvl + r["horizon"] * tr)) < 1e-9
            assert r["forecast_day"] == pts[-1][0] + dt.timedelta(
                days=r["horizon"]
            )

    # exact-line invariant through the Spark path
    base = dt.date(2024, 3, 1)
    line = spark.createDataFrame(
        [("lin", base + dt.timedelta(days=i), 10 + 3 * i) for i in range(8)],
        "event_type string, day date, c long",
    )
    # drive the registered function's engine on a synthetic series by
    # swapping the daily agg: reuse operator directly via applyInPandas
    # is internal, so emulate through a temp parquet round-trip
    import tempfile

    with tempfile.TemporaryDirectory() as td:
        # events-shaped table: i-th day gets (10+3i) rows
        rows = []
        eid = 0
        for i in range(8):
            for _ in range(10 + 3 * i):
                rows.append(
                    (
                        eid,
                        dt.datetime.combine(
                            base + dt.timedelta(days=i), dt.time(12)
                        ),
                        1,
                        "lin",
                        1.0,
                        "{}",
                    )
                )
                eid += 1
        # events loader sniffs the footer and accepts timestamp[us] or
        # int64-ns — force micros (the session may default to INT96)
        prev_tt = spark.conf.get("spark.sql.parquet.outputTimestampType")
        spark.conf.set(
            "spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS"
        )
        try:
            spark.createDataFrame(
                rows,
                "event_id long, ts timestamp, user_id long, "
                "event_type string, value double, props string",
            ).write.mode("overwrite").parquet(td + "/events.parquet")
        finally:
            spark.conf.set("spark.sql.parquet.outputTimestampType", prev_tt)
        out = queries()["t38_holt_forecast"](spark, td).collect()
    assert len(out) == 3
    for r in out:
        want = (10 + 3 * 7) + 3 * r["horizon"]
        assert abs(r["forecast"] - want) < 1e-9
        assert abs(r["trend"] - 3.0) < 1e-9
