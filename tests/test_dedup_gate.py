"""LSH-gated dedup edge generation: recall vs the exact baseline and
the hot-bucket cap (the scale guards behind x15/x21/x32).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from server_spark.dedup import minhash as mh
from server_spark.dedup import ngram as ng
from server_spark.queries.ext_common import JACCARD_MIN
from server_spark.queries.ext_dedup import _gated_edges


def test_gated_edges_match_exact_baseline(spark, sf_dir):
    """8-band × 4-row banding at the production threshold 0.7 has
    per-pair recall ≥ 99.2% at j = 0.8 (1−(1−s⁴)^8); on the fixed
    corpus + fixed hash family the gated, exact-verified edge set
    equals the exact inverted-index pairs bit-for-bit (and is a
    subset by construction). The corpus is bimodal (every real dup
    has j ≥ 0.8), so this is also the edge set the old 0.2 threshold
    selected."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact07 = {
        (r["doc_a"], r["doc_b"])
        for r in ng.jaccard_pairs(docs, n=3, threshold=0.7).collect()
    }
    exact02 = {
        (r["doc_a"], r["doc_b"])
        for r in ng.jaccard_pairs(docs, n=3, threshold=JACCARD_MIN).collect()
    }
    gated = {
        (r["doc_a"], r["doc_b"]) for r in _gated_edges(docs).collect()
    }
    assert gated == exact07 == exact02
    assert len(gated) > 0


def test_gated_edges_shared_token_sets_are_materialized(spark, sf_dir):
    """Every checkpoint the edge plan reads is materialized before the
    plan runs, so no concurrently running stage computes one whose
    lineage another job truncates (which drops the stage's SQL metric
    updates)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    edges = _gated_edges(docs)
    conv = spark._jvm.scala.jdk.javaapi.CollectionConverters
    leaves = conv.asJava(edges._jdf.queryExecution().analyzed().collectLeaves())
    rdds = [leaf.rdd() for leaf in leaves if leaf.nodeName() == "LogicalRDD"]
    assert rdds, "the edge plan reads no checkpoint"
    assert all(rdd.isCheckpointed() for rdd in rdds)


def test_jaccard_verify_scores_match_exact(spark, sf_dir):
    """The array-intersect verification path must produce the same
    (pair, n_common, jaccard) rows as the inverted-index join when fed
    the full candidate set."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(100)
    exact = {
        (r["doc_a"], r["doc_b"], r["n_common"], round(r["jaccard"], 9))
        for r in ng.jaccard_pairs(docs, n=3, threshold=0.05).collect()
    }
    ids = docs.select(F.col("doc_id"))
    all_pairs = (
        ids.select(F.col("doc_id").alias("doc_a"))
        .crossJoin(ids.select(F.col("doc_id").alias("doc_b")))
        .filter(F.col("doc_a") < F.col("doc_b"))
    )
    verified = {
        (r["doc_a"], r["doc_b"], r["n_common"], round(r["jaccard"], 9))
        for r in ng.jaccard_pairs(
            docs, n=3, threshold=0.05, candidates=all_pairs
        ).collect()
    }
    assert verified == exact


def test_hot_bucket_cap_bounds_candidates(spark):
    """A clique of identical docs floods every band bucket; the
    max_bucket cap must drop those buckets (bounding the self-join's
    worst key) while leaving small buckets untouched. This is why the
    pipelines run EXACT dedup before the gated near-dup pass — an
    uncapped exact-dup clique of size m costs m² candidate rows."""
    rows = [(i, "the same exact document body repeated verbatim " * 5)
            for i in range(40)]
    rows += [(100 + i, f"distinct text number {i} with unique words "
              f"alpha{i} beta{i} gamma{i} delta{i} epsilon{i}")
             for i in range(10)]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    shingles = ng.word_shingles(docs, n=3).localCheckpoint()
    coeffs = mh.md5_coeffs(8, seed=1234)

    uncapped = mh.md5_banded_candidates(shingles, coeffs, n_bands=8)
    assert uncapped.count() >= 40 * 39 // 2  # the clique alone is m²/2

    capped = mh.md5_banded_candidates(
        shingles, coeffs, n_bands=8, max_bucket=10
    )
    capped_pairs = {(r["doc_a"], r["doc_b"]) for r in capped.collect()}
    # every clique bucket (size 40) is dropped; distinct docs unaffected
    assert all(a >= 100 or b >= 100 for a, b in capped_pairs)


# ---------------------------------------------------------------------------
# x41b — semantic-dedup scale path: precision exact, recall pinned
# ---------------------------------------------------------------------------


def test_x41b_precision_and_recall_vs_exact(spark, sf_dir):
    """Every x41b pair must be a true near-dup with the exact score
    (within-cluster scoring is exact cosine ⇒ precision 1.0), and the
    clustering must recover most of the exact all-pairs result
    (SemDeDup misses only cross-cluster pairs)."""
    from server_spark.queries.ext_common import NEARDUP_COS, _emb
    from server_spark.queries.ext_similarity import x41b_semantic_dedup_scaled
    from server_spark.similarity import cosine as cos

    exact = {
        (r.vec_a, r.vec_b): r.score
        for r in cos.neardup_pairs_blocked(
            _emb(spark, sf_dir), threshold=NEARDUP_COS
        ).collect()
    }
    got = x41b_semantic_dedup_scaled(spark, sf_dir).collect()
    # no pair may be reported twice: n_assign=3 boundary replication
    # can score a pair in several clusters, but x41b's post-threshold
    # groupBy(vec_a, vec_b) dedups before returning
    assert len({(r.vec_a, r.vec_b) for r in got}) == len(got)
    for r in got:
        assert (r.vec_a, r.vec_b) in exact, "x41b invented a pair"
        assert abs(exact[(r.vec_a, r.vec_b)] - r.score) < 1e-9
    recall = len(got) / max(len(exact), 1)
    assert recall >= 0.7, f"semantic-cluster recall too low: {recall:.2f}"


def test_grouped_blocked_kernel_splits_groups(spark, sf_dir):
    """Force rows_per_block below the cluster size so every group spans
    several blocks: the grid's diagonal/off-diagonal masking must still
    produce each within-group pair exactly once, and never a
    cross-group pair."""
    from pyspark.sql import functions as F

    from server_spark.queries.ext_common import _emb
    from server_spark.similarity import cosine as cos

    emb = _emb(spark, sf_dir).withColumn(
        "grp", (F.col("vec_id") % 3).cast("int")
    )
    got = {
        (r.cluster_id, r.vec_a, r.vec_b): r.score
        for r in cos.neardup_pairs_blocked_grouped(
            emb, threshold=0.2, group_col="grp", rows_per_block=40
        ).collect()
    }
    # naive per-group reference via the exact pair join
    base = emb.select("vec_id", "embedding", "grp")
    a = base.select(
        F.col("grp"), F.col("vec_id").alias("vec_a"),
        F.col("embedding").alias("ea"),
    )
    b = base.select(
        F.col("grp"), F.col("vec_id").alias("vec_b"),
        F.col("embedding").alias("eb"),
    )
    from server_spark.parity import r4

    want = {
        (r.grp, r.vec_a, r.vec_b): r.score
        for r in a.join(b, "grp")
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "grp", "vec_a", "vec_b",
            r4(cos.cosine("ea", "eb")).alias("score"),
        )
        .filter(F.col("score") >= 0.2)
        .collect()
    }
    assert set(got) == set(want)
    for k, s in got.items():
        assert abs(s - want[k]) < 1e-9
