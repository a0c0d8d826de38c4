"""EXT similarity family: brute/blocked/LSH/IVF vector search and
embedding hygiene (SURVEY.md §2 EXT rows D6, §7.4).
"""

from __future__ import annotations

import random

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from server_spark.barrier import barrier, lazy_barrier
from server_spark.parity import r4, r4sql
from server_spark.queries.ext_common import (
    JACCARD_MIN,
    N_QUERY_VECS,
    NEARDUP_COS,
    TOPK,
    _docs,
    _emb,
    shingle_ctes,
)
from server_spark.registry import register
from server_spark.similarity import cosine as cos

def _query_vecs(emb):
    """The query set every similarity query shares: the first
    N_QUERY_VECS corpus vectors projected as (query_id, query_vec).
    ONE definition (r11 review finding: the three-line block was
    inlined at ~eight sites, so changing the query-set contract —
    e.g. hash-sampled queries instead of an id prefix — would mean
    touching every one)."""
    return emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )


# ---------------------------------------------------------------------------
# x3 — brute-force cosine top-k (similarity search baseline)
# ---------------------------------------------------------------------------

_EE_SQL = """
    ee AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(UNNEST(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM ee GROUP BY vec_id)
"""

_X3_SQL = f"""
    WITH {_EE_SQL},
    q AS (SELECT vec_id, i, v FROM ee WHERE vec_id < {N_QUERY_VECS}),
    dots AS (
        SELECT q.vec_id AS qid, e.vec_id AS vid, SUM(q.v * e.v) AS dot
        FROM q JOIN ee e USING (i)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT qid AS query_id, vid AS vec_id,
               {r4sql("dot / (nq.nrm * ne.nrm)")} AS score
        FROM dots
        JOIN norms nq ON qid = nq.vec_id
        JOIN norms ne ON vid = ne.vec_id
        WHERE qid <> vid
    )
    SELECT query_id, vec_id, score, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, vec_id
        ) AS rnk
        FROM scored
    ) WHERE rnk <= {TOPK}
"""


@register(
    "x3_cosine_topk",
    _X3_SQL,
    doc="EXT x3 — brute-force cosine top-k per query vector: zip_with/"
    "aggregate dot products (JVM, no UDF), per-query window ranking on "
    "canonically-rounded scores with vec_id tiebreak.",
    tags=("ext", "similarity"),
)
def x3_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = _query_vecs(emb)
    return cos.brute_force_topk(emb, queries, k=TOPK)


# ---------------------------------------------------------------------------
# x10 — embedding-cosine near-dup pairs
# ---------------------------------------------------------------------------

_X10_SQL = f"""
    WITH {_EE_SQL},
    dots AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.v * b.v) AS dot
        FROM ee a JOIN ee b USING (i)
        WHERE a.vec_id < b.vec_id
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT vec_a, vec_b, {r4sql("dot / (na.nrm * nb.nrm)")} AS score
        FROM dots
        JOIN norms na ON vec_a = na.vec_id
        JOIN norms nb ON vec_b = nb.vec_id
    )
    SELECT vec_a, vec_b, score FROM scored WHERE score >= {NEARDUP_COS}
"""


@register(
    "x10_embedding_neardup",
    _X10_SQL,
    doc="EXT x10 — embedding-cosine near-duplicate pairs above "
    "threshold, computed as a block-matrix self-product (numpy matmul "
    "per block pair inside mapInPandas; no O(N²) row explosion).",
    tags=("ext", "dedup", "similarity"),
)
def x10_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cos.neardup_pairs_blocked(_emb(spark, sf_dir), threshold=NEARDUP_COS)


# ---------------------------------------------------------------------------
# x22 — int8 scalar quantization of embeddings
# ---------------------------------------------------------------------------


@register(
    "x22_embedding_quantize",
    """
    WITH scaled AS (
        SELECT vec_id,
               GREATEST(list_max(list_transform(embedding,
                   x -> ABS(CAST(x AS DOUBLE)))) / 127, 1e-12) AS scale
        FROM embeddings
    )
    SELECT e.vec_id,
           {SC} AS scale,
           array_to_string(list_transform(embedding,
               x -> CAST(CASE WHEN x < 0
                    THEN -FLOOR(ABS(CAST(x AS DOUBLE)) / scale + 0.5)
                    ELSE  FLOOR(ABS(CAST(x AS DOUBLE)) / scale + 0.5)
                    END AS INT)), ',')
               AS q_values
    FROM embeddings e JOIN scaled s ON e.vec_id = s.vec_id
    """.format(SC=r4sql("scale")),
    doc="EXT x22 — int8 scalar quantization: per-vector absmax scale, "
    "elements snapped to [-127,127] (the 4× memory shrink an ANN "
    "index applies before SIMD scoring). Pure narrow map — "
    "higher-order array functions, no shuffle, no UDF. Round "
    "half-away-from-zero spelled as sign·floor(|x|/scale + 0.5): "
    "pure IEEE double arithmetic, bit-identical across engines "
    "(decimal-cast rounding would double-round at the boundary).",
    tags=("ext", "similarity", "quantize"),
    late=True,
)
def x22_embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    scale = F.greatest(
        F.array_max(F.transform("embedding", lambda x: F.abs(x.cast("double"))))
        / 127,
        F.lit(1e-12),
    )
    # internal name ≠ output alias: the select below re-aliases the
    # ROUNDED value as "scale", and lateral column-alias resolution
    # would otherwise bind the lambda's reference to that rounded
    # sibling instead of the child column
    with_scale = emb.select("vec_id", "embedding", scale.alias("_scale"))

    def _q(x):
        mag = F.floor(F.abs(x.cast("double")) / F.col("_scale") + 0.5)
        return F.when(x < 0, -mag).otherwise(mag).cast("int")

    q = F.transform("embedding", _q)
    return with_scale.select(
        "vec_id",
        r4("_scale").alias("scale"),
        F.array_join(F.transform(q, lambda v: v.cast("string")), ",").alias(
            "q_values"
        ),
    )


# ---------------------------------------------------------------------------
# x27 — embedding-norm outlier trim (histogram-cumulative percentile)
# ---------------------------------------------------------------------------


@register(
    "x27_norm_outlier_trim",
    rf"""
    WITH norms AS (
        SELECT vec_id,
               {r4sql("sqrt(list_sum(list_transform(embedding,"
                      " x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")}
                   AS l2_norm
        FROM embeddings
    ),
    hist AS (SELECT l2_norm, COUNT(*) AS n_vecs FROM norms GROUP BY 1),
    cum AS (
        SELECT l2_norm, n_vecs,
               SUM(n_vecs) OVER (ORDER BY l2_norm) AS cum
        FROM hist
    ),
    tot AS (SELECT COUNT(*) AS n_total FROM norms)
    SELECT v.vec_id, v.l2_norm,
           (c.cum * 100 > t.n_total
            AND (c.cum - c.n_vecs) * 100 < t.n_total * 99) AS kept
    FROM norms v
    JOIN cum c ON v.l2_norm = c.l2_norm
    CROSS JOIN tot t
    """,
    doc="EXT x27 — embedding outlier trim: drop the bottom/top 1% of "
    "vectors by L2 norm (degenerate / exploding embeddings poison "
    "ANN indexes and contrastive training). Exact percentiles via "
    "the scalable histogram-cumulative shape: the global window runs "
    "over DISTINCT ROUNDED norms (cardinality bounded by the value "
    "range × 1e4, not the corpus), per-vector work is one hash-agg "
    "plus a broadcast join back. Norms use the codegen-unrolled "
    "dot_fixed, not the interpreted fold. A norm group is dropped "
    "only if it lies ENTIRELY inside a tail (straddling groups are "
    "kept), so the rule is pure integer arithmetic — no float "
    "threshold to flip between engines — and a constant-norm corpus "
    "drops nothing.",
    tags=("ext", "similarity", "quality"),
    late=True,
)
def x27_norm_outlier_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    return cos.norm_trim_flags(_emb(spark, sf_dir), dim=cos.EMB_DIM)


# ---------------------------------------------------------------------------
# Rows-only ANN operators (engine-side model / plane state)
# ---------------------------------------------------------------------------


def _seeded_tables(
    n_tables: int = 8, n_planes: int = 3, dim: int = 64, seed: int = 7
) -> list[list[list[float]]]:
    """Independent hyperplane sets for multi-table LSH (fixed seed so
    results are reproducible run-to-run)."""
    rng = random.Random(seed)
    return [
        [[rng.gauss(0, 1) for _ in range(dim)] for _ in range(n_planes)]
        for _ in range(n_tables)
    ]


# x11's ORACLE (r13 promotion, VERDICT r12 item 4): the r12 label
# said "plane choice is engine-side state", but the planes are a
# seeded CONSTANT — so they embed as SQL literals (repr doubles are
# shortest-roundtrip; DuckDB's correctly-rounded parse reconstructs
# the identical float64) and the whole pipeline (signatures → bucket
# equi-join → exact cosine rerank) is plain SQL. Documented residual:
# the sign gate (dot >= 0) is the one ulp-exact decision — Spark's
# numpy matmul and DuckDB's SUM may order the 64-term reduction
# differently, so a plane-dot landing within ~1e-13 of zero could
# flip a bucket; for N(0,1)-ish embeddings that is ~1e-14 per
# (vector, plane) ≈ 1e-9 per parity run — accepted, and a flip
# surfaces loudly as a hash mismatch, never silently.
def _x11_sql() -> str:
    planes_values = ", ".join(
        f"({t}, {p}, {i + 1}, CAST({w!r} AS DOUBLE))"
        for t, table in enumerate(_seeded_tables())
        for p, plane in enumerate(table)
        for i, w in enumerate(plane)
    )
    return f"""
    WITH {_EE_SQL},
    planes(tbl, pl, i, w) AS (VALUES {planes_values}),
    pdots AS (
        SELECT e.vec_id, p.tbl, p.pl, SUM(e.v * p.w) AS d
        FROM ee e JOIN planes p USING (i)
        GROUP BY 1, 2, 3
    ),
    sig AS (
        SELECT vec_id, tbl,
               SUM(CASE WHEN d >= 0 THEN 1 << pl ELSE 0 END) AS bucket
        FROM pdots GROUP BY 1, 2
    ),
    cand AS (
        SELECT DISTINCT q.vec_id AS qid, e.vec_id AS vid
        FROM sig q JOIN sig e USING (tbl, bucket)
        WHERE q.vec_id < {N_QUERY_VECS} AND e.vec_id <> q.vec_id
    ),
    dots AS (
        SELECT c.qid, c.vid, SUM(a.v * b.v) AS dot
        FROM cand c
        JOIN ee a ON a.vec_id = c.qid
        JOIN ee b ON b.vec_id = c.vid AND b.i = a.i
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT qid AS query_id, vid AS vec_id,
               {r4sql("dot / (nq.nrm * ne.nrm)")} AS score
        FROM dots
        JOIN norms nq ON qid = nq.vec_id
        JOIN norms ne ON vid = ne.vec_id
    )
    SELECT query_id, vec_id, score, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, vec_id
        ) AS rnk FROM scored
    ) WHERE rnk <= {TOPK}
    """


@register(
    "x11_lsh_cosine_topk",
    _x11_sql(),
    doc="EXT x11 — LSH-bucketed approximate top-k (random hyperplane "
    "signatures → bucket equi-join): the ANN scale path for x3. r13: "
    "hash-verified against a full-pipeline SQL twin — the seeded "
    "hyperplanes embed as literals, signatures/bucket-join/exact "
    "rerank are plain SQL (see _x11_sql's ulp note).",
    tags=("ext", "similarity"),
    late=True,
)
def x11_lsh_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = _query_vecs(emb)
    return cos.lsh_topk(emb, queries, _seeded_tables(), k=TOPK, dim=64)


@register(
    "x14_ivf_topk",
    None,  # KMeans quantizer is engine-side model state
    doc="EXT x14 — IVF approximate top-k: sample-trained coarse "
    "quantizer, numpy-assigned + cached corpus (build_index, offline "
    "at scale), n_probe nearest-centroid search with codegen exact "
    "cosine rerank (the FAISS nlist/nprobe pattern).",
    tags=("ext", "similarity", "rows-only"),
)
def x14_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.similarity.ivf import ivf_topk

    emb = _emb(spark, sf_dir)
    queries = _query_vecs(emb)
    return ivf_topk(
        emb, queries, k=TOPK, n_clusters=16, n_probe=4, cache_key=sf_dir
    )


# ---------------------------------------------------------------------------
# x35 — cluster-coherence outliers (cosine to the label centroid)
# ---------------------------------------------------------------------------

CENTROID_COS_MIN = 0.5


@register(
    "x35_centroid_outliers",
    rf"""
    WITH ee AS (
        SELECT vec_id, label, generate_subscripts(embedding, 1) AS i,
               CAST(UNNEST(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    cent AS (SELECT label, i, AVG(v) AS c FROM ee GROUP BY 1, 2),
    dots AS (
        SELECT e.vec_id, e.label,
               SUM(e.v * c.c) AS dot,
               SQRT(SUM(e.v * e.v)) AS nv,
               SQRT(SUM(c.c * c.c)) AS nc
        FROM ee e JOIN cent c ON e.label = c.label AND e.i = c.i
        GROUP BY 1, 2
    )
    SELECT vec_id, label,
           {r4sql("dot / (nv * nc)")} AS cos_centroid,
           {r4sql("dot / (nv * nc)")} < {CENTROID_COS_MIN} AS is_outlier
    FROM dots
    """,
    doc="EXT x35 — cluster-coherence check (the SemDeDup/embedding-"
    "hygiene primitive): cosine of every vector to its label's "
    "CENTROID; vectors far from their own cluster center are "
    "mislabeled or degenerate and get flagged. Shape: centroids via "
    "64 avg-aggregations in ONE groupBy (no per-dimension explode on "
    "the Spark side), broadcast back (labels are few), cosine as the "
    "codegen-unrolled dot. The outlier flag compares the ROUNDED "
    "cosine so the boolean cannot flip between engines at the "
    "threshold boundary.",
    tags=("ext", "similarity", "quality"),
    late=True,
)
def x35_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = cos.EMB_DIM
    emb = _emb(spark, sf_dir).select(
        "vec_id", "label", F.col("embedding").alias("e")
    )
    # one F.expr string, not 64 nested Column ops: the operator form
    # costs ~4·dim py4j round trips of driver time per call (the
    # dot_fixed r15 note); the parsed tree is identical.
    cent = emb.groupBy("label").agg(
        F.expr(
            "array("
            + ", ".join(
                f"avg(CAST(element_at(e, {i + 1}) AS DOUBLE))"
                for i in range(dim)
            )
            + ")"
        ).alias("c")
    )
    # norms computed ONCE per row on each side BEFORE the join: besides
    # not recomputing per output column, this keeps the final
    # projection down to ONE unrolled dot — TWO dot_fixed trees in a
    # single projection overflow the codegen method-size limit and the
    # whole stage runs interpreted (measured 3× slower; the same
    # pitfall SCALE.md records for many-plane LSH projections).
    cent = cent.withColumn("nc", F.sqrt(cos.dot_fixed("c", "c", dim)))
    with_nv = emb.withColumn("nv", F.sqrt(cos.dot_fixed("e", "e", dim)))
    joined = with_nv.join(F.broadcast(cent), "label")
    cosine = r4(
        cos.dot_fixed("e", "c", dim) / (F.col("nv") * F.col("nc"))
    )
    # TWO projections on purpose: referencing `cosine` twice in one
    # select duplicates the whole 64-term dot + decimal-round tree in
    # the generated code (the r4 bench showed this as 2.6 s -> 4.7 s).
    # CollapseProject leaves the split alone because the producer
    # expression is non-cheap and referenced twice, so the flag reads
    # the already-computed column.
    return joined.select(
        "vec_id", "label", cosine.alias("cos_centroid")
    ).withColumn("is_outlier", F.col("cos_centroid") < CENTROID_COS_MIN)


# ---------------------------------------------------------------------------
# x41 — semantic dedup (cluster-pruned pairwise cosine, SemDeDup shape)
# ---------------------------------------------------------------------------

K_SEED_CLUSTERS = 8

_X41_SQL = rf"""
    WITH n AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               SQRT(list_inner_product(
                   list_transform(embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ),
    seeds AS (
        SELECT vec_id AS seed_id, v AS sv, nrm AS snrm
        FROM n ORDER BY vec_id LIMIT {K_SEED_CLUSTERS}
    ),
    scored AS (
        SELECT n.vec_id, s.seed_id,
               {r4sql("list_inner_product(n.v, s.sv) / (n.nrm * s.snrm)")}
                   AS cosv
        FROM n CROSS JOIN seeds s
    ),
    assign AS (
        SELECT vec_id, seed_id AS cluster_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY cosv DESC, seed_id) AS rn
            FROM scored) WHERE rn = 1
    ),
    pairs AS (
        SELECT a.cluster_id, a.vec_id AS vec_a, b.vec_id AS vec_b,
               {r4sql("list_inner_product(na.v, nb.v) / (na.nrm * nb.nrm)")}
                   AS score
        FROM assign a
        JOIN assign b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
        JOIN n na ON a.vec_id = na.vec_id
        JOIN n nb ON b.vec_id = nb.vec_id
    )
    SELECT cluster_id, vec_a, vec_b, score
    FROM pairs WHERE score >= {NEARDUP_COS}
"""


@register(
    "x41_semantic_dedup",
    _X41_SQL,
    doc="EXT x41 — semantic dedup, the SemDeDup shape (Abbas et al. "
    "2023): cluster the embedding space, then score pairwise cosine "
    "ONLY within a cluster, turning the O(N²) all-pairs scan into "
    "Σ|cluster|². Demo-sized determinism: the 8 lowest-vec_id vectors "
    "act as fixed seed centroids (k-means iteration is engine-side "
    "state an oracle can't replay), assignment is argmax cosine on "
    "CANONICALLY-ROUNDED scores with seed_id tiebreak so both engines "
    "pick identical clusters. Shape: seeds broadcast (K rows) against "
    "the corpus — one narrow scored map, one 8-row window per vec — "
    "then the pair join keys on cluster_id. At 100 TB, K grows ~√N "
    "(clusters stay bounded ⇒ the per-cluster self-join stays "
    "bounded) and the within-cluster scoring drops into the blocked "
    "numpy matmul kernel (cosine.neardup_pairs_blocked); with few "
    "clusters the cluster_id join key is skewed — salted_join is the "
    "mitigation (see j8).",
    tags=("ext", "similarity", "dedup"),
    late=True,
)
def x41_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    dim = cos.EMB_DIM
    n = _emb(spark, sf_dir).select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.sqrt(cos.dot_fixed("embedding", "embedding", dim)).alias("nrm"),
    )
    seeds = (
        n.orderBy("vec_id")
        .limit(K_SEED_CLUSTERS)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.col("v").alias("sv"),
            F.col("nrm").alias("snrm"),
        )
    )
    scored = n.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "v",
        "seed_id",
        r4(
            cos.dot_fixed("v", "sv", dim) / (F.col("nrm") * F.col("snrm"))
        ).alias("cosv"),
    )
    # r14 (guide §2.3 "aggregate before you shuffle"): argmax per
    # vector as max(struct(cosv, -seed_id)) instead of a row_number
    # window — struct max uses the SAME total order as the window's
    # (cosv DESC, seed_id ASC), including NaN-greatest, so the picked
    # seed is identical row for row; the exchange carries one
    # partially-aggregated row per vector instead of K, and the
    # embedding rides the same aggregation (every row of a vec_id
    # carries the same v, so first() is deterministic-by-value), which
    # also deletes the assign⋈n join-back and its two exchanges.
    # Measured (sf0.1, interleaved A/B): min 4.36→3.84 s. Two
    # alternatives measured WORSE and were discarded: the same
    # max(struct) WITHOUT the embedding carry on x78 (3.1→6.2 s,
    # double SortAggregate), and a literal-seed narrow fold with the
    # K=8 seeds collected and inlined (17.6 s — the 8×64-term
    # expression tree falls out of whole-stage codegen).
    clustered = (
        scored.groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cosv"), (-F.col("seed_id")).alias("ns")
                )
            ).alias("m"),
            F.first("v").alias("embedding"),
        )
        .select(
            "vec_id", "embedding", (-F.col("m.ns")).alias("cluster_id")
        )
    )
    # Within-cluster scoring through the grouped blocked matmul (the
    # same kernel as x41b/x10): the row-exploding pair self-join never
    # materializes, and the numpy scorer replicates parity.r4 exactly
    # (x10's hash-green record is the proof), so the oracle twin above
    # stays bit-identical while the plan drops from N²/K joined rows
    # to block-packed matmuls.
    return cos.neardup_pairs_blocked_grouped(
        clustered, threshold=NEARDUP_COS, group_col="cluster_id"
    ).select("cluster_id", "vec_a", "vec_b", "score")


# ---------------------------------------------------------------------------
# x41b — semantic dedup, production scale shape (K ~ √N KMeans
# clusters + per-cluster blocked matmul)
# ---------------------------------------------------------------------------


@register(
    "x41b_semantic_dedup_scaled",
    None,  # KMeans quantizer is engine-side model state (like x14)
    doc="EXT x41b — x41's production shape (the r3 verdict's ask): "
    "K grows as √N (floor 8) so expected cluster size is also ~√N and "
    "the Σ|cluster|² within-cluster pair volume stays ~N^1.5, not "
    "N²/K for fixed K. Centroids come from the IVF KMeans quantizer "
    "(sample-trained); n_assign=3 boundary replication — near-"
    "boundary pairs are the classic recall leak of single-assignment "
    "SemDeDup, and listing each vector in its 3 nearest Voronoi cells "
    "lifts recall 0.28→0.84 on the weakly-clustered synthetic corpus "
    "for 3× list storage. Within-cluster scoring routes through the "
    "grouped blocked numpy matmul "
    "(cosine.neardup_pairs_blocked_grouped), so the self-join keys on "
    "(cluster, block) — never a fixed handful of hot literals — and "
    "per-task memory is two ≤4096-row blocks regardless of cluster "
    "skew. Pairs sharing several replicated cells collapse to one row "
    "via a post-threshold groupBy (tiny: only survivors shuffle). x41 "
    "(fixed 8 seeds, oracle-replayable argmax) remains the "
    "deterministic correctness twin; precision-exactness and the "
    "recall floor vs exact all-pairs are pinned by "
    "tests/test_dedup_gate.py.",
    tags=("ext", "similarity", "dedup", "rows-only"),
)
def x41b_semantic_dedup_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.similarity.ivf import cached_index

    emb = _emb(spark, sf_dir)
    # K ~ √N: one count job (at 100 TB this is table metadata / a
    # maintained stat, not a scan).
    k = max(8, int(emb.count() ** 0.5))
    index = cached_index(
        emb, cache_key=f"{sf_dir}#x41b", n_clusters=k, n_assign=3
    )
    clustered = index.assigned.select(
        "vec_id", "embedding", F.col("cluster").alias("sem_cluster")
    )
    pairs = cos.neardup_pairs_blocked_grouped(
        clustered,
        threshold=NEARDUP_COS,
        group_col="sem_cluster",
    )
    # a pair sharing several replicated cells is found once per shared
    # cell — keep one row (scores are exact, hence identical; min()
    # for a deterministic reported cluster)
    return pairs.groupBy("vec_a", "vec_b").agg(
        F.min("cluster_id").alias("cluster_id"),
        F.min("score").alias("score"),
    )


# ---------------------------------------------------------------------------
# x42 — cross-modal dup adjudication (embedding recall × lexical
# precision; doc_id and vec_id are aligned in the corpus)
# ---------------------------------------------------------------------------

_X42_SQL = rf"""
    WITH {_EE_SQL},
    dots AS (
        SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, SUM(a.v * b.v) AS dot
        FROM ee a JOIN ee b USING (i)
        WHERE a.vec_id < b.vec_id
        GROUP BY 1, 2
    ),
    cpairs AS (
        SELECT vec_a AS doc_a, vec_b AS doc_b,
               {r4sql("dot / (na.nrm * nb.nrm)")} AS cos_score
        FROM dots
        JOIN norms na ON vec_a = na.vec_id
        JOIN norms nb ON vec_b = nb.vec_id
        WHERE {r4sql("dot / (na.nrm * nb.nrm)")} >= {NEARDUP_COS}
    ),
    {shingle_ctes()},
    counts AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
    hashes AS (
        SELECT doc_id,
               sha256(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS h
        FROM documents
    ),
    common AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
        FROM cpairs p
        JOIN sh sa ON sa.doc_id = p.doc_a
        JOIN sh sb ON sb.doc_id = p.doc_b AND sb.shingle = sa.shingle
        GROUP BY 1, 2
    )
    -- counts joins are LEFT + zero-filled: a doc under 3 words has
    -- no shingle rows, and an inner join silently dropped every
    -- candidate pair touching it while the Spark side kept the pair
    -- (r11 review finding). A pair with no shingles on either side
    -- gets NULL jaccard (0/0 via NULLIF) and confirmed falls back to
    -- the exact-hash leg on both engines.
    SELECT p.doc_a, p.doc_b, p.cos_score,
           COALESCE(c.n_common, 0) AS n_common,
           {r4sql("COALESCE(c.n_common, 0)"
                  " / NULLIF(COALESCE(ca.n_sh, 0) + COALESCE(cb.n_sh, 0)"
                  " - COALESCE(c.n_common, 0), 0)")}
               AS jaccard,
           ha.h = hb.h AS is_exact,
           (ha.h = hb.h OR COALESCE(
            CAST(COALESCE(c.n_common, 0) AS DOUBLE)
              / NULLIF(COALESCE(ca.n_sh, 0) + COALESCE(cb.n_sh, 0)
                       - COALESCE(c.n_common, 0), 0)
              >= {JACCARD_MIN}, FALSE)) AS confirmed
    FROM cpairs p
    LEFT JOIN common c ON p.doc_a = c.doc_a AND p.doc_b = c.doc_b
    LEFT JOIN counts ca ON p.doc_a = ca.doc_id
    LEFT JOIN counts cb ON p.doc_b = cb.doc_id
    JOIN hashes ha ON p.doc_a = ha.doc_id
    JOIN hashes hb ON p.doc_b = hb.doc_id
"""


@register(
    "x42_crossmodal_dup_check",
    _X42_SQL,
    doc="EXT x42 — cross-modal dup adjudication: embedding-cosine "
    "candidate pairs (high recall, blocked numpy matmul — x10's "
    "kernel) re-scored with LEXICAL signals on the aligned documents "
    "— exact normalized-hash equality and word-3-gram Jaccard — into "
    "a confirmed flag. This is the production arbitration step "
    "between 'embeddings say near-dup' and 'the text agrees': "
    "semantic-only dedup deletes paraphrases a curator may want to "
    "keep, lexical-only misses them; the composition surfaces both "
    "signals per pair. Shape: the pair list (small, post-threshold) "
    "joins the per-doc shingle-set arrays and hashes — corpus-side "
    "work is two narrow maps + one hash-agg; the pairwise "
    "array_intersect runs only on candidates, never all pairs. "
    "Booleans derive from integer/rational arithmetic (identical "
    "across engines), never from rounded floats.",
    tags=("ext", "similarity", "dedup"),
    late=True,
)
def x42_crossmodal_dup_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup import exact as ex
    from server_spark.dedup import ngram as ng

    pairs = cos.neardup_pairs_blocked(
        _emb(spark, sf_dir), threshold=NEARDUP_COS
    ).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        F.col("score").alias("cos_score"),
    )
    # split projected in its own select (lambda-CSE pitfall, SCALE.md)
    words = _docs(spark, sf_dir).select(
        "doc_id", ng.split_words("text").alias("w"), ex.text_hash("text").alias("h")
    )
    sets = words.select(
        "doc_id",
        ng.shingle_array("w").alias("sh_set"),
        "h",
    ).withColumn("n_sh", F.size("sh_set"))
    a = sets.select(
        F.col("doc_id").alias("doc_a"),
        F.col("sh_set").alias("set_a"),
        F.col("n_sh").alias("sh_a"),
        F.col("h").alias("h_a"),
    )
    b = sets.select(
        F.col("doc_id").alias("doc_b"),
        F.col("sh_set").alias("set_b"),
        F.col("n_sh").alias("sh_b"),
        F.col("h").alias("h_b"),
    )
    j = pairs.join(a, "doc_a").join(b, "doc_b").withColumn(
        "n_common", F.size(F.array_intersect("set_a", "set_b"))
    )
    # try_divide: a pair of two sub-3-word docs has 0 shingles on both
    # sides — 0/0 must yield NULL jaccard (confirmed falls back to the
    # exact-hash leg), not throw under ANSI (r11 review finding)
    jac_exact = F.try_divide(
        F.col("n_common"),
        F.col("sh_a") + F.col("sh_b") - F.col("n_common"),
    )
    return j.select(
        "doc_a",
        "doc_b",
        "cos_score",
        "n_common",
        r4(jac_exact).alias("jaccard"),
        (F.col("h_a") == F.col("h_b")).alias("is_exact"),
        (
            (F.col("h_a") == F.col("h_b"))
            | F.coalesce(jac_exact >= F.lit(JACCARD_MIN), F.lit(False))
        ).alias("confirmed"),
    )


# ---------------------------------------------------------------------------
# x47 — product-quantization ADC top-k (compressed-corpus ANN)
# ---------------------------------------------------------------------------


@register(
    "x47_pq_adc_topk",
    None,  # PQ codebooks are engine-side model state (like x14's KMeans)
    doc="EXT x47 — product-quantization ANN (Jégou et al. 2011, the "
    "FAISS PQm family): per-subspace codebooks trained on a bounded "
    "sample, the corpus encoded once into m uint8 codes + exact "
    "reconstruction norm (binary column, 64× smaller than the raw "
    "vectors — at 100 TB the ADC scan reads a ~1.6 TB code table "
    "instead of the embeddings), queries scored EXACT-side via m×ksub "
    "lookup tables with per-partition partial top-k bounding the "
    "shuffle at partitions×k rows. Rows-only: scores are approximate "
    "by construction; recall vs the exact brute force is pinned in "
    "tests/test_pq.py.",
    tags=("ext", "similarity", "rows-only"),
    late=True,
)
def x47_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.similarity.pq import pq_topk

    emb = _emb(spark, sf_dir)
    queries = _query_vecs(emb)
    return pq_topk(emb, queries, k=TOPK, cache_key=sf_dir)


# ---------------------------------------------------------------------------
# x49 — IVFPQ: coarse-quantizer-gated ADC (the billion-scale ANN shape)
# ---------------------------------------------------------------------------


@register(
    "x49_ivfpq_topk",
    None,  # both quantizers are engine-side model state
    doc="EXT x49 — IVFPQ (Jégou et al. 2011 §V; FAISS IVFx,PQm): the "
    "x14 coarse quantizer bounds WHICH codes each query reads "
    "(n_probe inverted lists via the cluster equi-join), a RESIDUAL "
    "product quantizer bounds their SIZE (m bytes + one norm per "
    "candidate; q·x decomposes as q·centroid + LUT(q)·codes, so the "
    "bits encode within-cell offsets — measured recall@10 at sf0.01 "
    "0.44 with global codes vs 0.62 residual, against the gate's "
    "0.70 exact-rerank ceiling). Per query ~corpus×n_probe/"
    "n_clusters candidates, each m LUT gathers — at 1B vectors a "
    "query touches ~2 MB of codes instead of 2 GB of floats. "
    "Rows-only; recall pinned in tests/test_pq.py.",
    tags=("ext", "similarity", "rows-only"),
    late=True,
)
def x49_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.similarity.pq import ivfpq_topk

    emb = _emb(spark, sf_dir)
    queries = _query_vecs(emb)
    return ivfpq_topk(
        emb, queries, k=TOPK, n_clusters=16, n_probe=4, cache_key=sf_dir
    )


# ---------------------------------------------------------------------------
# x51 — incremental index maintenance (assign arriving batch + drift)
# ---------------------------------------------------------------------------


@register(
    "x51_incremental_index_assign",
    None,  # quantizer is engine-side model state
    doc="EXT x51 — incremental ANN index maintenance: an ARRIVING "
    "embedding batch (odd vec_ids as the demo split) assigned to the "
    "STANDING index built on the base corpus (even vec_ids) — the "
    "FAISS add-after-train step as a narrow Arrow pass, the x38/x45 "
    "incremental posture applied to index upkeep. Output rows union "
    "straight into the inverted-list table; d2_ratio (assigned "
    "distance² over the base corpus's mean build distortion — a "
    "build-time stat at scale, recomputed here for the demo) is the "
    "REBUILD TRIGGER: a batch median ≫1 means the quantizer no "
    "longer fits the data. Per-increment cost scales with the batch; "
    "the corpus is never rescanned at scale. Rows-only; assignment "
    "optimality and drift semantics pinned in tests/test_pq.py.",
    tags=("ext", "similarity", "incremental", "rows-only"),
    late=True,
)
def x51_incremental_index_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.similarity.ivf import assign_batch, build_index

    emb = _emb(spark, sf_dir)
    base = emb.filter(F.col("vec_id") % 2 == 0)
    batch = emb.filter(F.col("vec_id") % 2 == 1)
    idx = build_index(base, n_clusters=16, cache=False, n_assign=1)
    base_d2 = (
        assign_batch(idx, base).agg(F.avg("_d2")).first()[0] or 1e-12
    )  # empty base corpus → no distortion stat; avoid None math
    out = assign_batch(idx, batch)
    return out.select(
        "vec_id",
        "cluster",
        r4(F.col("_d2") / F.lit(max(base_d2, 1e-12))).alias("d2_ratio"),
    )


# ---------------------------------------------------------------------------
# x52 — IVFPQ + exact refine re-rank (FAISS IVFx,PQm + RFlat)
# ---------------------------------------------------------------------------


@register(
    "x52_ivfpq_refine_topk",
    None,  # quantizers are engine-side model state
    doc="EXT x52 — the serving-grade ANN composition: x49's IVFPQ "
    "produces a k×4 quantized shortlist, then ONLY those ids are "
    "re-scored exactly against their raw vectors (broadcast the "
    "shortlist into one gated corpus scan, codegen-unrolled dot). "
    "Recall recovers from the code approximation (measured ~0.62) to "
    "the IVF gate's exact-rerank ceiling (~0.70 at sf0.01) while the "
    "corpus-sized pass still reads 8-byte codes, not 512-byte "
    "vectors. Rows-only; recall pinned in tests/test_pq.py.",
    tags=("ext", "similarity", "rows-only"),
    late=True,
)
def x52_ivfpq_refine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.similarity.pq import ivfpq_refine_topk

    emb = _emb(spark, sf_dir)
    queries = _query_vecs(emb)
    return ivfpq_refine_topk(
        emb, queries, k=TOPK, refine=4, n_clusters=16, n_probe=4,
        cache_key=sf_dir,
    )


# ---------------------------------------------------------------------------
# x59 — hard-negative mining (nearest neighbors of a DIFFERENT class)
# ---------------------------------------------------------------------------

_X59_SQL = f"""
    WITH {_EE_SQL},
    q AS (SELECT vec_id, i, v FROM ee WHERE vec_id < {N_QUERY_VECS}),
    dots AS (
        SELECT q.vec_id AS qid, e.vec_id AS vid, SUM(q.v * e.v) AS dot
        FROM q JOIN ee e USING (i)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT qid AS query_id, vid AS vec_id,
               {r4sql("dot / (nq.nrm * ne.nrm)")} AS score
        FROM dots
        JOIN norms nq ON qid = nq.vec_id
        JOIN norms ne ON vid = ne.vec_id
        JOIN embeddings lq ON qid = lq.vec_id
        JOIN embeddings lv ON vid = lv.vec_id
        WHERE qid <> vid AND lq.label <> lv.label
    )
    SELECT query_id, vec_id, score, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, vec_id
        ) AS rnk
        FROM scored
    ) WHERE rnk <= {TOPK}
"""


@register(
    "x59_hard_negatives",
    _X59_SQL,
    doc="EXT x59 — hard-negative mining for retrieval/contrastive "
    "training: per anchor, the top-k most similar vectors with a "
    "DIFFERENT label — maximally confusing negatives, the standard "
    "curriculum for dense retrievers (DPR/Contriever practice). Same "
    "broadcast-queries one-corpus-scan shape as x3 with the label "
    "inequality applied BEFORE ranking (a post-rank filter would "
    "under-fill k); at scale the brute scan swaps for the IVF/LSH "
    "gate unchanged.",
    tags=("ext", "similarity", "training"),
    late=True,
)
def x59_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    corpus = emb.select(
        "vec_id", "embedding", "label", cos.norm("embedding").alias("_nrm")
    )
    qs = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        F.col("label").alias("q_label"),
        cos.norm("embedding").alias("_qn"),
    )
    cand = corpus.crossJoin(F.broadcast(qs)).filter(
        F.col("q_label") != F.col("label")
    )
    return cos._exact_topk(
        cand, TOPK, "vec_id", "embedding", "query_id", "query_vec"
    )


# ---------------------------------------------------------------------------
# x65 — MMR-diversified top-k (retrieval with redundancy penalty)
# ---------------------------------------------------------------------------

MMR_M = 30       # candidate pool per query (relevance top-M)
MMR_K = 10       # diversified results per query
MMR_LAMBDA = 0.7  # relevance weight; 1-λ penalizes redundancy


# Promoted from rows-only (r12): the greedy argmax IS expressible —
# a recursive CTE picks one candidate per (query, step) via a
# windowed argmax over marginal = λ·rel − (1−λ)·max sim-to-chosen
# (the chosen set rides as a BIGINT[] in the recursion state; the
# redundancy max is a LEFT JOIN against pair sims gated by
# list_contains). rel/sims replicate the udf's np.round(·,4) as
# round_even(x·10⁴, 0)/10⁴ (numpy rounds HALF-EVEN on the scaled
# binary double — DuckDB's plain ROUND and even round_even(x, 4)
# disagree with it on e.g. 0.00015); the candidate stage reuses the
# x3 twin's r4-rounded ranking, so the pools match exactly.
_X65_SQL = f"""
WITH RECURSIVE ee AS (
    SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           CAST(UNNEST(embedding) AS DOUBLE) AS v
    FROM embeddings
),
norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM ee GROUP BY vec_id),
q AS (SELECT vec_id, i, v FROM ee WHERE vec_id < {N_QUERY_VECS}),
dots AS (
    SELECT q.vec_id AS qid, e.vec_id AS vid, SUM(q.v * e.v) AS dot
    FROM q JOIN ee e USING (i)
    GROUP BY 1, 2
),
scored AS (
    SELECT qid AS query_id, vid AS vec_id, {{R4}} AS score
    FROM dots
    JOIN norms nq ON qid = nq.vec_id
    JOIN norms ne ON vid = ne.vec_id
    WHERE qid <> vid
),
cands AS (
    SELECT query_id, vec_id FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY query_id ORDER BY score DESC, vec_id) AS rnk
        FROM scored
    ) WHERE rnk <= 30
),
pool_e AS (
    SELECT c.query_id, c.vec_id, e.i, e.v
    FROM cands c JOIN ee e USING (vec_id)
),
rels AS (
    SELECT p.query_id, p.vec_id,
           round_even((SUM(p.v * qe.v) / (nc.nrm * nq.nrm)) * 10000.0, 0)
               / 10000.0 AS rel
    FROM pool_e p
    JOIN ee qe ON qe.vec_id = p.query_id AND qe.i = p.i
    JOIN norms nc ON nc.vec_id = p.vec_id
    JOIN norms nq ON nq.vec_id = p.query_id
    GROUP BY p.query_id, p.vec_id, nc.nrm, nq.nrm
),
sims AS (
    SELECT a.query_id, a.vec_id AS va, b.vec_id AS vb,
           round_even((SUM(a.v * b.v) / (na.nrm * nb.nrm)) * 10000.0, 0)
               / 10000.0 AS s
    FROM pool_e a
    JOIN pool_e b ON a.query_id = b.query_id AND a.i = b.i
    JOIN norms na ON na.vec_id = a.vec_id
    JOIN norms nb ON nb.vec_id = b.vec_id
    GROUP BY a.query_id, a.vec_id, b.vec_id, na.nrm, nb.nrm
),
rec(query_id, it, chosen) AS (
    SELECT query_id, CAST(0 AS BIGINT), CAST([] AS BIGINT[])
    FROM (SELECT DISTINCT query_id FROM cands)
    UNION ALL
    SELECT query_id, it + 1, chosen || [vec_id]
    FROM (
        SELECT m.query_id, m.it, m.chosen, m.vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY m.query_id
                   ORDER BY m.marginal DESC, m.vec_id ASC) AS pick
        FROM (
            SELECT r.query_id, r.it, r.chosen, rl.vec_id,
                   CAST(0.7 AS DOUBLE) * rl.rel
                     - (1 - CAST(0.7 AS DOUBLE))
                       * COALESCE(MAX(s.s), CAST(0 AS DOUBLE)) AS marginal
            FROM rec r
            JOIN rels rl ON rl.query_id = r.query_id
                        AND NOT list_contains(r.chosen, rl.vec_id)
            LEFT JOIN sims s ON s.query_id = r.query_id
                            AND s.va = rl.vec_id
                            AND list_contains(r.chosen, s.vb)
            WHERE r.it < 10
            GROUP BY r.query_id, r.it, r.chosen, rl.vec_id, rl.rel
        ) m
    ) p WHERE pick = 1
)
SELECT u.query_id, u.vec_id, rl.rel AS relevance,
       CAST(u.mmr_rank AS INTEGER) AS mmr_rank
FROM (
    SELECT query_id,
           unnest(chosen) AS vec_id,
           unnest(range(1, len(chosen) + 1)) AS mmr_rank
    FROM rec WHERE it = 10
) u
JOIN rels rl ON rl.query_id = u.query_id AND rl.vec_id = u.vec_id
ORDER BY u.query_id, mmr_rank
""".replace("{R4}", r4sql("dot / (nq.nrm * ne.nrm)"))


@register(
    "x65_mmr_diverse_topk",
    _X65_SQL,
    doc="EXT x65 — MAXIMAL MARGINAL RELEVANCE retrieval: per query, "
    "greedy-select k results maximizing λ·sim(q,d) − (1−λ)·max_{s∈S} "
    "sim(d,s) — the standard redundancy-penalized re-rank (Carbonell "
    "& Goldstein '98) a retrieval-augmented data pipeline applies so "
    "near-duplicate neighbors don't crowd out coverage. Scale shape: "
    "stage 1 is the existing broadcast-queries one-corpus-scan top-M "
    "(swap in the IVF/PQ gate unchanged at 100 TB); stage 2 re-ranks "
    "WITHIN each query's M-row candidate group via applyInPandas — "
    "M×M pairwise work is a constant per group, groups shuffle once "
    "by query_id. Deterministic: ties break on vec_id, scores "
    "4-decimal-canonical; pinned against an in-test reference "
    "implementation AND the r12 recursive-CTE oracle.",
    tags=("ext", "similarity"),
    late=True,
)
def x65_mmr_diverse_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    emb = _emb(spark, sf_dir)
    queries = _query_vecs(emb)
    cands = cos.brute_force_topk(emb, queries, k=MMR_M).select(
        "query_id", "vec_id"
    )
    # candidate rows with their vectors: the candidate set is
    # queries×M (tiny) → broadcast it onto the one corpus scan, then
    # attach the query vector the same way.
    pool = (
        emb.join(F.broadcast(cands), "vec_id")
        .join(F.broadcast(queries), "query_id")
        .select("query_id", "vec_id", "embedding", "query_vec")
    )

    schema = T.StructType(
        [
            T.StructField("query_id", T.LongType()),
            T.StructField("vec_id", T.LongType()),
            T.StructField("relevance", T.DoubleType()),
            T.StructField("mmr_rank", T.IntegerType()),
        ]
    )
    lam, k_out = MMR_LAMBDA, MMR_K

    def mmr(pdf):
        import numpy as np
        import pandas as pd

        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        V = np.asarray([np.asarray(v, dtype="float64") for v in pdf["embedding"]])
        q = np.asarray(pdf["query_vec"].iloc[0], dtype="float64")
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        rel = np.round(Vn @ (q / np.linalg.norm(q)), 4)
        S = np.round(Vn @ Vn.T, 4)  # candidate-candidate similarity
        n = len(pdf)
        chosen: list[int] = []
        free = list(range(n))
        while free and len(chosen) < k_out:
            if chosen:
                red = S[np.ix_(free, chosen)].max(axis=1)
            else:
                red = np.zeros(len(free))
            marginal = lam * rel[free] - (1 - lam) * red
            # first max wins → ties break on the vec_id sort order
            chosen.append(free.pop(int(np.argmax(marginal))))
        return pd.DataFrame(
            {
                "query_id": pdf["query_id"].iloc[0],
                "vec_id": pdf["vec_id"].iloc[np.asarray(chosen)].to_numpy(),
                "relevance": rel[chosen],
                "mmr_rank": np.arange(1, len(chosen) + 1, dtype="int32"),
            }
        )

    return pool.groupBy("query_id").applyInPandas(mmr, schema=schema)


# ---------------------------------------------------------------------------
# x68 — reciprocal-rank fusion (hybrid semantic + lexical retrieval)
# ---------------------------------------------------------------------------

RRF_K = 60      # the standard dampening constant (Cormack et al. '09)
RRF_POOL = 20   # per-signal candidate depth before fusion
RRF_TOP = 10

_X68_SQL = rf"""
    WITH ee AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(UNNEST(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM ee GROUP BY vec_id),
    q AS (SELECT vec_id, i, v FROM ee WHERE vec_id < {N_QUERY_VECS}),
    dots AS (
        SELECT q.vec_id AS qid, e.vec_id AS vid, SUM(q.v * e.v) AS dot
        FROM q JOIN ee e USING (i)
        GROUP BY 1, 2
    ),
    sem AS (
        SELECT qid AS query_id, vid AS doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY qid
                   ORDER BY {r4sql("dot / (nq.nrm * ne.nrm)")} DESC, vid
               ) AS rnk
        FROM dots
        JOIN norms nq ON qid = nq.vec_id
        JOIN norms ne ON vid = ne.vec_id
        WHERE qid <> vid
    ),
    semt AS (SELECT * FROM sem WHERE rnk <= {RRF_POOL}),
    w AS (
        SELECT doc_id,
               generate_subscripts(string_split_regex(LOWER(TRIM(text)), '\s+'), 1) AS pos,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS word
        FROM documents
    ),
    sh0 AS (
        SELECT doc_id,
               word || ' ' || LEAD(word, 1) OVER win || ' ' || LEAD(word, 2) OVER win AS shingle,
               LEAD(word, 2) OVER win AS last2
        FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM sh0 WHERE last2 IS NOT NULL),
    qs AS (SELECT doc_id AS query_id, shingle FROM sh
           WHERE doc_id < {N_QUERY_VECS}),
    overlap AS (
        SELECT qs.query_id, sh.doc_id, COUNT(*) AS shared
        FROM qs JOIN sh USING (shingle)
        WHERE sh.doc_id <> qs.query_id
        GROUP BY 1, 2
    ),
    lex AS (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY shared DESC, doc_id
               ) AS rnk
        FROM overlap
    ),
    lext AS (SELECT * FROM lex WHERE rnk <= {RRF_POOL}),
    fused AS (
        SELECT COALESCE(s.query_id, l.query_id) AS query_id,
               COALESCE(s.doc_id, l.doc_id) AS doc_id,
               (CASE WHEN s.rnk IS NULL THEN 0.0
                     ELSE 1.0 / ({RRF_K} + s.rnk) END
                + CASE WHEN l.rnk IS NULL THEN 0.0
                       ELSE 1.0 / ({RRF_K} + l.rnk) END) AS rrf
        FROM semt s
        FULL OUTER JOIN lext l
          ON s.query_id = l.query_id AND s.doc_id = l.doc_id
    )
    SELECT query_id, doc_id, rrf_score, rnk FROM (
        SELECT query_id, doc_id, {r4sql("rrf")} AS rrf_score,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY rrf DESC, doc_id
               ) AS rnk
        FROM fused
    ) WHERE rnk <= {RRF_TOP}
"""


@register(
    "x68_rrf_hybrid_retrieval",
    _X68_SQL,
    doc="EXT x68 — RECIPROCAL-RANK FUSION: each query doc retrieves "
    "two candidate lists — embedding cosine (semantic) and word-3-gram "
    "overlap (lexical, the BM25 stand-in) — fused by Σ 1/(60+rank), "
    "the standard score-free hybrid-search combiner (robust to "
    "incomparable score scales, which is exactly why RAG stacks use "
    "it over score mixing). Shape: the semantic side is x3's "
    "broadcast-queries one-corpus-scan; the lexical side joins the "
    "tiny query shingle set to the inverted shingle index (query side "
    "broadcast, never all-pairs); fusion is a full-outer join of two "
    "queries×pool relations (bounded) and one window per query.",
    tags=("ext", "similarity"),
    late=True,
)
def x68_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup import ngram as ng

    emb = _emb(spark, sf_dir)
    queries = _query_vecs(emb)
    sem = cos.brute_force_topk(emb, queries, k=RRF_POOL).select(
        "query_id", F.col("vec_id").alias("doc_id"), F.col("rnk").alias("sem_rnk")
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    sh = ng.word_shingles(docs, n=3)
    qs = sh.filter(F.col("doc_id") < N_QUERY_VECS).select(
        F.col("doc_id").alias("query_id"), "shingle"
    )
    overlap = (
        sh.join(F.broadcast(qs), "shingle")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.count("*").alias("shared"))
    )
    lex_w = Window.partitionBy("query_id").orderBy(
        F.col("shared").desc(), F.col("doc_id").asc()
    )
    lex = (
        overlap.withColumn("lex_rnk", F.row_number().over(lex_w))
        .filter(F.col("lex_rnk") <= RRF_POOL)
        .select("query_id", "doc_id", "lex_rnk")
    )

    term = lambda c: F.when(
        F.col(c).isNull(), F.lit(0.0)
    ).otherwise(F.lit(1.0) / (F.lit(RRF_K) + F.col(c)))
    fused = sem.join(lex, ["query_id", "doc_id"], "full_outer").select(
        "query_id", "doc_id",
        (term("sem_rnk") + term("lex_rnk")).alias("rrf"),
    )
    fuse_w = Window.partitionBy("query_id").orderBy(
        F.col("rrf").desc(), F.col("doc_id").asc()
    )
    return (
        fused.withColumn("rnk", F.row_number().over(fuse_w))
        .filter(F.col("rnk") <= RRF_TOP)
        .select("query_id", "doc_id", r4(F.col("rrf")).alias("rrf_score"), "rnk")
    )


# ---------------------------------------------------------------------------
# x70 — retrieval evaluation: nDCG@10 of the lexical list under
#        semantic gains, per query
# ---------------------------------------------------------------------------

_X70_K = 10

_X70_SQL = rf"""
    WITH ee AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(UNNEST(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    norms AS (SELECT vec_id, SQRT(SUM(v * v)) AS nrm FROM ee GROUP BY vec_id),
    q AS (SELECT vec_id, i, v FROM ee WHERE vec_id < {N_QUERY_VECS}),
    dots AS (
        SELECT q.vec_id AS query_id, e.vec_id AS doc_id, SUM(q.v * e.v) AS dot
        FROM q JOIN ee e USING (i)
        GROUP BY 1, 2
    ),
    gains AS (
        SELECT query_id, doc_id,
               {r4sql("(dot / (nq.nrm * ne.nrm) + 1.0) / 2.0")} AS gain
        FROM dots
        JOIN norms nq ON query_id = nq.vec_id
        JOIN norms ne ON doc_id = ne.vec_id
        WHERE query_id <> doc_id
    ),
    toks AS (
        SELECT doc_id,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    qt AS (SELECT doc_id AS query_id, token FROM tf
           WHERE doc_id < {N_QUERY_VECS}),
    overlap AS (
        SELECT qt.query_id, tf.doc_id, SUM(tf.tf) AS w
        FROM qt JOIN tf USING (token)
        WHERE tf.doc_id <> qt.query_id
        GROUP BY 1, 2
    ),
    lex AS (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id ORDER BY w DESC, doc_id
               ) AS rnk
        FROM overlap
    ),
    dcg AS (
        SELECT l.query_id,
               SUM(g.gain / (LN(l.rnk + 1.0) / LN(2.0))) AS dcg
        FROM lex l JOIN gains g USING (query_id, doc_id)
        WHERE l.rnk <= {_X70_K}
        GROUP BY 1
    ),
    ideal AS (
        SELECT query_id,
               SUM(gain / (LN(rnk + 1.0) / LN(2.0))) AS idcg
        FROM (
            SELECT query_id, gain,
                   ROW_NUMBER() OVER (
                       PARTITION BY query_id ORDER BY gain DESC, doc_id
                   ) AS rnk
            FROM gains
        ) WHERE rnk <= {_X70_K}
        GROUP BY 1
    )
    SELECT dcg.query_id, {r4sql("dcg.dcg / ideal.idcg")} AS ndcg10
    FROM dcg JOIN ideal USING (query_id)
"""


@register(
    "x70_ndcg_lexical_vs_semantic",
    _X70_SQL,
    doc="EXT x70 — RETRIEVAL EVALUATION: nDCG@10 of each query's "
    "LEXICAL ranking (token-overlap weight, the BM25-family ordering) "
    "under SEMANTIC gains (cosine shifted to [0,1]) — 'how much of "
    "the embedding-judged value does cheap lexical retrieval "
    "recover?', the measurement that decides whether a RAG stack "
    "needs the dense leg at all. DCG discounts by log2(rank+1); the "
    "ideal ranking is the gain-sorted top-10. Shape: both legs reuse "
    "the bounded broadcast-queries shapes; the evaluation itself "
    "joins two queries×k relations — negligible. Gains are "
    "4-decimal-canonical so both engines agree on the ideal order.",
    tags=("ext", "similarity", "eval"),
    late=True,
)
def x70_ndcg_lexical_vs_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.similarity.cosine import dot, norm

    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") < N_QUERY_VECS).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
        norm("embedding").alias("_qn"),
    )
    corpus = emb.select(
        F.col("vec_id").alias("doc_id"), "embedding", norm("embedding").alias("_cn")
    )
    gains = (
        corpus.crossJoin(F.broadcast(queries))
        .filter(F.col("doc_id") != F.col("query_id"))
        .select(
            "query_id", "doc_id",
            r4(
                (dot("embedding", "query_vec") / (F.col("_cn") * F.col("_qn"))
                 + 1.0) / 2.0
            ).alias("gain"),
        )
        .transform(lazy_barrier)  # feeds the lexical DCG join AND the ideal list
    )

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    qt = tf.filter(F.col("doc_id") < N_QUERY_VECS).select(
        F.col("doc_id").alias("query_id"), "token"
    )
    overlap = (
        tf.join(F.broadcast(qt), "token")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id")
        .agg(F.sum("tf").alias("w"))
    )
    lex_w = Window.partitionBy("query_id").orderBy(
        F.col("w").desc(), F.col("doc_id").asc()
    )
    lex = overlap.withColumn("rnk", F.row_number().over(lex_w)).filter(
        F.col("rnk") <= _X70_K
    )

    disc = F.log(F.col("rnk") + 1.0) / F.log(F.lit(2.0))
    dcg = (
        lex.join(gains, ["query_id", "doc_id"])
        .groupBy("query_id")
        .agg(F.sum(F.col("gain") / disc).alias("dcg"))
    )
    ideal_w = Window.partitionBy("query_id").orderBy(
        F.col("gain").desc(), F.col("doc_id").asc()
    )
    ideal = (
        gains.withColumn("rnk", F.row_number().over(ideal_w))
        .filter(F.col("rnk") <= _X70_K)
        .groupBy("query_id")
        .agg(F.sum(F.col("gain") / disc).alias("idcg"))
    )
    return dcg.join(ideal, "query_id").select(
        "query_id", r4(F.col("dcg") / F.col("idcg")).alias("ndcg10")
    )


# ---------------------------------------------------------------------------
# x71 — embedding quality eval: label precision@k of cosine neighbors
# ---------------------------------------------------------------------------

_X71_K = 10

_X71_SQL = f"""
    WITH {_EE_SQL},
    q AS (SELECT vec_id, i, v FROM ee WHERE vec_id < {N_QUERY_VECS}),
    dots AS (
        SELECT q.vec_id AS query_id, e.vec_id AS doc_id, SUM(q.v * e.v) AS dot
        FROM q JOIN ee e USING (i)
        GROUP BY 1, 2
    ),
    ranked AS (
        SELECT query_id, doc_id,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY {r4sql("dot / (nq.nrm * ne.nrm)")} DESC, doc_id
               ) AS rnk
        FROM dots
        JOIN norms nq ON query_id = nq.vec_id
        JOIN norms ne ON doc_id = ne.vec_id
        WHERE query_id <> doc_id
    )
    SELECT r.query_id,
           ql.label AS query_label,
           CAST(SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_same_label,
           {r4sql(f"SUM(CASE WHEN nl.label = ql.label THEN 1 ELSE 0 END) * 1.0 / {_X71_K}")}
               AS label_precision_at_k
    FROM ranked r
    JOIN embeddings ql ON r.query_id = ql.vec_id
    JOIN embeddings nl ON r.doc_id = nl.vec_id
    WHERE r.rnk <= {_X71_K}
    GROUP BY 1, 2
"""


@register(
    "x71_label_precision_at_k",
    _X71_SQL,
    doc="EXT x71 — EMBEDDING-QUALITY EVAL: label precision@k — the "
    "fraction of each query's cosine top-k sharing the query's label "
    "(the standard intrinsic check that an embedding space clusters "
    "its classes; the acceptance metric before trusting x41-style "
    "semantic dedup or x59 hard negatives). Shape: x3's "
    "broadcast-queries one-corpus-scan ranking, then two tiny label "
    "joins and one hash-agg per query.",
    tags=("ext", "similarity", "eval"),
    late=True,
)
def x71_label_precision_at_k(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = _query_vecs(emb)
    ranked = cos.brute_force_topk(emb, queries, k=_X71_K).select(
        "query_id", F.col("vec_id").alias("doc_id")
    )
    labels = emb.select("vec_id", "label")
    same = (F.col("nl") == F.col("ql")).cast("int")
    return (
        ranked.join(
            F.broadcast(labels.select(F.col("vec_id").alias("query_id"),
                                      F.col("label").alias("ql"))),
            "query_id",
        )
        .join(
            labels.select(F.col("vec_id").alias("doc_id"),
                          F.col("label").alias("nl")),
            "doc_id",
        )
        .groupBy("query_id", F.col("ql").alias("query_label"))
        .agg(
            F.sum(same).cast("bigint").alias("n_same_label"),
            r4(F.sum(same) / F.lit(_X71_K)).alias("label_precision_at_k"),
        )
    )


# ---------------------------------------------------------------------------
# x78 — cluster-balanced sampling (diverse eval/train subset selection)
# ---------------------------------------------------------------------------

_X78_K = 5  # keep K per cluster


@register(
    "x78_cluster_balanced_sample",
    rf"""
    WITH n AS (
        SELECT vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
               SQRT(list_inner_product(
                   list_transform(embedding, x -> CAST(x AS DOUBLE)),
                   list_transform(embedding, x -> CAST(x AS DOUBLE)))) AS nrm
        FROM embeddings
    ),
    seeds AS (
        SELECT vec_id AS seed_id, v AS sv, nrm AS snrm
        FROM n ORDER BY vec_id LIMIT {K_SEED_CLUSTERS}
    ),
    scored AS (
        SELECT n.vec_id, s.seed_id,
               {r4sql("list_inner_product(n.v, s.sv) / (n.nrm * s.snrm)")}
                   AS cosv
        FROM n CROSS JOIN seeds s
    ),
    assign AS (
        SELECT vec_id, seed_id AS cluster_id FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY vec_id ORDER BY cosv DESC, seed_id) AS rn
            FROM scored) WHERE rn = 1
    ),
    sized AS (
        SELECT cluster_id, COUNT(*) OVER (PARTITION BY cluster_id)
                   AS cluster_size,
               vec_id,
               ROW_NUMBER() OVER (
                   PARTITION BY cluster_id ORDER BY md5(CAST(vec_id AS
                   STRING)), vec_id) AS pick
        FROM assign
    )
    SELECT cluster_id, cluster_size, vec_id, pick
    FROM sized WHERE pick <= {_X78_K}
    ORDER BY cluster_id, pick
    """,
    doc="EXT x78 — CLUSTER-BALANCED SAMPLING: from each embedding "
    "cluster (x41's deterministic seed assignment), keep the K=5 "
    "members with the lowest md5(vec_id) — a reproducible uniform "
    "draw per cluster — so the selected subset covers every mode of "
    "the embedding space instead of over-representing the dense head "
    "(the eval-set construction / diversity-curation step the "
    "SemDeDup-family pipelines run AFTER clustering: dedup removes "
    "redundancy within modes, this selects evenly ACROSS them; "
    "uniform random sampling would allocate draws proportional to "
    "cluster mass and starve rare modes). Shape: the cluster "
    "assignment is the x41 broadcast + per-vec argmax; the draw is "
    "one cluster-keyed WindowGroupLimit — no extra shuffle beyond "
    "the assignment's.",
    tags=("ext", "similarity", "sample"),
    late=True,
)
def x78_cluster_balanced_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    dim = cos.EMB_DIM
    n = _emb(spark, sf_dir).select(
        "vec_id",
        F.col("embedding").alias("v"),
        F.sqrt(cos.dot_fixed("embedding", "embedding", dim)).alias("nrm"),
    )
    seeds = (
        n.orderBy("vec_id")
        .limit(K_SEED_CLUSTERS)
        .select(
            F.col("vec_id").alias("seed_id"),
            F.col("v").alias("sv"),
            F.col("nrm").alias("snrm"),
        )
    )
    scored = n.crossJoin(F.broadcast(seeds)).select(
        "vec_id",
        "seed_id",
        r4(
            cos.dot_fixed("v", "sv", dim) / (F.col("nrm") * F.col("snrm"))
        ).alias("cosv"),
    )
    # r14 NOTE: this argmax window was A/B'd against two restructures
    # (max(struct) groupBy: 3.1→6.2 s, planned as a double non-codegen
    # SortAggregate; literal-seed narrow fold: 7.9 s, expression tree
    # too large for codegen) — the window form measured FASTEST here
    # and is kept. x41's variant wins only because it also carries the
    # embedding and deletes a join-back this query does not have.
    wa = Window.partitionBy("vec_id").orderBy(F.col("cosv").desc(), "seed_id")
    assign = (
        scored.withColumn("rn", F.row_number().over(wa))
        .filter(F.col("rn") == 1)
        .select("vec_id", F.col("seed_id").alias("cluster_id"))
    )
    wsz = Window.partitionBy("cluster_id")
    wpick = Window.partitionBy("cluster_id").orderBy(
        F.md5(F.col("vec_id").cast("string")), "vec_id"
    )
    return (
        assign.withColumn("cluster_size", F.count("*").over(wsz))
        .withColumn("pick", F.row_number().over(wpick))
        .filter(F.col("pick") <= _X78_K)
        .select("cluster_id", "cluster_size", "vec_id", "pick")
        .orderBy("cluster_id", "pick")
    )


# ---------------------------------------------------------------------------
# x95 — 1-NN label accuracy (embedding-quality eval)
# ---------------------------------------------------------------------------

_X95_STRIDE = 25  # deterministic ~4% query subset: vec_id % 25 == 0


@register(
    "x95_knn_label_accuracy",
    f"""
    WITH {_EE_SQL},
    q AS (SELECT vec_id, i, v FROM ee WHERE vec_id % {_X95_STRIDE} = 0),
    dots AS (
        SELECT q.vec_id AS qid, e.vec_id AS vid, SUM(q.v * e.v) AS dot
        FROM q JOIN ee e USING (i)
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT qid, vid, {r4sql("dot / (nq.nrm * ne.nrm)")} AS score
        FROM dots
        JOIN norms nq ON qid = nq.vec_id
        JOIN norms ne ON vid = ne.vec_id
        WHERE qid <> vid
    ),
    nn AS (
        SELECT qid, vid FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY qid ORDER BY score DESC, vid
            ) AS rnk
            FROM scored
        ) WHERE rnk = 1
    )
    SELECT ea.label AS true_label,
           COUNT(*) AS n_queries,
           CAST(SUM(CASE WHEN ea.label = eb.label THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           {r4sql("SUM(CASE WHEN ea.label = eb.label THEN 1 ELSE 0 END)"
                  " * 1.0 / COUNT(*)")} AS accuracy
    FROM nn
    JOIN embeddings ea ON nn.qid = ea.vec_id
    JOIN embeddings eb ON nn.vid = eb.vec_id
    GROUP BY ea.label
    ORDER BY ea.label
    """,
    doc="EXT x95 — 1-NN LABEL ACCURACY over the embedding table: for a "
    "deterministic ~4% query subset, the nearest OTHER vector by "
    "cosine, scored against the label column — the standard "
    "embedding-quality eval (kNN probe) run before trusting a vector "
    "space for semantic dedup (x41) or retrieval (x59/x70): a space "
    "whose 1-NN accuracy is near the label prior carries no signal "
    "and every downstream near-dup decision is noise. Neighbor "
    "argmax ranks on the r4-CANONICAL score with vec_id tiebreak "
    "(both engines pick the same neighbor even when raw dots differ "
    "in the last ulp — the x3 pattern). Shape: bounded query set "
    "broadcast against one corpus scan (brute_force_topk k=1), then "
    "two dimension-table label joins and a labels-bounded hash-agg.",
    tags=("ext", "similarity", "eval"),
    late=True,
)
def x95_knn_label_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.filter(F.col("vec_id") % _X95_STRIDE == 0).select(
        F.col("vec_id").alias("query_id"),
        F.col("embedding").alias("query_vec"),
    )
    nn = cos.brute_force_topk(emb, queries, k=1)
    la = emb.select(
        F.col("vec_id").alias("query_id"), F.col("label").alias("true_label")
    )
    lb = emb.select("vec_id", F.col("label").alias("nn_label"))
    correct = (F.col("true_label") == F.col("nn_label")).cast("int")
    return (
        nn.join(la, "query_id")
        .join(lb, "vec_id")
        .groupBy("true_label")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(correct).cast("bigint").alias("n_correct"),
            r4(F.sum(correct) * 1.0 / F.count("*")).alias("accuracy"),
        )
        .orderBy("true_label")
    )


# ---------------------------------------------------------------------------
# x97 — PCA top component + ABTT isotropy correction (covariance trick)
# ---------------------------------------------------------------------------

_X97_K = 2  # components removed by the ABTT correction


@register(
    "x97_pca_abtt",
    None,  # eigendecomposition — no SQL oracle; pinned vs numpy in tests
    doc="EXT x97 — PCA over the embedding column via the COVARIANCE "
    "TRICK, then the All-But-The-Top isotropy correction (Mu & "
    "Viswanath 2018): embedding spaces concentrate their mass in a "
    "few dominant directions shared by ALL vectors (frequency/norm "
    "artifacts); removing the common mean and the top-k principal "
    "components measurably improves cosine-similarity quality for "
    "retrieval and semantic dedup — the post-processing step that "
    "feeds x3/x10/x41's cosine machinery. Scale shape: one "
    "mapInPandas pass accumulates PER-PARTITION (n, Σx, XᵀX) — d=64 "
    "so the partial state is d² doubles; the driver combines "
    "#partitions such states (the ONLY collect, bounded by partition "
    "count, never rows) and eigendecomposes the d×d covariance "
    "locally — at 100 TB the reduction stays one pass and the "
    "driver's work stays 64×64 regardless of corpus size (power "
    "iteration on the distributed data is only needed once d² itself "
    "overflows the driver, ~d>10⁴). Eigenvector sign is pinned "
    "(largest-|coord| positive) so output is deterministic. Output: "
    "per-vector top-PC scores and pre/post-ABTT norms (the isotropy "
    "gain each vector sees).",
    tags=("ext", "similarity", "embedding"),
)
def x97_pca_abtt(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np

    emb = _emb(spark, sf_dir)

    def partials(batches):
        # helpers INSIDE the closure so they pickle by value and the
        # UDF works regardless of the driver's working directory
        import numpy as np
        import pandas as pd

        n, s1, s2 = 0, None, None
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            n += x.shape[0]
            s1 = x.sum(0) if s1 is None else s1 + x.sum(0)
            s2 = x.T @ x if s2 is None else s2 + x.T @ x
        if n:
            yield pd.DataFrame(
                {
                    "n": [n],
                    "s1": [s1.tolist()],
                    "s2": [s2.ravel().tolist()],
                }
            )

    parts = (
        emb.select("embedding")
        .mapInPandas(partials, "n long, s1 array<double>, s2 array<double>")
        .collect()  # bounded: ≤ one row per partition, d²-sized each
    )
    if not parts:  # empty-input guard (driver empty-tables gate)
        return spark.createDataFrame(
            [],
            "vec_id long, pc1_score double, pc2_score double, "
            "norm_before double, norm_after double",
        )
    n = sum(p["n"] for p in parts)
    s1 = np.sum([np.array(p["s1"]) for p in parts], axis=0)
    s2 = np.sum(
        [np.array(p["s2"]).reshape(len(s1), len(s1)) for p in parts], axis=0
    )
    mu = s1 / n
    cov = s2 / n - np.outer(mu, mu)
    vals, vecs = np.linalg.eigh(cov)  # ascending
    top = vecs[:, ::-1][:, :_X97_K].T.copy()  # (k, d), descending λ
    for i in range(top.shape[0]):  # pin the sign per component
        j = int(np.argmax(np.abs(top[i])))
        if top[i, j] < 0:
            top[i] = -top[i]
    mu_l, top_l = mu.tolist(), top.tolist()

    def project(batches):
        import numpy as np
        import pandas as pd

        m = np.array(mu_l)
        v = np.array(top_l)  # (k, d)
        for pdf in batches:
            if not len(pdf):
                continue
            x = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            c = x - m
            scores = c @ v.T  # (rows, k)
            resid = c - scores @ v  # ABTT: demean + remove top-k
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "pc1_score": scores[:, 0],
                    "pc2_score": scores[:, 1],
                    "norm_before": np.linalg.norm(x, axis=1),
                    "norm_after": np.linalg.norm(resid, axis=1),
                }
            )

    return emb.select("vec_id", "embedding").mapInPandas(
        project,
        "vec_id long, pc1_score double, pc2_score double, "
        "norm_before double, norm_after double",
    ).orderBy("vec_id")


# ---------------------------------------------------------------------------
# x104 — Matryoshka truncation eval: recall@k of prefix-dim cosine search
# ---------------------------------------------------------------------------

_X104_DIMS = (8, 16, 32, 64)  # prefix lengths; 64 = full (recall 1.0)


@register(
    "x104_matryoshka_recall",
    f"""
    WITH ee AS (
        SELECT vec_id, generate_subscripts(embedding, 1) AS i,
               CAST(UNNEST(embedding) AS DOUBLE) AS v
        FROM embeddings
    ),
    dimt AS (SELECT UNNEST([{', '.join(map(str, _X104_DIMS))}]) AS dim),
    tn AS (
        SELECT vec_id, dim, SQRT(SUM(v * v)) AS nrm
        FROM ee, dimt WHERE i <= dim GROUP BY 1, 2
    ),
    q AS (SELECT vec_id, i, v FROM ee WHERE vec_id < {N_QUERY_VECS}),
    dots AS (
        SELECT q.vec_id AS qid, e.vec_id AS vid, dim,
               SUM(q.v * e.v) AS dot
        FROM q JOIN ee e USING (i), dimt
        WHERE i <= dim
        GROUP BY 1, 2, 3
    ),
    scored AS (
        SELECT qid, vid, d.dim,
               {r4sql("dot / (nq.nrm * ne.nrm)")} AS score
        FROM dots d
        JOIN tn nq ON d.qid = nq.vec_id AND d.dim = nq.dim
        JOIN tn ne ON d.vid = ne.vec_id AND d.dim = ne.dim
        WHERE qid <> vid
    ),
    topk AS (
        SELECT qid, vid, dim FROM (
            SELECT *, ROW_NUMBER() OVER (
                PARTITION BY qid, dim ORDER BY score DESC, vid
            ) AS rnk FROM scored
        ) WHERE rnk <= {TOPK}
    ),
    base AS (SELECT qid, vid FROM topk WHERE dim = {_X104_DIMS[-1]})
    SELECT t.dim,
           {r4sql(f"COUNT(b.vid) * 1.0 / ({TOPK} * {N_QUERY_VECS})")}
               AS recall_at_{TOPK}
    FROM topk t LEFT JOIN base b ON t.qid = b.qid AND t.vid = b.vid
    GROUP BY t.dim
    ORDER BY t.dim
    """,
    doc="EXT x104 — MATRYOSHKA truncation evaluation: recall@10 of "
    "cosine top-k computed on PREFIX dimensions (8/16/32) of the "
    "embedding against the full-dimension (64) ranking — the "
    "measurement behind Matryoshka representation learning "
    "(Kusupati et al. 2022) deployments, where serving stores a "
    "short prefix (8x cheaper index) and re-ranks with the tail only "
    "for candidates. x22 quantizes VALUES; this truncates "
    "DIMENSIONS; both are index-shrink dials and this query reports "
    "what each prefix costs in retrieval fidelity. Shape: dims are a "
    "constant explode (x4 corpus rows); query set is bounded and "
    "broadcast; per-(query, dim) ranking on canonically-rounded "
    "scores with id tiebreak (x3 pattern); the recall join is "
    "top-k-bounded rows only. Full-dim row must report recall 1.0 — "
    "a built-in self-check.",
    tags=("ext", "similarity", "eval"),
    late=True,
)
def x104_matryoshka_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    dims = F.explode(
        F.array(*[F.lit(d) for d in _X104_DIMS])
    ).alias("dim")
    corpus = emb.select("vec_id", "embedding", dims).select(
        "vec_id",
        "dim",
        F.expr("slice(embedding, 1, dim)").alias("tvec"),
    )
    corpus = corpus.withColumn("_nrm", cos.norm("tvec"))
    qs = (
        corpus.filter(F.col("vec_id") < N_QUERY_VECS)
        .select(
            F.col("vec_id").alias("qid"),
            F.col("dim"),
            F.col("tvec").alias("qvec"),
            F.col("_nrm").alias("_qn"),
        )
    )
    cand = corpus.join(F.broadcast(qs), "dim").withColumnRenamed("vec_id", "vid")
    topk = (
        cos._exact_topk(cand, TOPK, "vid", "tvec", "qid", "qvec", by=["qid", "dim"])
        .select("qid", "vid", "dim")
        .transform(lazy_barrier)  # feeds the baseline and the recall join
    )
    base = topk.filter(F.col("dim") == _X104_DIMS[-1]).select(
        "qid", F.col("vid").alias("bvid")
    )
    return (
        topk.join(
            base,
            (topk.qid == base.qid) & (topk.vid == base.bvid),
            "left",
        )
        .groupBy("dim")
        .agg(
            r4(
                F.count("bvid") * 1.0 / (TOPK * N_QUERY_VECS)
            ).alias(f"recall_at_{TOPK}")
        )
        .orderBy("dim")
    )


# ---------------------------------------------------------------------------
# x108 — embedding quantization QA via orthogonal Procrustes alignment
# ---------------------------------------------------------------------------


@register(
    "x108_embedding_alignment",
    None,  # SVD alignment — no SQL oracle; pinned vs numpy in tests
    doc="EXT x108 — QUANTIZATION QA by ORTHOGONAL PROCRUSTES: aligns "
    "the raw embedding space against its int8 quantize-dequantize "
    "image (x22's per-vector symmetric scheme) and reports the "
    "best-rotation residual — the number that says whether a cheaper "
    "index is 'the same space up to noise' (rotation ~ I, small "
    "residual) or has systematic geometric drift (rotation far from "
    "I or a residual beyond the quantization noise floor). The same "
    "operator (similarity/procrustes.py) answers the bigger "
    "migration question — old model vs re-embedded corpus — given "
    "any paired spaces. Scale shape: one mapInPandas pass folds "
    "per-partition (n, sums, AᵀB, square norms); the driver combines "
    "partition-bounded partials and runs a d×d SVD; the residual is "
    "CLOSED-FORM from the same sums, no second pass.",
    tags=("ext", "similarity", "embedding", "eval"),
    late=True,
)
def x108_embedding_alignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.similarity.procrustes import procrustes_align

    emb = _emb(spark, sf_dir)
    # x22's symmetric int8 scheme, inline: scale = max|x|/127 (floored
    # at 1e-12), q = round-half-away(x/scale), deq = q * scale.
    # r15 (guide §7.3 driver/plan-assembly): spelled as ONE F.expr —
    # the Column-operator form built the scale subtree per lambda use
    # via per-node py4j round trips (~0.5 s of driver time per call);
    # the parsed string is the same Catalyst tree (double literals
    # spelled 0.5D / 1E-12 to match F.lit's doubles; the dequantized
    # values are bit-identical, pinned by tests/test_x108*).
    _scale = (
        "greatest(array_max(transform(embedding,"
        " e -> abs(CAST(e AS DOUBLE)))) / 127, 1E-12)"
    )
    pairs = emb.select(
        "vec_id",
        F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("a"),
        F.expr(
            "transform(embedding, x -> "
            "(CASE WHEN x < 0"
            f" THEN -floor(abs(CAST(x AS DOUBLE)) / {_scale} + 0.5D)"
            f" ELSE floor(CAST(x AS DOUBLE) / {_scale} + 0.5D) END)"
            f" * {_scale})"
        ).alias("b"),
    )
    res = procrustes_align(pairs)
    import numpy as np

    r = np.array(res.rotation) if res.rotation else np.eye(1)
    rot_dev = float(np.linalg.norm(r - np.eye(r.shape[0]))) if res.n else 0.0
    return spark.createDataFrame(
        [
            (
                res.n,
                round(res.residual_rel, 6),
                round(res.trace_alignment, 6),
                round(rot_dev, 6),
            )
        ],
        "n long, residual_rel double, trace_alignment double, "
        "rotation_dev_from_identity double",
    )


# ---------------------------------------------------------------------------
# x116 — label silhouette (centroid form) over the embedding space
# ---------------------------------------------------------------------------


@register(
    "x116_label_silhouette",
    rf"""
    WITH e AS (
        SELECT vec_id, label,
               generate_subscripts(embedding, 1) AS dim,
               CAST(UNNEST(embedding) AS DOUBLE) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL AND label IS NOT NULL
    ),
    cent AS (
        SELECT label AS clabel, dim, AVG(v) AS c
        FROM e GROUP BY 1, 2
    ),
    d2 AS (
        SELECT e.vec_id, e.label, cent.clabel,
               SUM((e.v - cent.c) * (e.v - cent.c)) AS dsq
        FROM e JOIN cent ON e.dim = cent.dim
        GROUP BY 1, 2, 3
    ),
    ab AS (
        SELECT vec_id, label,
               SQRT(MAX(CASE WHEN label = clabel THEN dsq END)) AS a,
               SQRT(MIN(CASE WHEN label <> clabel THEN dsq END)) AS b
        FROM d2 GROUP BY 1, 2
    ),
    s AS (
        SELECT vec_id, label,
               (b - a) / GREATEST(a, b) AS sil
        FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_vecs,
           {r4sql("AVG(sil)")} AS mean_silhouette,
           {r4sql("AVG(CASE WHEN sil < 0 THEN 1.0 ELSE 0.0 END)")}
               AS misplaced_share
    FROM s
    GROUP BY label
    ORDER BY label
    """,
    doc="EXT x116 — LABEL SILHOUETTE (centroid form) over the "
    "embedding table: per label, the mean of s = (b - a)/max(a, b) "
    "where a is a vector's Euclidean distance to its OWN label "
    "centroid and b the distance to the nearest OTHER centroid — the "
    "standard embedding-quality read a labeling/clustering pipeline "
    "reviews before trusting the labels for supervised sampling "
    "(x95's kNN accuracy asks the same question via neighbors; this "
    "asks it via cluster geometry, O(n·k) not O(n²)); misplaced_share "
    "(s < 0: closer to a foreign centroid) is the review queue. The "
    "centroid simplification of full silhouette is the deployable "
    "form at corpus scale — exact pairwise silhouette is quadratic. "
    "Shape: centroids are one labels×dims hash-agg (BOUNDED: k·d "
    "cells); per-vector distances come from one join against that "
    "bounded table and one hash-agg; Spark keeps vectors as arrays "
    "and folds zip_with squares — no n×d×k explode; labels are "
    "dimension-bounded so the centroid side broadcasts legally.",
    tags=("ext", "similarity", "eval"),
    late=True,
)
def x116_label_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir).filter(F.col("label").isNotNull())
    # centroids: explode once (n·d rows), bounded k·d output
    cent = (
        emb.select(
            F.col("label").alias("clabel"),
            F.posexplode("embedding").alias("dim", "v"),
        )
        .groupBy("clabel", "dim")
        .agg(F.avg(F.col("v").cast("double")).alias("c"))
        .groupBy("clabel")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("dim", "c"))
            ).alias("_dc")
        )
        .select(
            "clabel",
            F.transform("_dc", lambda s: s.c).alias("cvec"),
        )
    )
    # per (vector, centroid) squared distance via a narrow array fold
    # against the broadcast k-row centroid table — no n×d×k explode
    paired = emb.crossJoin(F.broadcast(cent))
    dsq = F.aggregate(
        F.zip_with(
            "embedding",
            "cvec",
            lambda x, c: (x.cast("double") - c) * (x.cast("double") - c),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    d2 = paired.select("vec_id", "label", "clabel", dsq.alias("dsq"))
    ab = d2.groupBy("vec_id", "label").agg(
        F.sqrt(
            F.max(F.when(F.col("label") == F.col("clabel"), F.col("dsq")))
        ).alias("a"),
        F.sqrt(
            F.min(F.when(F.col("label") != F.col("clabel"), F.col("dsq")))
        ).alias("b"),
    )
    sil = (F.col("b") - F.col("a")) / F.greatest("a", "b")
    return (
        ab.select("label", sil.alias("sil"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            r4(F.avg("sil")).alias("mean_silhouette"),
            r4(
                F.avg(F.when(F.col("sil") < 0, 1.0).otherwise(0.0))
            ).alias("misplaced_share"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# x118 — embedding isotropy / effective dimensionality health check
# ---------------------------------------------------------------------------


@register(
    "x118_embedding_isotropy",
    rf"""
    WITH e AS (
        SELECT vec_id,
               generate_subscripts(embedding, 1) AS dim,
               CAST(UNNEST(embedding) AS DOUBLE) AS v
        FROM embeddings
        WHERE embedding IS NOT NULL
    ),
    per_dim AS (
        SELECT dim, COUNT(*) AS n, AVG(v) AS mu,
               SUM(v * v) AS s2, SUM(v) AS s1
        FROM e GROUP BY dim
    ),
    dimstats AS (
        SELECT dim, n, mu,
               (s2 - s1 * s1 / n) / (n - 1) AS var_d
        FROM per_dim
    ),
    norms AS (
        SELECT vec_id, SUM(v * v) AS sqn FROM e GROUP BY vec_id
    ),
    agg AS (
        SELECT (SELECT MAX(n) FROM dimstats) AS n_vecs,
               (SELECT COUNT(*) FROM dimstats) AS n_dims,
               (SELECT SUM(mu * mu) FROM dimstats) AS mu_sq,
               (SELECT AVG(sqn) FROM norms) AS mean_sqnorm,
               (SELECT SUM(var_d) FROM dimstats) AS var_sum,
               (SELECT SUM(var_d * var_d) FROM dimstats) AS var_sq,
               (SELECT MAX(var_d) FROM dimstats) AS var_max
    )
    SELECT CAST(n_vecs AS BIGINT) AS n_vecs,
           CAST(n_dims AS BIGINT) AS n_dims,
           {r4sql("SQRT(mu_sq)")} AS centroid_norm,
           {r4sql("SQRT(mean_sqnorm)")} AS rms_norm,
           {r4sql("1.0 - mu_sq / mean_sqnorm")} AS isotropy,
           {r4sql("var_max / var_sum")} AS top_dim_var_share,
           {r4sql("var_sum * var_sum / var_sq")} AS participation_ratio
    FROM agg
    """,
    doc="EXT x118 — embedding ISOTROPY health check, the one-row "
    "report an embedding pipeline reads before trusting cosine "
    "similarity: anisotropic spaces (all vectors crowded into a "
    "narrow cone — the common pathology of contextual encoders) make "
    "every cosine large and kill retrieval contrast. Metrics: "
    "centroid_norm vs rms_norm and isotropy = 1 − ‖μ‖²/E‖v‖² (≈1 "
    "means centered/spread, →0 means cone-collapsed; the fix is "
    "x97's ABTT mean-removal, and THIS is the query that says "
    "whether to run it), top_dim_var_share (one rogue dimension "
    "carrying the variance — the x27 trim signal), and the "
    "variance participation ratio (Σλ)²/Σλ² as the effective "
    "dimensionality proxy without an eigensolve. Shape: one n·d "
    "explode into two hash-aggs (per-dim moments: d rows; per-vec "
    "norms: n rows) and a scalar fold — no pairwise anything, "
    "exact one-pass moments.",
    tags=("ext", "similarity", "eval"),
    late=True,
)
def x118_embedding_isotropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _emb(spark, sf_dir).select(
        "vec_id", F.posexplode("embedding").alias("dim", "v")
    ).select("vec_id", "dim", F.col("v").cast("double").alias("v"))
    e = e.transform(lazy_barrier)  # feeds per-dim moments AND per-vec norms
    per_dim = e.groupBy("dim").agg(
        F.count("*").alias("n"),
        F.avg("v").alias("mu"),
        F.sum(F.col("v") * F.col("v")).alias("s2"),
        F.sum("v").alias("s1"),
    )
    dimstats = per_dim.select(
        "dim",
        "n",
        "mu",
        (
            (F.col("s2") - F.col("s1") * F.col("s1") / F.col("n"))
            / (F.col("n") - 1)
        ).alias("var_d"),
    )
    norms = e.groupBy("vec_id").agg(
        F.sum(F.col("v") * F.col("v")).alias("sqn")
    )
    dim_agg = dimstats.agg(
        F.max("n").alias("n_vecs"),
        F.count("*").alias("n_dims"),
        F.sum(F.col("mu") * F.col("mu")).alias("mu_sq"),
        F.sum("var_d").alias("var_sum"),
        F.sum(F.col("var_d") * F.col("var_d")).alias("var_sq"),
        F.max("var_d").alias("var_max"),
    )
    norm_agg = norms.agg(F.avg("sqn").alias("mean_sqnorm"))
    return dim_agg.crossJoin(norm_agg).select(
        F.col("n_vecs").cast("bigint").alias("n_vecs"),
        F.col("n_dims").cast("bigint").alias("n_dims"),
        r4(F.sqrt(F.col("mu_sq"))).alias("centroid_norm"),
        r4(F.sqrt(F.col("mean_sqnorm"))).alias("rms_norm"),
        r4(1.0 - F.col("mu_sq") / F.col("mean_sqnorm")).alias("isotropy"),
        r4(F.col("var_max") / F.col("var_sum")).alias(
            "top_dim_var_share"
        ),
        r4(
            F.col("var_sum") * F.col("var_sum") / F.col("var_sq")
        ).alias("participation_ratio"),
    )
