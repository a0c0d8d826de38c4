"""EXT dedup family: exact dedup, n-gram Jaccard, MinHash/SimHash
(fast + oracle-portable twins), LSH-gated cluster resolution, the
end-to-end corpus build, and contamination scans (SURVEY.md §2 EXT
rows D4–D5, §7.4).

The cluster pipelines (x15/x21/x32) generate their dup-graph edges
with the 100 TB shape: md5-minhash banded LSH candidates → exact
Jaccard VERIFICATION of candidates only (array intersection per
pair) — never the inverted-index shingle self-join, whose cost is
quadratic in hot-shingle frequency (a stopword-ish 3-gram shared by
10⁶ docs would emit 10¹² join rows). x2 remains the declared
exact-join baseline at registry scale. md5-derived hashing makes the
candidate set bit-identical in DuckDB, so the gated pipelines stay
value-verified end-to-end; the gate runs at the production near-dup
threshold 0.7 with the matching 8-band × 4-row shape (see
_GATE_JACCARD below for the recall math and the measured corpus
bimodality that keeps the edge set identical to the old 0.2 runs).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from server_spark.barrier import barrier, lazy_barrier

from server_spark.dedup import exact as ex
from server_spark.dedup import minhash as mh
from server_spark.dedup import ngram as ng
from server_spark.dedup import simhash as sh
from server_spark.parity import r4, r4sql
from server_spark.queries.ext_common import (
    fan_out,
    HASH_SPLIT_SQL,
    JACCARD_MIN,
    _docs,
    hash_sample,
    hash_split_col,
    shingle_ctes,
)
from server_spark.registry import register
from server_spark.textstats import analysis as tx

# ---------------------------------------------------------------------------
# x1 — exact dedup (hash groupBy)
# ---------------------------------------------------------------------------


@register(
    "x1_exact_dedup",
    r"""
    SELECT sha256(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g'))
               AS content_hash,
           MIN(doc_id) AS canonical_doc_id,
           COUNT(*) AS n_docs
    FROM documents
    GROUP BY 1
    """,
    doc="EXT x1 — exact dedup: sha256 of normalized text, one group "
    "per distinct content, deterministic canonical survivor (min id).",
    tags=("ext", "dedup"),
)
def x1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ex.exact_dedup_groups(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# x2 — n-gram Jaccard near-dup (exact inverted-index form)
# ---------------------------------------------------------------------------

_X2_SQL = rf"""
    WITH {shingle_ctes()},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common) >= {JACCARD_MIN}
"""


@register(
    "x2_ngram_jaccard",
    _X2_SQL,
    doc="EXT x2 — word-3-gram Jaccard near-dup pairs via the inverted "
    "shingle index (exact form; MinHash banding is the scale path).",
    tags=("ext", "dedup"),
)
def x2_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    return ng.jaccard_pairs(_docs(spark, sf_dir), n=3, threshold=JACCARD_MIN)


# ---------------------------------------------------------------------------
# LSH gate shared by the cluster pipelines (x15 / x21 / x32):
# md5-minhash banded candidates → exact verification. Constants shared
# between the Spark path and every oracle so both engines compute the
# identical candidate (and therefore edge) set.
# ---------------------------------------------------------------------------

_MH_NUM, _MH_BANDS = 32, 8  # x8b production shape: 8 bands × 4 rows
_MH_ROWS = _MH_NUM // _MH_BANDS
_MH_MIN_EST = 0.25
_MH_AB = mh.md5_coeffs(_MH_NUM, seed=1234)

# Cluster-pipeline gate: PRODUCTION near-dup threshold + the matching
# banding shape. 8 bands × 4 rows has its S-curve midpoint at
# (1/8)^(1/4) ≈ 0.59 — recall ≥ 99.2% at j = 0.8, ≥ 99.996% at 0.9 —
# and candidate volume collapses vs r = 1 banding (a false pair must
# match 4 consecutive minhashes, P ≈ 8·j⁴). The corpora are strongly
# bimodal (measured: every real dup pair has j ≥ 0.8, nothing between
# 0.2 and 0.8 at any sf), so the pipelines select the identical edge
# set they did at the old 0.2 threshold; x2 keeps 0.2 as the
# declared sensitivity baseline.
_GATE_JACCARD = 0.7
_GATE_BANDS = _MH_BANDS


def _gated_edges(docs: DataFrame) -> DataFrame:
    """(doc_a, doc_b) dup edges: banded LSH candidates, exact-verified.

    Fully array-native: shingling + md5 hashing + dedup run as ONE
    narrow map per doc (md5_val_arrays — no explode/window/shuffle),
    signatures are array folds over the same row, and verification
    intersects the two 8-byte token arrays per candidate pair. The
    token-set relation is the single shared materialization (feeds
    the signature/banding branch and both verify joins). It is
    materialized eagerly: a lazy checkpoint is computed by whichever of
    its concurrently running consumer stages reaches it first, and the
    first job to end truncates its lineage while the others still run,
    so their SQL metric updates go to accumulators the driver has
    already dropped (``non-existent accumulator``).
    """
    vsets = mh.md5_val_arrays(docs, n=3).transform(barrier)
    # the size-ratio prune (J <= min/max, exact at the 0.7 gate) drops
    # candidates before the distinct shuffle and the verify joins —
    # semantics-preserving, so the SQL twin needs no mirror
    cands = mh.md5_banded_candidates(
        None,
        _MH_AB,
        n_bands=_GATE_BANDS,
        val_arrays=vsets,
        size_ratio_threshold=_GATE_JACCARD,
    )
    return ng.jaccard_verify_arrays(
        vsets, cands, threshold=_GATE_JACCARD
    ).select("doc_a", "doc_b")


def _gated_pairs_sql(sh_cte: str = "sh") -> str:
    """CTE chain ``vals..cand, inter, pairs`` over a shingle CTE:
    the oracle twin of :func:`_gated_edges` (md5-minhash candidates,
    then exact Jaccard of candidates only, computed over the hashed
    tokens — COUNT(DISTINCT v) matches the Spark side's set
    semantics even under 32-bit collisions)."""
    return f"""{mh.md5_banded_candidates_sql(_MH_AB, _GATE_BANDS, sh_cte=sh_cte)},
    sizes AS (SELECT doc_id, COUNT(DISTINCT v) AS n_sh FROM vals GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(DISTINCT a.v) AS n_common
        FROM cand c
        JOIN vals a ON a.doc_id = c.doc_a
        JOIN vals b ON b.doc_id = c.doc_b AND b.v = a.v
        GROUP BY 1, 2
    ),
    pairs AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
              >= {_GATE_JACCARD}
    )"""


_COMPONENTS_SQL = """
    sym AS (
        SELECT doc_a AS src, doc_b AS dst FROM pairs
        UNION
        SELECT doc_b AS src, doc_a AS dst FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS node FROM sym),
    reach(node, r) AS (
        SELECT node, node FROM nodes
        UNION
        SELECT reach.node, sym.dst FROM reach JOIN sym ON sym.src = reach.r
    ),
    comp AS (SELECT node, MIN(r) AS component FROM reach GROUP BY node)"""


# ---------------------------------------------------------------------------
# x15 — near-dup cluster resolution (connected components over the
# LSH-gated, exact-verified pair edges)
# ---------------------------------------------------------------------------

_X15_SQL = rf"""
    WITH RECURSIVE {shingle_ctes()},
    {_gated_pairs_sql()},
    {_COMPONENTS_SQL}
    SELECT component AS canonical_doc_id,
           COUNT(*) AS n_members,
           array_to_string(list_sort(list(node)), ',') AS member_ids
    FROM comp GROUP BY component
"""


@register(
    "x15_neardup_components",
    _X15_SQL,
    doc="EXT x15 — dup-cluster RESOLUTION: connected components over "
    "near-dup edges (A~B, B~C ⇒ one cluster {A,B,C}) via distributed "
    "min-label propagation with checkpointed rounds. Edges are "
    "LSH-GATED: md5-minhash banded candidates exact-verified by "
    "array-intersect Jaccard — no shingle self-join anywhere in the "
    "plan (the hot-shingle quadratic blowup of the exact form). "
    "Oracle recomputes the identical candidate set (md5 is engine-"
    "portable) + the recursive-CTE transitive closure.",
    tags=("ext", "dedup", "components"),
    late=True,
)
def x15_neardup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup.components import resolve_clusters

    return resolve_clusters(_gated_edges(_docs(spark, sf_dir))).select(
        "canonical_doc_id", "n_members", "member_ids"
    )


# ---------------------------------------------------------------------------
# x21 — the corpus-build pipeline END-TO-END (compose x18→x1→x15→x17)
# ---------------------------------------------------------------------------

_X21_SQL = rf"""
    WITH RECURSIVE kept AS (
        SELECT doc_id, text FROM documents
        WHERE len(string_split_regex(LOWER(TRIM(text)), '\s+')) BETWEEN 10 AND 5000
          AND CAST(LENGTH(regexp_replace(LOWER(text), '[^a-z]', '', 'g'))
                   AS DOUBLE) / NULLIF(LENGTH(text), 0) >= 0.55
    ),
    exact AS (
        SELECT MIN(doc_id) AS doc_id, ANY_VALUE(text) AS text
        FROM (SELECT doc_id, text,
                     sha256(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS h
              FROM kept)
        GROUP BY h
    ),
    {shingle_ctes(src="exact")},
    {_gated_pairs_sql()},
    {_COMPONENTS_SQL},
    survivors AS (
        SELECT e.doc_id FROM exact e
        LEFT JOIN comp ON e.doc_id = comp.node
        WHERE comp.node IS NULL OR comp.component = e.doc_id
    )
    SELECT doc_id,
           CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
                     THEN 'train'
                WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < 'e6'
                     THEN 'val'
                ELSE 'test' END AS split
    FROM survivors
"""


@register(
    "x21_corpus_build",
    _X21_SQL,
    doc="EXT x21 — the pretraining corpus build END-TO-END in one "
    "declarative plan: quality gate (x18 rules) → exact dedup "
    "survivors (x1) → LSH-gated near-dup CLUSTER resolution keeping "
    "one doc per cluster (x15's banded-candidates → exact-verify "
    "edges, no shingle self-join) → deterministic hash split (x17). "
    "Every stage reuses the already-verified operator; the oracle is "
    "the same composition in SQL (md5-portable candidates + recursive "
    "CTE for the components).",
    tags=("ext", "dedup", "pipeline"),
    late=True,
)
def x21_corpus_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup.components import connected_components

    docs = _docs(spark, sf_dir)
    t = F.col("text")
    n_tokens = tx.token_count()
    # try_divide ↔ NULLIF in the oracle: an empty doc must be DROPPED
    # by the gate (NULL >= 0.55 is false on both engines), not abort
    # the whole corpus build under ANSI mode
    alpha_ratio = F.try_divide(
        F.length(F.regexp_replace(F.lower(t), r"[^a-z]", "")).cast("double"),
        F.length(t),
    )
    kept = docs.filter(
        n_tokens.between(10, 5000) & (alpha_ratio >= 0.55)
    ).select("doc_id", "text")

    # exact dedup: keep the min doc per content hash (carry text
    # forward for shingling)
    # Materialized once: referenced by the shingle pipeline AND the
    # survivors join — recomputing the quality+dedup aggregation per
    # branch doubles the heavy work.
    exact = (
        kept.select("doc_id", "text", ex.text_hash().alias("h"))
        .groupBy("h")
        .agg(F.min_by("doc_id", "doc_id").alias("doc_id"),
             F.min_by("text", "doc_id").alias("text"))
        .select("doc_id", "text")
        .transform(lazy_barrier)
    )

    comp = connected_components(_gated_edges(exact))
    survivors = (
        exact.join(comp, exact.doc_id == comp.node, "left")
        .filter(F.col("node").isNull() | (F.col("component") == F.col("doc_id")))
        .select("doc_id")
    )
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return survivors.select(
        "doc_id",
        F.when(h2 < "cd", "train")
        .when(h2 < "e6", "val")
        .otherwise("test")
        .alias("split"),
    )


# ---------------------------------------------------------------------------
# x32 — quality-aware dedup survivorship (same gated edges as x15)
# ---------------------------------------------------------------------------

_X32_SQL = (
    _X15_SQL.rsplit("SELECT component AS canonical_doc_id", 1)[0]
    + r""",
    lens AS (
        SELECT doc_id,
               len(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tokens
        FROM documents
    ),
    memb AS (
        SELECT c.component, c.node, l.n_tokens
        FROM comp c JOIN lens l ON c.node = l.doc_id
    ),
    best AS (SELECT component, MAX(n_tokens) AS mt FROM memb GROUP BY component)
    SELECT m.component AS cluster_id,
           MIN(CASE WHEN m.n_tokens = b.mt THEN m.node END) AS survivor_doc_id,
           COUNT(*) AS n_members,
           b.mt AS survivor_tokens
    FROM memb m JOIN best b ON m.component = b.component
    GROUP BY m.component, b.mt
"""
)


@register(
    "x32_cluster_survivors_quality",
    _X32_SQL,
    doc="EXT x32 — quality-aware survivorship: within each near-dup "
    "cluster (x15's LSH-gated connected components) keep the "
    "HIGHEST-QUALITY member — here the longest by token count, min "
    "doc_id on ties — instead of x15/x21's min-id rule; production "
    "dedup keeps the best copy, not the lexicographically first. "
    "Portable two-step argmax (per-cluster max, then min-id among "
    "the maximal), both aggs over the tiny membership table.",
    tags=("ext", "dedup", "pipeline"),
    late=True,
)
def x32_cluster_survivors_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup.components import connected_components

    docs = _docs(spark, sf_dir)
    comp = connected_components(_gated_edges(docs))
    lens = docs.select("doc_id", tx.token_count().alias("n_tokens"))
    # r15: memb feeds the per-cluster max AND the survivor join — un-cut,
    # the scan + token_count split ran once per reference
    memb = comp.join(lens, comp.node == lens.doc_id).select(
        "component", "node", "n_tokens"
    ).transform(lazy_barrier)
    best = memb.groupBy("component").agg(F.max("n_tokens").alias("mt"))
    # `best` is per-CLUSTER (grows with the corpus, non-Heaps) — no
    # broadcast hint; the join shares its key with the groupBy that
    # built it, so the shuffle path reuses the exchange. AQE still
    # broadcasts while the table is actually small.
    return (
        memb.join(best, "component")
        .groupBy("component", "mt")
        .agg(
            F.min(
                F.when(F.col("n_tokens") == F.col("mt"), F.col("node"))
            ).alias("survivor_doc_id"),
            F.count("*").alias("n_members"),
        )
        .select(
            F.col("component").alias("cluster_id"),
            "survivor_doc_id",
            "n_members",
            F.col("mt").alias("survivor_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# x9b — SimHash with a CROSS-ENGINE hash (md5) → fully oracle-checked
# ---------------------------------------------------------------------------
# x9 keeps xxhash64 (fastest JVM path, rows-only); this variant derives
# the 64 token-hash bits from the first 16 md5 hex chars, which both
# engines compute identically — so the ENTIRE SimHash semantics
# (tokenize → hash → signed bit vote → sign) is value-verified against
# DuckDB, not just property-tested. Fingerprint emitted as a 64-char
# bitstring (no signed-long edge cases in the comparison).

# The 64 hash bits come from the first 16 md5 hex chars, parsed as
# TWO 32-bit ints (hi = chars 1-8 → bits 0..31, lo = chars 9-16 →
# bits 32..63) — bit-identical to per-character digit extraction,
# with 2 base-16 parses per token instead of 16.


def _x9b_bit_sql(i: int) -> str:
    src, sh = ("hi", 31 - i) if i < 32 else ("lo", 63 - i)
    return f"(({src} >> {sh}) & 1)"


_X9B_SUMS_SQL = ", ".join(
    f"SUM(2 * {_x9b_bit_sql(i)} - 1) AS s{i}" for i in range(64)
)
_X9B_BITS_SQL = ", ".join(
    f"CASE WHEN s{i} > 0 THEN '1' ELSE '0' END" for i in range(64)
)

_X9B_SQL = rf"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS tok
        FROM documents
    ),
    halves AS (
        SELECT doc_id,
               ('0x' || substr(md5(tok), 1, 8))::BIGINT AS hi,
               ('0x' || substr(md5(tok), 9, 8))::BIGINT AS lo
        FROM toks
    ),
    sums AS (SELECT doc_id, {_X9B_SUMS_SQL} FROM halves GROUP BY doc_id)
    SELECT doc_id, concat({_X9B_BITS_SQL}) AS fingerprint_bits FROM sums
"""


@register(
    "x9b_simhash_oracle",
    _X9B_SQL,
    doc="EXT x9b — SimHash with engine-portable md5 bit derivation: "
    "tokenize → 64 hash bits per token → signed bit vote → sign, "
    "value-checked end-to-end against the oracle (x9 is the faster "
    "xxhash64 production form of the same plan shape: one explode, "
    "one 64-way sum-agg shuffle).",
    tags=("ext", "dedup", "textstats"),
    late=True,
)
def x9b_simhash_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"),
    )
    md5 = F.md5("tok")
    halves = toks.select(
        "doc_id",
        F.conv(F.substring(md5, 1, 8), 16, 10).cast("long").alias("hi"),
        F.conv(F.substring(md5, 9, 8), 16, 10).cast("long").alias("lo"),
    )

    # SQL-string assembly (one parse per 64-wide block) instead of
    # ~8·64 py4j Column calls — driver-time only, identical trees and
    # identical oracle hash (the r15 dot_fixed note).
    def bit_sql(i: int) -> str:
        src, sh = ("hi", 31 - i) if i < 32 else ("lo", 63 - i)
        return f"(shiftright({src}, {sh}) & 1)"

    sums = halves.groupBy("doc_id").agg(
        *[
            F.expr(f"sum((2 * {bit_sql(i)}) - 1) AS s{i}")
            for i in range(64)
        ]
    )
    fingerprint = F.expr(
        "concat("
        + ", ".join(
            f"CASE WHEN s{i} > 0 THEN '1' ELSE '0' END" for i in range(64)
        )
        + ")"
    )
    return sums.select("doc_id", fingerprint.alias("fingerprint_bits"))


# ---------------------------------------------------------------------------
# x8b — MinHash+LSH with CROSS-ENGINE (md5) hashing → oracle-checked
# ---------------------------------------------------------------------------

_X8B_MATCHES_SQL = " + ".join(
    f"CASE WHEN a.sig{i} = b.sig{i} THEN 1 ELSE 0 END" for i in range(_MH_NUM)
)

_X8B_SQL = rf"""
    WITH {shingle_ctes()},
    {mh.md5_banded_candidates_sql(_MH_AB, _MH_BANDS)}
    SELECT doc_a, doc_b,
           {r4sql(f"CAST(({_X8B_MATCHES_SQL}) AS DOUBLE) / {_MH_NUM}")} AS jaccard_est
    FROM cand
    JOIN sigs a ON doc_a = a.doc_id
    JOIN sigs b ON doc_b = b.doc_id
    WHERE CAST(({_X8B_MATCHES_SQL}) AS DOUBLE) / {_MH_NUM} >= {_MH_MIN_EST}
"""


@register(
    "x8b_minhash_oracle",
    _X8B_SQL,
    doc="EXT x8b — MinHash+LSH with engine-portable hashing: shingle "
    "→ md5-derived integer → 32 seeded universal hashes in ONE "
    "min-agg shuffle, 8-band×4-row banding, candidates via band-key "
    "equi-join (never all-pairs), estimate = matching signature "
    "fraction. Every stage value-verified against the oracle; x8 is "
    "the xxhash64 production twin of the same plan.",
    tags=("ext", "dedup"),
    late=True,
)
def x8b_minhash_oracle(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _md5_minhash_pairs(_docs(spark, sf_dir), _MH_MIN_EST)


def _md5_minhash_pairs(
    docs: DataFrame, min_est: float, shingles: DataFrame | None = None
) -> DataFrame:
    """x8b's engine-portable MinHash+LSH pipeline as a reusable step:
    banded candidates + signature-fraction estimate >= ``min_est``.
    Shared by x8b and the x106 pipeline eval (which cuts at the
    corpus near-dup threshold instead of the looser estimate gate).

    ``shingles``: a pre-built (doc_id, shingle) relation — x106 passes
    one derived from its SHARED materialized tokenization so the est
    and truth legs tokenize the corpus once, not once each (r14)."""
    if shingles is None:
        shingles = ng.word_shingles(docs, n=3)
    # ONE min-agg shuffle for all 32 signatures, packed into an array
    # so downstream carries a single column instead of 32.
    # Both the banded self-join branches and the per-side signature
    # lookups reference this — materialize once.
    sigs = mh.md5_signatures(shingles, _MH_AB).transform(lazy_barrier)
    # r14 (guide §2.3): packed numeric band keys — adjacent component
    # pairs as c_even*MD5_P + c_odd longs (injective, < 2^63), same
    # scheme as mh.banded_keys; candidate set identical to the string
    # form, ~half the key bytes through the banding exchange and
    # fixed-width compares instead of UTF-8 string work.
    band_structs = [
        F.struct(
            F.lit(band).alias("band_idx"),
            F.struct(
                *[
                    (
                        F.col("sig")[band * _MH_ROWS + i] * mh.MD5_P
                        + F.col("sig")[band * _MH_ROWS + i + 1]
                    ).alias(f"k{i // 2}")
                    for i in range(0, _MH_ROWS, 2)
                ]
            ).alias("band_key"),
        )
        for band in range(_MH_BANDS)
    ]
    # explode band keys CARRYING the signature array — candidates and
    # their match counts come out of one equi-join (no second pass
    # re-joining signatures per side)
    kv = (
        sigs.select("doc_id", "sig", F.explode(F.array(*band_structs)).alias("b"))
        .select("doc_id", "sig", "b.band_idx", "b.band_key")
    )
    x = kv.select(
        F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"),
        "band_idx", "band_key",
    )
    y = kv.select(
        F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"),
        "band_idx", "band_key",
    )
    cand = (
        x.join(y, ["band_idx", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda p, q: p == q), lambda m: m
        )
    )
    est = matches.cast("double") / _MH_NUM
    return (
        cand.select("doc_a", "doc_b", r4(est).alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= min_est)
    )


# ---------------------------------------------------------------------------
# x24 — cross-source contamination
# ---------------------------------------------------------------------------


@register(
    "x24_cross_source_contamination",
    rf"""
    WITH {shingle_ctes(carry="source", distinct=False)},
    srcsh AS (
        SELECT DISTINCT source, shingle FROM sh
    ),
    src_sizes AS (SELECT source, COUNT(*) AS n_sh FROM srcsh GROUP BY source)
    SELECT a.source AS source_a, b.source AS source_b,
           COUNT(*) AS n_shared,
           {r4sql("CAST(COUNT(*) AS DOUBLE) / sa.n_sh")} AS overlap_a
    FROM srcsh a
    JOIN srcsh b ON a.shingle = b.shingle AND a.source < b.source
    JOIN src_sizes sa ON a.source = sa.source
    GROUP BY a.source, b.source, sa.n_sh
    """,
    doc="EXT x24 — cross-source CONTAMINATION check: for every source "
    "pair, how many distinct word-3-grams they share and what "
    "fraction of the first source's shingles that is — the standard "
    "train/eval leakage scan (n-gram overlap between splits). Shape: "
    "distinct (source, shingle) sets then an inverted-index join on "
    "shingle — source count is tiny, shingle sets are the scale.",
    tags=("ext", "dedup", "contamination"),
    late=True,
)
def x24_cross_source_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "source", "text")
    shingles = ng.word_shingles(docs, n=3)
    # Three references (both join branches + sizes), zero exchange
    # reuse → materialize the distinct (source, shingle) set once.
    srcsh = (
        shingles.join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct()
        .transform(lazy_barrier)
    )
    sizes = srcsh.groupBy("source").agg(F.count("*").alias("n_sh"))
    a = srcsh.select(F.col("source").alias("source_a"), "shingle")
    b = srcsh.select(F.col("source").alias("source_b"), "shingle")
    shared = (
        a.join(b, "shingle")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.count("*").alias("n_shared"))
    )
    return shared.join(
        F.broadcast(sizes.withColumnsRenamed({"source": "source_a"})), "source_a"
    ).select(
        "source_a",
        "source_b",
        "n_shared",
        r4(F.col("n_shared").cast("double") / F.col("n_sh")).alias("overlap_a"),
    )


# ---------------------------------------------------------------------------
# x29 — eval-set decontamination (doc-level drop-list)
# ---------------------------------------------------------------------------


@register(
    "x29_eval_decontaminate",
    rf"""
    WITH {shingle_ctes(carry="source")},
    ev AS (SELECT MIN(source) AS ev_src FROM documents),
    eval_sh AS (
        SELECT DISTINCT shingle FROM sh, ev WHERE sh.source = ev.ev_src
    )
    SELECT s.doc_id, COUNT(*) AS n_eval_shingles
    FROM sh s, ev
    WHERE s.source <> ev.ev_src
      AND s.shingle IN (SELECT shingle FROM eval_sh)
    GROUP BY s.doc_id
    """,
    doc="EXT x29 — eval decontamination: the DROP-LIST of training "
    "documents sharing any word-3-gram with the held-out eval source "
    "(the GPT-3-style n-gram scrub; production uses 8–13-grams, same "
    "plan). Complements x24: that reports source-pair overlap "
    "aggregates, this names the individual training docs to remove. "
    "Scale shape: the eval shingle set is tiny relative to the "
    "corpus → broadcast to the training shingles, one hash-agg per "
    "doc — never a corpus self-join. Counts are per distinct "
    "(doc, shingle), so the shingle-dedup in both dialects makes "
    "COUNT(*) ≡ COUNT(DISTINCT shingle).",
    tags=("ext", "dedup", "contamination"),
    late=True,
)
def x29_eval_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    ev = docs.agg(F.min("source").alias("ev_src"))
    # shingles referenced by BOTH the eval and training branches —
    # materialize once (same no-ReusedExchange issue as x21/x24)
    shingles = (
        ng.word_shingles(docs, n=3)
        .join(docs.select("doc_id", "source"), "doc_id")
        .crossJoin(F.broadcast(ev))
        .transform(lazy_barrier)
    )
    eval_sh = (
        shingles.filter(F.col("source") == F.col("ev_src"))
        .select("shingle")
        .distinct()
    )
    return (
        shingles.filter(F.col("source") != F.col("ev_src"))
        .join(F.broadcast(eval_sh), "shingle")
        .groupBy("doc_id")
        .agg(F.count("*").alias("n_eval_shingles"))
    )


# ---------------------------------------------------------------------------
# Rows-only dedup operators (engine-specific hashing)
# ---------------------------------------------------------------------------


@register(
    "x8_minhash_neardup",
    None,  # xxhash64 minhash is engine-specific
    doc="EXT x8 — MinHash LSH near-dup candidates (the 100 TB dedup "
    "path: universal-hash signatures in one hash-agg, banding → "
    "equi-join). Rows-only; validated against exact Jaccard in tests.",
    tags=("ext", "dedup", "rows-only"),
)
def x8_minhash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    return mh.minhash_candidates(
        _docs(spark, sf_dir), n=3, num_hashes=32, n_bands=8, min_est=0.25
    ).select("doc_a", "doc_b", r4("jaccard_est").alias("jaccard_est"))


@register(
    "x9_simhash_fingerprint",
    None,  # xxhash64 is Spark-specific
    doc="EXT x9 — 64-bit SimHash fingerprints (JVM bit arithmetic, no "
    "UDF); banded Hamming join is the near-dup scale path.",
    tags=("ext", "dedup", "rows-only"),
)
def x9_simhash_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return sh.simhash64(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# x38 — INCREMENTAL dedup: a new batch against the standing corpus
# ---------------------------------------------------------------------------

# Deterministic increment split: every 10th doc is "arriving", the
# rest is the standing corpus.
_X38_BATCH = "doc_id % 10 = 0"
_X38_BASE = "doc_id % 10 <> 0"


@register(
    "x38_incremental_dedup",
    rf"""
    WITH {shingle_ctes()},
    hx AS (
        SELECT doc_id,
               sha256(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g')) AS h
        FROM documents
    ),
    exact AS (
        SELECT nb.doc_id, MIN(bs.doc_id) AS exact_base
        FROM hx nb JOIN hx bs ON nb.h = bs.h
        WHERE nb.{_X38_BATCH} AND bs.{_X38_BASE}
        GROUP BY nb.doc_id
    ),
    {mh.md5_kv_sql(_MH_AB, _MH_BANDS)}
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM kv x JOIN kv y
          ON x.band_idx = y.band_idx AND x.band_key = y.band_key
        WHERE x.{_X38_BATCH} AND y.{_X38_BASE}
    ),
    sizes AS (SELECT doc_id, COUNT(DISTINCT v) AS n_sh FROM vals GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(DISTINCT a.v) AS n_common
        FROM cand c
        JOIN vals a ON a.doc_id = c.doc_a
        JOIN vals b ON b.doc_id = c.doc_b AND b.v = a.v
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT doc_a, doc_b,
               CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
                   AS jaccard
        FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
              >= {_GATE_JACCARD}
    ),
    near_best AS (SELECT doc_a, MAX(jaccard) AS bj FROM scored GROUP BY doc_a),
    near_pick AS (
        SELECT s.doc_a, n.bj, MIN(s.doc_b) AS near_base
        FROM scored s JOIN near_best n
          ON s.doc_a = n.doc_a AND s.jaccard = n.bj
        GROUP BY 1, 2
    )
    SELECT d.doc_id,
           CASE WHEN e.exact_base IS NOT NULL THEN 'exact_dup'
                WHEN p.near_base IS NOT NULL THEN 'near_dup'
                ELSE 'unique' END AS verdict,
           COALESCE(e.exact_base, p.near_base) AS matched_base,
           CASE WHEN e.exact_base IS NOT NULL THEN CAST(1.0 AS DOUBLE)
                ELSE {r4sql("p.bj")} END AS best_jaccard
    FROM documents d
    LEFT JOIN exact e ON d.doc_id = e.doc_id
    LEFT JOIN near_pick p ON d.doc_id = p.doc_a
    WHERE d.{_X38_BATCH}
    """,
    doc="EXT x38 — INCREMENTAL dedup: classify an arriving batch "
    "(every 10th doc) against the STANDING corpus as exact_dup "
    "(normalized-hash match, min base id), near_dup (md5-minhash "
    "banded candidates batch×base, exact-verified at the 0.7 "
    "production threshold, argmax-Jaccard base with min-id tiebreak "
    "— Jaccard is an exact integer ratio, so the argmax is "
    "engine-stable), or unique. This is the asymmetric shape real "
    "ingestion needs: the batch side is small, candidates only ever "
    "pair batch×base (never base×base), so per-increment cost scales "
    "with the increment — the standing corpus is touched once for "
    "signatures it would cache/persist in production.",
    tags=("ext", "dedup", "incremental"),
    late=True,
)
def x38_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    is_batch = F.col("doc_id") % 10 == 0

    hx = docs.select("doc_id", ex.text_hash().alias("h"))
    # ONE hash-keyed groupBy replaces the batch×base self-join + the
    # per-batch-doc re-group (r14, guide §2.4): each doc holds exactly
    # one h row, so a hash group's min BASE id and its BATCH members
    # come out of the same shuffle — was 2 join exchanges + 1 groupBy
    # exchange over the hash relation, now 1. collect_list drops the
    # CASE's nulls, and exploding the batch list emits each batch doc
    # at most once, so no re-aggregation is needed.
    # Memory bound (r15, advisor finding): the collect_list buffers
    # every BATCH doc id sharing one content hash in a single group's
    # aggregation buffer — 8 bytes per id, so even a pathological
    # corpus-scale boilerplate hash (10⁸ batch dups of one page) is
    # ~800 MB in ONE task, and typical hot hashes are orders of
    # magnitude smaller. The old join form held the same ids as BxC
    # join OUTPUT rows instead (strictly more state at every B>1), so
    # this is a bound improvement, but it IS per-group: a deployment
    # certifying unbounded duplicate multiplicity should pre-aggregate
    # the batch side per (h, bucket) first. See SCALE.md.
    exact_m = (
        hx.groupBy("h")
        .agg(
            F.min(F.when(~is_batch, F.col("doc_id"))).alias("exact_base"),
            F.collect_list(F.when(is_batch, F.col("doc_id"))).alias("_bm"),
        )
        .filter(F.col("exact_base").isNotNull())
        .select(F.explode("_bm").alias("doc_id"), "exact_base")
    )

    vsets = mh.md5_val_arrays(docs, n=3).transform(lazy_barrier)
    sig = vsets.select("doc_id", mh.md5_sig_array("vs", _MH_AB).alias("sig"))
    kv = mh.banded_keys(sig, _MH_NUM, _MH_BANDS).transform(lazy_barrier)
    cand = (
        kv.filter(is_batch)
        .select(F.col("doc_id").alias("doc_a"), "band_idx", "band_key")
        .join(
            kv.filter(~is_batch).select(
                F.col("doc_id").alias("doc_b"), "band_idx", "band_key"
            ),
            ["band_idx", "band_key"],
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    scored = ng.jaccard_verify_arrays(vsets, cand, threshold=_GATE_JACCARD)
    # argmax base per batch doc as ONE max(struct) agg (the x41 r14
    # form): max jaccard, min doc_b on ties (the negated id rides the
    # struct), replacing groupBy(max) + join-back + re-group. Tie
    # semantics identical: equal exact-ratio doubles compare equal,
    # so the struct max picks max(-doc_b) = min doc_b among them.
    near_pick = (
        scored.groupBy("doc_a")
        .agg(
            F.max(
                F.struct("jaccard", (-F.col("doc_b")).alias("_nb"))
            ).alias("_m")
        )
        .select(
            F.col("doc_a").alias("doc_id"),
            F.col("_m.jaccard").alias("bj"),
            (-F.col("_m._nb")).alias("near_base"),
        )
    )
    return (
        docs.filter(is_batch)
        .select("doc_id")
        .join(exact_m, "doc_id", "left")
        .join(near_pick, "doc_id", "left")
        .select(
            "doc_id",
            F.when(F.col("exact_base").isNotNull(), "exact_dup")
            .when(F.col("near_base").isNotNull(), "near_dup")
            .otherwise("unique")
            .alias("verdict"),
            F.coalesce("exact_base", "near_base").alias("matched_base"),
            F.when(F.col("exact_base").isNotNull(), F.lit(1.0))
            .otherwise(r4("bj"))
            .alias("best_jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# x67 — winnowing fingerprints (MOSS local document fingerprinting)
# ---------------------------------------------------------------------------

_WINNOW_W = 4  # guarantee window: any match ≥ w+k-1 words shares a print


@register(
    "x67_winnowing_fingerprints",
    rf"""
    WITH w AS (
        SELECT doc_id,
               generate_subscripts(string_split_regex(LOWER(TRIM(text)), '\s+'), 1) AS pos,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS word
        FROM documents
    ),
    g AS (
        SELECT doc_id, pos,
               word || ' ' || LEAD(word, 1) OVER win || ' ' || LEAD(word, 2) OVER win AS shingle,
               LEAD(word, 2) OVER win AS last2
        FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        FROM g WHERE last2 IS NOT NULL
    ),
    winmin AS (
        SELECT doc_id, rn,
               MIN(h) OVER (
                   PARTITION BY doc_id ORDER BY rn
                   ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW
               ) AS wmin
        FROM sh
    )
    SELECT doc_id,
           COUNT(*) AS n_windows,
           COUNT(DISTINCT wmin) AS n_fingerprints,
           {r4sql("COUNT(DISTINCT wmin) * 1.0 / COUNT(*)")} AS density
    FROM winmin
    WHERE rn >= {_WINNOW_W}
    GROUP BY doc_id
    """,
    doc="EXT x67 — WINNOWING (Schleimer/Wilkerson/Aiken, MOSS): per "
    f"document, the minimum k-gram hash of every {_WINNOW_W}-gram "
    "sliding window is selected as a fingerprint — the local "
    "fingerprinting scheme with the GUARANTEE that any shared run of "
    "≥ w+k−1 words between two documents shares at least one print "
    "(what random MinHash sampling cannot promise), at expected "
    "density 2/(w+1). The per-doc print-set summary feeds the same "
    "banded candidate machinery as x8. Shape: one positioned-shingle "
    "explode, a rolling MIN over each doc's hash stream (doc-keyed "
    "window, no shuffle beyond the explode's), one hash-agg; hashes "
    "are md5-derived so the oracle replays them exactly (xxhash64 is "
    "the drop-in production twin).",
    tags=("ext", "dedup"),
    late=True,
)
def x67_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    grams = fan_out(_docs(spark, sf_dir)).select(
        "doc_id", ng.split_words("text").alias("_words")
    ).select(
        "doc_id",
        F.posexplode(
            ng.shingle_array("_words", 3, distinct=False)
        ).alias("pos", "shingle"),
    )
    hashed = grams.select(
        "doc_id",
        (F.col("pos") + 1).alias("rn"),  # posexplode is 0-based
        mh.md5_value(F.col("shingle")).alias("h"),
    )
    roll = Window.partitionBy("doc_id").orderBy("rn").rowsBetween(
        -(_WINNOW_W - 1), 0
    )
    winmin = hashed.withColumn("wmin", F.min("h").over(roll))
    return (
        winmin.filter(F.col("rn") >= _WINNOW_W)  # full windows only
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_windows"),
            F.countDistinct("wmin").alias("n_fingerprints"),
            r4(F.countDistinct("wmin") / F.count("*")).alias("density"),
        )
    )


# ---------------------------------------------------------------------------
# x75 — asymmetric shingle CONTAINMENT (quote/embedding detection)
# ---------------------------------------------------------------------------

_X75_MIN_CONTAIN = 0.8
_X75_MIN_SH = 5
# Candidate-generation hot-bucket cap: a shingle shared by more than
# this many documents is treated as boilerplate and generates NO
# candidate pairs (a posting list of m docs otherwise yields m²/2 join
# rows — one viral disclaimer makes the join quadratic). Exact
# verification still counts the hot shingles, so reported containment
# values are exact; only pairs whose EVERY shared shingle is hot can
# be missed (recall-bounded, the standard stop-shingle trade).
_X75_BUCKET_CAP = 64


@register(
    "x75_containment_pairs",
    rf"""
    WITH {shingle_ctes()},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    plist AS (SELECT shingle, COUNT(*) AS pl FROM sh GROUP BY shingle),
    tagged AS (
        SELECT sh.doc_id, sh.shingle, plist.pl
        FROM sh JOIN plist USING (shingle)
    ),
    cold AS (
        SELECT doc_id, shingle FROM tagged WHERE pl <= {_X75_BUCKET_CAP}
    ),
    hotp AS (
        SELECT doc_id, shingle FROM tagged WHERE pl > {_X75_BUCKET_CAP}
    ),
    pc AS (
        SELECT a.doc_id AS doc_sub, b.doc_id AS doc_super,
               COUNT(*) AS n_cold
        FROM cold a JOIN cold b
          ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    ph AS (
        SELECT p.doc_sub, p.doc_super, COUNT(*) AS n_hot
        FROM pc p
        JOIN hotp ha ON ha.doc_id = p.doc_sub
        JOIN hotp hb ON hb.doc_id = p.doc_super
                    AND hb.shingle = ha.shingle
        GROUP BY 1, 2
    ),
    inter0 AS (
        SELECT pc.doc_sub, pc.doc_super,
               pc.n_cold + COALESCE(ph.n_hot, 0) AS n_common
        FROM pc LEFT JOIN ph
          ON pc.doc_sub = ph.doc_sub AND pc.doc_super = ph.doc_super
    ),
    inter AS (
        SELECT doc_sub, doc_super, n_common FROM inter0
        UNION ALL
        SELECT doc_super AS doc_sub, doc_sub AS doc_super, n_common
        FROM inter0
    )
    SELECT doc_sub, doc_super, n_common, sa.n_sh AS n_sub,
           {r4sql("CAST(n_common AS DOUBLE) / sa.n_sh")} AS containment,
           {r4sql("CAST(n_common AS DOUBLE) / "
                  "(sa.n_sh + sb.n_sh - n_common)")} AS jaccard
    FROM inter
    JOIN sizes sa ON doc_sub = sa.doc_id
    JOIN sizes sb ON doc_super = sb.doc_id
    WHERE sa.n_sh >= {_X75_MIN_SH}
      AND CAST(n_common AS DOUBLE) / sa.n_sh >= {_X75_MIN_CONTAIN}
    ORDER BY containment DESC, doc_sub, doc_super
    """,
    doc="EXT x75 — asymmetric shingle CONTAINMENT |A∩B|/|A| (Broder's "
    "second resemblance measure): directed pairs where ≥80% of the "
    "smaller document's word-3-grams appear in another document — the "
    "quote/embedding/boilerplate-wrapper detector that symmetric "
    "Jaccard (x2) structurally MISSES: a 100-word article pasted into "
    "a 10k-word page has containment 1.0 but Jaccard ≈ 0.01, far "
    "under any near-dup threshold, yet it is exactly the duplication "
    "a training corpus must catch (the Lee et al. span scrub x43-x46 "
    "attacks the same failure at substring granularity; this is the "
    "set-level form). Shape (r9): the intersection splits by posting-"
    f"list size at {_X75_BUCKET_CAP}. COLD shingles (≤cap) pair-count "
    "through the shared grouped kernel (dedup/minhash.bucket_pairs "
    "count mode): ONE groupBy collects ≤cap member lists, a narrow "
    "ordered-pair expansion + count agg replaces the posting-list "
    "self-join that shuffled the corpus relation twice. HOT shingles "
    "(shared boilerplate) never generate pairs; their exact "
    "contribution is added back by a candidate-GATED join against "
    "the hot posting lists (fan-out = pairs × hot-types-per-doc, "
    "tiny by definition of hot), so reported containment/Jaccard "
    "values stay EXACT for every emitted pair — only pairs whose "
    "EVERY shared shingle is hot are recall-bounded away (the stop-"
    "shingle trade). The gate is an exact count, so both engines "
    "agree. Per-doc distinct-shingle sizes are computed at explode "
    "time from the array length and ride the pair expansion as "
    "payload — no sizes relation, no size joins anywhere.",
    tags=("ext", "dedup"),
    late=True,
)
def x75_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # per-doc distinct-shingle COUNT computed at explode time from the
    # shingle array's size — no sizes relation, no size shuffle, no
    # size joins anywhere downstream (r9 perf pass: the count rides
    # the explode and the pair expansion as payload)
    # the array is BARRIERED before size()+explode() reference it:
    # two references to a lambda-bearing projection block CSE and
    # Catalyst re-inlines the n-gram assembly per reference (measured
    # 12.5s vs 1.5s at sf0.1) — from the materialized column both
    # reads are free
    arrs = fan_out(_docs(spark, sf_dir)).select(
        "doc_id", ng.split_words("text").alias("_words")
    ).select(
        "doc_id", ng.shingle_array("_words", 3).alias("_sh")
    ).transform(lazy_barrier)
    shingles = arrs.select(
        "doc_id",
        F.size("_sh").alias("n"),
        F.explode("_sh").alias("shingle"),
    )

    # split postings by list size: cold lists pair-count directly (the
    # x2 join shape with every bucket bounded by the cap), hot lists
    # are added back candidate-gated below.
    # r15 (guide §2.3/§2.4): the split used to JOIN the Heaps-bounded
    # plist back onto the corpus-sized exploded shingle relation and
    # CHECKPOINT the joined result — one corpus-wide shuffle plus a
    # corpus-sized materialization, only to route each row hot or
    # cold. The HOT KEY SET (posting lists > cap, i.e. pathological
    # boilerplate) is tiny BY DEFINITION of hot, so it broadcasts:
    # cold = anti-join, hotp = semi-join, both map-side when hot
    # broadcasts, no tagged relation at all. Row sets identical
    # (shingle ∉ hot ⇔ pl ≤ cap). Interleaved medians 3.15 → 2.92 s
    # locally; at 100 TB this removes a full shuffle + checkpoint of
    # the exploded corpus. NO broadcast hint (the x62 rule, pinned by
    # test_no_forced_broadcast_of_linear_tables): hot is typically
    # tiny but its WORST case is corpus_tokens/cap — AQE broadcasts
    # it while small and falls back to shuffle joins if a pathological
    # corpus ever grows it past the threshold.
    plist = shingles.groupBy("shingle").agg(F.count("*").alias("pl"))
    hot = plist.filter(F.col("pl") > _X75_BUCKET_CAP).select(
        "shingle"
    ).transform(lazy_barrier)  # tiny; feeds both split joins
    cold = shingles.join(hot, "shingle", "left_anti")
    hotp = shingles.join(hot, "shingle", "left_semi").select(
        "doc_id", "shingle"
    )

    # cold intersection counts via the grouped kernel: ONE groupBy
    # (collect ≤cap member lists), narrow ordered-pair expansion,
    # count agg per pair — replaces the r8 posting-list self-join
    # that shuffled the corpus relation twice; per-doc sizes ride as
    # payload so no re-join is ever needed
    pc = mh.bucket_pairs(
        cold.select("doc_id", "n", "shingle"),
        ["shingle"],
        payload=("n",),
        count_col="n_cold",
    ).withColumnsRenamed(
        {"doc_a": "doc_sub", "doc_b": "doc_super",
         "n_a": "n_sub", "n_b": "n_sup"}
    ).transform(lazy_barrier)  # feeds the hot correction AND the union
    # exact hot-shingle contribution for already-found pairs: fan-out
    # is pairs × hot shingle TYPES per doc (tiny by definition of hot)
    ha = hotp.select(F.col("doc_id").alias("doc_sub"), "shingle")
    hb = hotp.select(F.col("doc_id").alias("doc_super"), "shingle")
    ph = (
        pc.select("doc_sub", "doc_super")
        .join(ha, "doc_sub")
        .join(hb, ["doc_super", "shingle"])
        .groupBy("doc_sub", "doc_super")
        .agg(F.count("*").alias("n_hot"))
    )
    undirected = (
        pc.join(ph, ["doc_sub", "doc_super"], "left")
        .select(
            "doc_sub", "doc_super", "n_sub", "n_sup",
            (
                F.col("n_cold") + F.coalesce(F.col("n_hot"), F.lit(0))
            ).alias("n_common"),
        )
    )
    inter = undirected.unionByName(
        undirected.select(
            F.col("doc_super").alias("doc_sub"),
            F.col("doc_sub").alias("doc_super"),
            F.col("n_sup").alias("n_sub"),
            F.col("n_sub").alias("n_sup"),
            "n_common",
        )
    )
    contain = F.col("n_common").cast("double") / F.col("n_sub")
    return (
        inter.filter(
            (F.col("n_sub") >= _X75_MIN_SH)
            & (contain >= _X75_MIN_CONTAIN)
        )
        .select(
            "doc_sub", "doc_super", "n_common", "n_sub",
            r4(contain).alias("containment"),
            r4(
                F.col("n_common").cast("double")
                / (F.col("n_sub") + F.col("n_sup") - F.col("n_common"))
            ).alias("jaccard"),
        )
        .orderBy(F.col("containment").desc(), "doc_sub", "doc_super")
    )


# ---------------------------------------------------------------------------
# x77 — winnowing-GATED near-dup (fingerprint-join candidates with the
# MOSS guarantee, exact verify)
# ---------------------------------------------------------------------------

_X77_JACCARD = 0.5
# Hot-print cap for candidate generation: a winnowing fingerprint
# shared by more than this many documents (pathological boilerplate)
# generates no candidate pairs — bounds the k² pair blowup on a shared
# wmin. Exact count gate ⇒ both engines agree; pairs connected ONLY
# through hot prints are recall-bounded away (documented trade; the
# MOSS guarantee holds for runs whose prints stay under the cap).
_X77_BUCKET_CAP = 64


@register(
    "x77_winnowing_neardup",
    rf"""
    WITH w AS (
        SELECT doc_id,
               generate_subscripts(string_split_regex(LOWER(TRIM(text)), '\s+'), 1) AS pos,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS word
        FROM documents
    ),
    g AS (
        SELECT doc_id, pos,
               word || ' ' || LEAD(word, 1) OVER win || ' ' || LEAD(word, 2) OVER win AS shingle,
               LEAD(word, 2) OVER win AS last2
        FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT doc_id,
               ('0x' || substr(md5(shingle), 1, 8))::BIGINT AS h,
               ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) AS rn
        FROM g WHERE last2 IS NOT NULL
    ),
    winmin AS (
        SELECT doc_id, rn,
               MIN(h) OVER (
                   PARTITION BY doc_id ORDER BY rn
                   ROWS BETWEEN {_WINNOW_W - 1} PRECEDING AND CURRENT ROW
               ) AS wmin
        FROM sh
    ),
    prints AS (
        SELECT DISTINCT doc_id, wmin FROM winmin WHERE rn >= {_WINNOW_W}
    ),
    coldp AS (
        SELECT doc_id, wmin FROM prints
        WHERE wmin IN (
            SELECT wmin FROM prints
            GROUP BY wmin HAVING COUNT(*) <= {_X77_BUCKET_CAP}
        )
    ),
    cands AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM coldp a JOIN coldp b
          ON a.wmin = b.wmin AND a.doc_id < b.doc_id
    ),
    vals AS (SELECT DISTINCT doc_id, h FROM sh),
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM vals GROUP BY doc_id),
    inter AS (
        SELECT c.doc_a, c.doc_b, COUNT(*) AS n_common
        FROM cands c
        JOIN vals va ON va.doc_id = c.doc_a
        JOIN vals vb ON vb.doc_id = c.doc_b AND vb.h = va.h
        GROUP BY 1, 2
    )
    SELECT doc_a, doc_b, n_common,
           {r4sql("CAST(n_common AS DOUBLE) / "
                  "(sa.n_sh + sb.n_sh - n_common)")} AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
          >= {_X77_JACCARD}
    ORDER BY doc_a, doc_b
    """,
    doc="EXT x77 — winnowing-GATED near-dup: candidate pairs come from "
    "a fingerprint equi-join over x67's winnowing prints (expected "
    f"density 2/(w+1) ≈ {2/(_WINNOW_W+1):.2f} of shingles), then ONLY "
    "candidates are exact-Jaccard-verified over their distinct hashed "
    "shingle sets — the third candidate generator beside MinHash "
    "banding (x8, probabilistic S-curve) and the full inverted index "
    "(x2, exact but quadratic in posting lists), with winnowing's "
    "DETERMINISTIC guarantee: any shared run of ≥ w+k−1 words shares "
    "a print, so long verbatim overlaps can never be missed the way "
    "an unlucky MinHash draw can miss them. Shape (r9): ONE doc-keyed "
    "pass (window + groupBy sharing the exchange) yields each doc's "
    "distinct hash SET and winnowing print set as arrays; candidate "
    "pairs come from ONE bucket groupBy + narrow expansion with a "
    f"{_X77_BUCKET_CAP}-doc hot-print cap (dedup/minhash.bucket_pairs "
    "— bounds the k² blowup of shared boilerplate prints; exact-count "
    "gate so both engines agree) with per-doc set sizes riding the "
    "expansion as payload, funding an exact size-ratio prune "
    "(J <= min/max) BEFORE the distinct; verification is two array "
    "joins + array_intersect per surviving pair — no exploded value "
    "join, no size re-joins. The per-doc table carries NO broadcast "
    "hint (linear non-Heaps growth — AQE decides, x62 class).",
    tags=("ext", "dedup"),
    late=True,
)
def x77_winnowing_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    grams = fan_out(_docs(spark, sf_dir)).select(
        "doc_id", ng.split_words("text").alias("_words")
    ).select(
        "doc_id",
        F.posexplode(
            ng.shingle_array("_words", 3, distinct=False)
        ).alias("pos", "shingle"),
    )
    hashed = grams.select(
        "doc_id",
        (F.col("pos") + 1).alias("rn"),
        mh.md5_value(F.col("shingle")).alias("h"),
    )
    roll = Window.partitionBy("doc_id").orderBy("rn").rowsBetween(
        -(_WINNOW_W - 1), 0
    )
    # ONE doc-keyed pass produces BOTH per-doc artifacts (r9 perf
    # pass, was: separate prints relation + exploded (doc_id, h) vals
    # re-joined per candidate then two more size joins): the window
    # already hash-partitions by doc_id, so the groupBy that follows
    # reuses that exchange — distinct hash set and winnowing print
    # set come out of the same shuffle as one array row per doc.
    per_doc = (
        hashed.withColumn("wmin", F.min("h").over(roll))
        .groupBy("doc_id")
        .agg(
            F.collect_set("h").alias("hs"),
            F.collect_set(
                F.when(F.col("rn") >= _WINNOW_W, F.col("wmin"))
            ).alias("prints"),
        )
        .transform(lazy_barrier)  # feeds candidates AND both verify sides
    )
    # candidate pairs from the print index with the hot-print cap:
    # one bucket groupBy + narrow pair expansion (no kv self-join).
    # Each doc's distinct-set SIZE rides through the expansion as
    # payload, funding the size-ratio prefilter below without any
    # size re-join onto the pair relation.
    kv = per_doc.select(
        "doc_id", F.size("hs").alias("n"), F.explode("prints").alias("wmin")
    )
    # exact size-ratio bound: J(A,B) <= min(|A|,|B|)/max(|A|,|B|), so
    # pairs whose sizes differ by more than the threshold can never
    # verify — pruned inside the pair expansion, BEFORE the distinct
    # shuffle and before the hash arrays are shuffled to them
    # (semantics-preserving, the oracle needs no mirror)
    cands = mh.bucket_pairs(
        kv,
        ["wmin"],
        max_bucket=_X77_BUCKET_CAP,
        payload=("n",),
        pair_filter=(
            F.least("n_a", "n_b")
            >= _X77_JACCARD * F.greatest("n_a", "n_b")
        ),
    )

    # verify candidates against the per-doc hash SETS carried as
    # arrays: n_common = |hs_a ∩ hs_b| via array_intersect (hash-set
    # build, O(|a|+|b|) per pair), sizes read off the payload — no
    # exploded value join, no groupBy over pair×shingle rows, no
    # size re-joins. Arrays are bounded by DOC LENGTH (not corpus),
    # so per-pair memory is bounded at any scale.
    sa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
    )
    sb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
    )
    # per_doc is corpus-linear (non-Heaps) — NO broadcast hint; AQE
    # broadcasts while small, shuffle-joins at scale (x62 class)
    paired = cands.join(sa, "doc_a").join(sb, "doc_b")
    n_common = F.size(F.array_intersect("hs_a", "hs_b"))
    scored = paired.select(
        "doc_a",
        "doc_b",
        n_common.alias("n_common"),
        (F.col("n_a") + F.col("n_b")).alias("n_union_plus"),
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n_union_plus") - F.col("n_common")
    )
    return (
        scored.filter(jac >= _X77_JACCARD)
        .select("doc_a", "doc_b", "n_common", r4(jac).alias("jaccard"))
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# x90 — dup-cluster DENSITY audit (transitivity/over-clustering check)
# ---------------------------------------------------------------------------


@register(
    "x90_cluster_density",
    rf"""
    WITH RECURSIVE {shingle_ctes()},
    {_gated_pairs_sql()},
    {_COMPONENTS_SQL},
    n AS (SELECT component, COUNT(*) AS n_nodes FROM comp GROUP BY 1),
    m AS (
        SELECT c.component, COUNT(*) AS n_edges
        FROM pairs p JOIN comp c ON p.doc_a = c.node
        GROUP BY 1
    )
    SELECT n.component AS cluster_id, n.n_nodes,
           COALESCE(m.n_edges, 0) AS n_edges,
           {r4sql("2.0 * COALESCE(m.n_edges, 0)"
                  " / (n.n_nodes * (n.n_nodes - 1))")} AS density,
           (2 * COALESCE(m.n_edges, 0)
            = n.n_nodes * (n.n_nodes - 1)) AS is_clique
    FROM n LEFT JOIN m ON n.component = m.component
    WHERE n.n_nodes >= 2
    ORDER BY cluster_id
    """,
    doc="EXT x90 — dup-cluster DENSITY audit over x15's components: "
    "per cluster, verified-edge count vs the n·(n−1)/2 a clique would "
    "have. Connected components CHAIN similarity (A~B~C clusters A "
    "with C even when A≁C), which is exactly how near-dup dedup "
    "over-clusters — dropping all-but-one doc from a low-density "
    "chained cluster deletes documents that are NOT near-dups of the "
    "survivor. Production dedup reads this audit before choosing "
    "keep-one-per-cluster (x32) vs edge-local removal; density < 1 "
    "clusters are the review queue. Shape: reuses x15's LSH-gated "
    "exact-verified edges and label-propagation components; the audit "
    "itself is two cluster-keyed hash-aggs and one join — all bounded "
    "by clusters, not corpus.",
    tags=("ext", "dedup", "eval"),
    late=True,
)
def x90_cluster_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup.components import connected_components

    edges = _gated_edges(_docs(spark, sf_dir)).transform(lazy_barrier)
    comp = connected_components(edges)
    n = comp.groupBy("component").agg(F.count("*").alias("n_nodes"))
    m = (
        edges.join(
            comp.select(
                F.col("node").alias("doc_a"), "component"
            ),
            "doc_a",
        )
        .groupBy("component")
        .agg(F.count("*").alias("n_edges"))
    )
    ne = F.coalesce(F.col("n_edges"), F.lit(0))
    return (
        n.join(m, "component", "left")
        .filter(F.col("n_nodes") >= 2)
        .select(
            F.col("component").alias("cluster_id"),
            "n_nodes",
            ne.alias("n_edges"),
            r4(
                2.0 * ne / (F.col("n_nodes") * (F.col("n_nodes") - 1))
            ).alias("density"),
            (2 * ne == F.col("n_nodes") * (F.col("n_nodes") - 1)).alias(
                "is_clique"
            ),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# x99 — eval-set contamination screen (cross-split n-gram overlap)
# ---------------------------------------------------------------------------

_X99_EVAL_HEX = ("0", "1")  # md5 first hex digit → ~1/8 of docs are "eval"
_X99_FLAG = 0.5             # contaminated when > half the shingles leak


@register(
    "x99_contamination_screen",
    rf"""
    WITH tagged AS (
        SELECT doc_id, text,
               substr(md5(CAST(doc_id AS STRING)), 1, 1)
                   IN ('{_X99_EVAL_HEX[0]}', '{_X99_EVAL_HEX[1]}')
                   AS is_eval
        FROM documents
    ),
    {shingle_ctes(src="tagged", carry="is_eval")},
    train AS (SELECT DISTINCT shingle FROM sh WHERE NOT is_eval),
    hits AS (
        SELECT e.doc_id,
               COUNT(*) AS n_shingles,
               SUM(CASE WHEN t.shingle IS NOT NULL THEN 1 ELSE 0 END)
                   AS n_hits
        FROM sh e LEFT JOIN train t ON e.shingle = t.shingle
        WHERE e.is_eval
        GROUP BY 1
    )
    SELECT doc_id, n_shingles, n_hits,
           {{FRAC}} AS leak_frac,
           ({{FRAC}} > {_X99_FLAG}) AS contaminated
    FROM hits
    ORDER BY doc_id
    """.replace("{FRAC}", r4sql("n_hits * 1.0 / n_shingles")),
    doc="EXT x99 — EVAL-SET CONTAMINATION screen: deterministically "
    "split the corpus into train (~7/8) and eval (~1/8) by the md5 "
    "of the doc id, then score every EVAL document by the fraction "
    "of its distinct word-3-gram shingles that also occur anywhere "
    "in the TRAIN split — the decontamination gate every benchmark "
    "pipeline runs before trusting an eval number (Lee et al.'s "
    "span dedup at x43 removes repeats WITHIN the training set; "
    "contamination is the CROSS-split direction, and the fix is "
    "different too: drop the eval doc, not the training span). "
    "Scale shape: the train side collapses to DISTINCT shingles "
    "BEFORE the join, so each eval shingle meets at most ONE train "
    "row — a membership probe, not the k² posting-list fan-out of a "
    "pair join (x75's hot-bucket lesson does not arise; at 100 TB "
    "the train side can further shrink to a bloom/xxhash set, j12's "
    "pattern). Split hash and shingles are the engine-portable md5/"
    "word-3-gram primitives every dedup oracle shares. Flag cuts on "
    "the CANONICAL fraction (a19).",
    tags=("ext", "dedup", "contamination", "eval"),
    late=True,
)
def x99_contamination_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id", "text",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1)
        .isin(*_X99_EVAL_HEX)
        .alias("is_eval"),
    )
    # carry the split tag THROUGH the narrow shingle map instead of
    # re-joining shingles→docs on doc_id (saves a corpus-scale shuffle)
    sh_all = fan_out(docs).select(
        "doc_id", "is_eval", ng.split_words("text").alias("_words")
    ).select(
        "doc_id", "is_eval",
        F.explode(ng.shingle_array("_words", 3)).alias("shingle"),
    )
    train = (
        sh_all.filter(~F.col("is_eval")).select("shingle").distinct()
        .withColumn("hit", F.lit(1))
    )
    frac = r4(F.col("n_hits") * 1.0 / F.col("n_shingles"))
    return (
        sh_all.filter(F.col("is_eval"))
        .join(train, "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce(F.col("hit"), F.lit(0))).alias("n_hits"),
        )
        .select(
            "doc_id", "n_shingles", "n_hits",
            frac.alias("leak_frac"),
            (frac > _X99_FLAG).alias("contaminated"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x102 — CCNet-style chunk-hash dedup (keep-first over fixed token chunks)
# ---------------------------------------------------------------------------

_X102_W = 10  # tokens per chunk


@register(
    "x102_chunk_dedup",
    f"""
    WITH toks AS (
        SELECT doc_id,
               string_split_regex(LOWER(TRIM(text)), '\\s+') AS l
        FROM documents WHERE text IS NOT NULL
    ),
    ch AS (
        SELECT doc_id, l,
               UNNEST(generate_series(0,
                   CAST(CEIL(len(l) / {_X102_W}.0) AS BIGINT) - 1)) AS ci
        FROM toks
    ),
    chunks AS (
        SELECT doc_id, ci,
               md5(array_to_string(
                   list_slice(l, ci * {_X102_W} + 1,
                              ci * {_X102_W} + {_X102_W}), ' ')) AS h,
               LEAST({_X102_W}, len(l) - ci * {_X102_W}) AS n_tok
        FROM ch
    ),
    firsts AS (
        SELECT h, MIN(doc_id * 1000000 + ci) AS first_key
        FROM chunks GROUP BY h
    )
    SELECT c.doc_id,
           COUNT(*) AS n_chunks,
           SUM(CASE WHEN c.doc_id * 1000000 + c.ci = f.first_key
                    THEN 1 ELSE 0 END) AS kept_chunks,
           COUNT(*) - SUM(CASE WHEN c.doc_id * 1000000 + c.ci = f.first_key
                               THEN 1 ELSE 0 END) AS removed_chunks,
           SUM(CASE WHEN c.doc_id * 1000000 + c.ci = f.first_key
                    THEN c.n_tok ELSE 0 END) AS kept_tokens
    FROM chunks c JOIN firsts f ON c.h = f.h
    GROUP BY 1 ORDER BY 1
    """,
    doc="EXT x102 — CCNet-style CHUNK-HASH dedup: documents are cut "
    "into fixed-width (10-token) non-overlapping chunks, each chunk "
    "md5-hashed, and only the globally FIRST occurrence of every "
    "chunk (min (doc_id, chunk_idx)) is kept — the paragraph-level "
    "dedup CCNet runs on Common Crawl, where boilerplate repeats at "
    "sub-document granularity that doc-level dedup (x1/x8) cannot "
    "see and span dedup (x43) targets only long repeats. Per doc: "
    "chunk counts kept/removed and surviving token mass. Shape: one "
    "narrow tokenize map, one explode to ~n_tokens/W chunk rows, one "
    "hash-agg over chunk hashes (keep-first = exact MIN of an "
    "integer-encoded (doc, idx) key — deterministic, order-free), "
    "one equi-join back on the hash (per-hash table is corpus-"
    "linear: NOT broadcast, AQE decides), one per-doc fold. No "
    "pairwise comparison anywhere — cost is linear in corpus tokens "
    "at any scale.",
    tags=("ext", "dedup"),
    late=True,
)
def x102_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = _X102_W
    docs = _docs(spark, sf_dir).filter(F.col("text").isNotNull())
    toks = docs.select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("l"),
    )
    ch = toks.select(
        "doc_id",
        "l",
        F.explode(
            F.sequence(
                F.lit(0).cast("long"),
                F.ceil(F.size("l") / F.lit(float(w))).cast("long") - 1,
            )
        ).alias("ci"),
    )
    key = F.col("doc_id") * 1_000_000 + F.col("ci")
    chunks = ch.select(
        "doc_id",
        "ci",
        F.md5(
            F.concat_ws(
                " ", F.slice(F.col("l"), (F.col("ci") * w + 1).cast("int"), w)
            )
        ).alias("h"),
        F.least(F.lit(w).cast("long"), F.size("l") - F.col("ci") * w).alias(
            "n_tok"
        ),
    ).transform(lazy_barrier)  # feeds the keep-first agg AND the join back
    firsts = chunks.groupBy("h").agg(F.min(key).alias("first_key"))
    kept = key == F.col("first_key")
    return (
        chunks.join(firsts, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(kept.cast("long")).alias("kept_chunks"),
            (F.count("*") - F.sum(kept.cast("long"))).alias(
                "removed_chunks"
            ),
            F.sum(F.when(kept, F.col("n_tok")).otherwise(0)).alias(
                "kept_tokens"
            ),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x106 — MinHash pipeline eval: precision/recall vs exact-Jaccard truth
# ---------------------------------------------------------------------------

_X106_EST_SQL = rf"""
    est AS (
        SELECT doc_a, doc_b
        FROM cand
        JOIN sigs a ON doc_a = a.doc_id
        JOIN sigs b ON doc_b = b.doc_id
        WHERE {r4sql(f"CAST(({_X8B_MATCHES_SQL}) AS DOUBLE) / {_MH_NUM}")}
              >= {JACCARD_MIN}
    )"""


@register(
    "x106_minhash_eval",
    rf"""
    WITH {shingle_ctes()},
    {mh.md5_banded_candidates_sql(_MH_AB, _MH_BANDS)},
    {_X106_EST_SQL},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ),
    truth AS (
        SELECT doc_a, doc_b FROM inter
        JOIN sizes sa ON doc_a = sa.doc_id
        JOIN sizes sb ON doc_b = sb.doc_id
        WHERE CAST(n_common AS DOUBLE) / (sa.n_sh + sb.n_sh - n_common)
              >= {JACCARD_MIN}
    ),
    conf AS (
        SELECT COALESCE(SUM(CASE WHEN t.doc_a IS NOT NULL
                                  AND e.doc_a IS NOT NULL THEN 1 END), 0)
                   AS tp,
               COALESCE(SUM(CASE WHEN t.doc_a IS NULL THEN 1 END), 0)
                   AS fp,
               COALESCE(SUM(CASE WHEN e.doc_a IS NULL THEN 1 END), 0)
                   AS fn
        FROM truth t FULL OUTER JOIN est e
          ON t.doc_a = e.doc_a AND t.doc_b = e.doc_b
    )
    SELECT tp, fp, fn,
           {r4sql("CASE WHEN tp + fp > 0"
                  " THEN tp * 1.0 / (tp + fp) ELSE 0 END")} AS prec,
           {r4sql("CASE WHEN tp + fn > 0"
                  " THEN tp * 1.0 / (tp + fn) ELSE 0 END")} AS recall,
           {r4sql("CASE WHEN 2 * tp + fp + fn > 0"
                  " THEN 2.0 * tp / (2 * tp + fp + fn) ELSE 0 END")} AS f1
    FROM conf
    """,
    doc="EXT x106 — DEDUP PIPELINE EVALUATION: precision/recall/F1 of "
    "the MinHash+LSH near-dup decision (x8b's banded candidates + "
    "32-hash estimate, cut at the corpus threshold) against the "
    "EXACT n-gram Jaccard truth (x2) at the same threshold — the "
    "measurement a curation team runs before trusting the sketch "
    "path at a scale where the exact path is unaffordable: recall "
    "loss = banding misses + estimator noise below the cut, "
    "precision loss = estimator noise above it. Both legs reuse the "
    "SAME shingle relation (one tokenize pass feeds signatures and "
    "the inverted index); the confusion fold is a FULL OUTER join of "
    "two pair sets bounded by the near-dup count, not the corpus. "
    "At 100 TB this runs on a SAMPLE (the estimate's quality is "
    "corpus-size-free), while the decision pipeline itself stays "
    "sketch-only — the exact leg exists precisely to be run small.",
    tags=("ext", "dedup", "eval"),
    late=True,
)
def x106_minhash_eval(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    # ``sample_mod``: the 100 TB valve. The truth leg (inverted-index
    # self-join) is super-linear in corpus size; at scale call with
    # e.g. sample_mod=1000 for a deterministic 0.1% doc sample — the
    # precision/recall estimate is corpus-size-free, the cost isn't.
    # Both legs see the SAME sampled corpus, so the confusion matrix
    # stays internally consistent (see SCALE.md).
    docs = hash_sample(_docs(spark, sf_dir), sample_mod)
    # r14 (guide §1.2): tokenize the corpus ONCE for both legs. The
    # est leg (signatures) and the truth leg (inverted-index
    # self-join) each used to materialize their own tokenization —
    # two full split+shingle passes over every document, the most
    # expensive narrow map in the query. One barriered per-doc
    # shingle-array relation now feeds both: the est leg explodes it
    # into (doc_id, shingle) rows, the truth leg consumes the arrays
    # directly. Same algebra on both legs, results identical.
    arrs = (
        fan_out(docs)
        .select("doc_id", ng.split_words("text").alias("_words"))
        .select("doc_id", ng.shingle_array("_words", 3).alias("_sh"))
        .transform(lazy_barrier)
    )
    shingles = arrs.select("doc_id", F.explode("_sh").alias("shingle"))
    est = _md5_minhash_pairs(docs, JACCARD_MIN, shingles=shingles).select(
        "doc_a", "doc_b", F.lit(1).alias("in_est")
    )
    truth = ng.jaccard_pairs(
        docs, n=3, threshold=JACCARD_MIN, arrs=arrs
    ).select("doc_a", "doc_b", F.lit(1).alias("in_truth"))
    j = truth.join(est, ["doc_a", "doc_b"], "full")
    conf = j.agg(
        F.coalesce(
            F.sum(
                F.when(
                    F.col("in_truth").isNotNull()
                    & F.col("in_est").isNotNull(),
                    1,
                )
            ),
            F.lit(0),
        ).alias("tp"),
        F.coalesce(
            F.sum(F.when(F.col("in_truth").isNull(), 1)), F.lit(0)
        ).alias("fp"),
        F.coalesce(
            F.sum(F.when(F.col("in_est").isNull(), 1)), F.lit(0)
        ).alias("fn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    return conf.select(
        "tp",
        "fp",
        "fn",
        r4(
            F.when(tp + fp > 0, tp * 1.0 / (tp + fp)).otherwise(0.0)
        ).alias("prec"),
        r4(
            F.when(tp + fn > 0, tp * 1.0 / (tp + fn)).otherwise(0.0)
        ).alias("recall"),
        r4(
            F.when(
                2 * tp + fp + fn > 0, 2.0 * tp / (2 * tp + fp + fn)
            ).otherwise(0.0)
        ).alias("f1"),
    )


# ---------------------------------------------------------------------------
# x107 — LSH estimator calibration: signature estimate vs exact Jaccard
# ---------------------------------------------------------------------------


@register(
    "x107_lsh_calibration",
    rf"""
    WITH {shingle_ctes()},
    {mh.md5_banded_candidates_sql(_MH_AB, _MH_BANDS)},
    sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    pa AS (
        SELECT c.doc_a, c.doc_b, s.shingle
        FROM cand c JOIN sh s ON c.doc_a = s.doc_id
    ),
    inter AS (
        SELECT p.doc_a, p.doc_b, COUNT(*) AS n_common
        FROM pa p JOIN sh s
          ON p.doc_b = s.doc_id AND p.shingle = s.shingle
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT c.doc_a, c.doc_b,
               CAST(COALESCE(i.n_common, 0) AS DOUBLE)
                   / (sa.n_sh + sb.n_sh - COALESCE(i.n_common, 0))
                   AS exact_j,
               CAST(({_X8B_MATCHES_SQL}) AS DOUBLE) / {_MH_NUM} AS est_j
        FROM cand c
        LEFT JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
        JOIN sizes sa ON c.doc_a = sa.doc_id
        JOIN sizes sb ON c.doc_b = sb.doc_id
        JOIN sigs a ON c.doc_a = a.doc_id
        JOIN sigs b ON c.doc_b = b.doc_id
    )
    SELECT LEAST(CAST(FLOOR(exact_j * 10) AS BIGINT), 9) AS j_bin,
           COUNT(*) AS n_pairs,
           {r4sql("AVG(exact_j)")} AS mean_exact,
           {r4sql("AVG(est_j)")} AS mean_est,
           {r4sql("AVG(est_j - exact_j)")} AS mean_bias
    FROM scored
    GROUP BY 1 ORDER BY 1
    """,
    doc="EXT x107 — LSH ESTIMATOR CALIBRATION curve: over the banded "
    "candidate pairs, the 32-hash signature estimate vs the EXACT "
    "Jaccard, folded into 0.1-wide exact-similarity bins with the "
    "mean bias per bin — x106 scores the binary DECISION at one "
    "threshold; this shows the whole estimator, which is how a "
    "curation team picks the threshold and the signature budget in "
    "the first place (32 hashes -> sd ~= sqrt(j(1-j)/32) ~= 0.09 at "
    "j=0.5; a per-bin |bias| beyond that indicates banding selection "
    "effects, visible in the low bins where candidates are "
    "band-collision survivors). Scale shape: the exact leg is "
    "computed ONLY on candidate pairs (cand x per-doc shingles "
    "equi-join — candidate-bounded, never the corpus-quadratic "
    "inverted self-join); bin floor is exact on identical doubles.",
    tags=("ext", "dedup", "eval"),
    late=True,
)
def x107_lsh_calibration(
    spark: SparkSession, sf_dir: str, sample_mod: int | None = None
) -> DataFrame:
    # Candidate-bounded exact leg, but still an eval — same sampling
    # valve as x106 for very large corpora (see SCALE.md).
    docs = hash_sample(_docs(spark, sf_dir), sample_mod)
    # r14 (guide §1.2): tokenize once. The signature barrier and the
    # shingle barrier each used to recompute the split+shingle map
    # from raw text; barriering the shingle relation FIRST and
    # deriving signatures from the materialized rows halves the
    # tokenize work (plans and results unchanged — same relation).
    sh = ng.word_shingles(docs, n=3).transform(lazy_barrier)
    sigs = mh.md5_signatures(sh, _MH_AB).transform(lazy_barrier)
    kv = mh.banded_keys(sigs, _MH_NUM, _MH_BANDS)
    cand = mh.bucket_pairs(kv, ["band_idx", "band_key"]).transform(lazy_barrier)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    pa = cand.join(
        sh.select(F.col("doc_id").alias("doc_a"), "shingle"), "doc_a"
    )
    inter = (
        pa.join(
            sh.select(F.col("doc_id").alias("doc_b"), "shingle"),
            ["doc_b", "shingle"],
        )
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("n_common"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"))
    siga = sigs.select(F.col("doc_id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sigb = sigs.select(F.col("doc_id").alias("doc_b"), F.col("sig").alias("sig_b"))
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda p, q: p == q), lambda m: m
        )
    )
    nc = F.coalesce(F.col("n_common"), F.lit(0))
    scored = (
        cand.join(inter, ["doc_a", "doc_b"], "left")
        .join(sa, "doc_a")
        .join(sb, "doc_b")
        .join(siga, "doc_a")
        .join(sigb, "doc_b")
        .select(
            (nc.cast("double") / (F.col("na") + F.col("nb") - nc)).alias(
                "exact_j"
            ),
            (matches.cast("double") / _MH_NUM).alias("est_j"),
        )
    )
    return (
        scored.groupBy(
            F.least(
                F.floor(F.col("exact_j") * 10).cast("bigint"), F.lit(9)
            ).alias("j_bin")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            r4(F.avg("exact_j")).alias("mean_exact"),
            r4(F.avg("est_j")).alias("mean_est"),
            r4(F.avg(F.col("est_j") - F.col("exact_j"))).alias("mean_bias"),
        )
        .orderBy("j_bin")
    )


# ---------------------------------------------------------------------------
# x109 — per-source dedup-rate report (internal + cross-source)
# ---------------------------------------------------------------------------


@register(
    "x109_dedup_rate_by_source",
    """
    WITH h AS (
        SELECT source, md5(LOWER(TRIM(text))) AS hh FROM documents
    ),
    per AS (
        SELECT source, COUNT(*) AS n_docs,
               COUNT(DISTINCT hh) AS n_unique
        FROM h GROUP BY 1
    ),
    multi AS (
        SELECT hh FROM (
            SELECT hh, COUNT(DISTINCT source) AS ns FROM h GROUP BY 1
        ) WHERE ns > 1
    ),
    x AS (
        SELECT source, COUNT(DISTINCT h.hh) AS n_cross
        FROM h JOIN multi USING (hh) GROUP BY 1
    )
    SELECT p.source, p.n_docs, p.n_unique,
           {RATE} AS internal_dup_rate,
           COALESCE(x.n_cross, 0) AS n_cross_source_hashes
    FROM per p LEFT JOIN x ON p.source = x.source
    ORDER BY p.source
    """.replace(
        "{RATE}", r4sql("1 - p.n_unique * 1.0 / p.n_docs")
    ),
    doc="EXT x109 — DEDUP-RATE REPORT per source: internal duplicate "
    "rate (1 - unique/total canonical-text hashes) plus how many of "
    "each source's distinct texts also appear in OTHER sources — the "
    "per-supplier accountability view of what x1 (exact dedup) and "
    "x24 (cross-source contamination) measure corpus-wide, and the "
    "first table a curation review asks for ('which crawl is padding "
    "us with boilerplate, and whose content is it?'). Shape: one "
    "narrow hash map, two hash-aggs, and a multi-source-hash semi "
    "join whose right side is bounded by the duplicated-hash count "
    "(NOT broadcast-hinted — duplicate mass is corpus-linear in the "
    "worst case, the x62 rule).",
    tags=("ext", "dedup", "analytics", "report"),
    late=True,
)
def x109_dedup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    h = docs.select(
        "source", F.md5(F.lower(F.trim(F.col("text")))).alias("hh")
    ).transform(lazy_barrier)
    per = h.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("hh").alias("n_unique"),
    )
    multi = (
        h.groupBy("hh")
        .agg(F.countDistinct("source").alias("ns"))
        .filter(F.col("ns") > 1)
        .select("hh")
    )
    x = (
        h.join(multi, "hh")
        .groupBy("source")
        .agg(F.countDistinct("hh").alias("n_cross"))
    )
    return (
        per.join(x, "source", "left")
        .select(
            "source",
            "n_docs",
            "n_unique",
            r4(1 - F.col("n_unique") * 1.0 / F.col("n_docs")).alias(
                "internal_dup_rate"
            ),
            F.coalesce(F.col("n_cross"), F.lit(0)).alias(
                "n_cross_source_hashes"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x117 — content-defined chunking (CDC) dedup profile
# ---------------------------------------------------------------------------

# single source of truth: server_spark/dedup/cdc.py (shared with the
# streaming fold so incremental == one-shot holds exactly)
from server_spark.dedup.cdc import CDC_DIVISOR as _X117_DIVISOR  # noqa: E402
from server_spark.dedup.cdc import CDC_W as _X117_W  # noqa: E402
from server_spark.dedup.cdc import cdc_chunks_sql  # noqa: E402


@register(
    "x117_cdc_chunks",
    rf"""
    WITH {cdc_chunks_sql()},
    spread AS (
        SELECT chunk_hash, COUNT(DISTINCT source) AS n_sources
        FROM chunks GROUP BY 1
    )
    SELECT c.source,
           CAST(COUNT(*) AS BIGINT) AS n_chunks,
           CAST(COUNT(DISTINCT c.chunk_hash) AS BIGINT) AS n_chunk_types,
           {r4sql("1.0 - CAST(COUNT(DISTINCT c.chunk_hash) AS DOUBLE)"
                  " / COUNT(*)")} AS dup_chunk_share,
           {r4sql("AVG(CAST(c.n_tokens AS DOUBLE))")} AS mean_chunk_tokens,
           {r4sql("CAST(SUM(CASE WHEN s.n_sources > 1 THEN 1 ELSE 0 END)"
                  " AS DOUBLE) / COUNT(*)")} AS cross_source_share
    FROM chunks c JOIN spread s ON c.chunk_hash = s.chunk_hash
    GROUP BY c.source
    ORDER BY c.source
    """,
    doc="EXT x117 — CONTENT-DEFINED CHUNKING dedup profile: chunk "
    "boundaries fall where the rolling 4-gram hash ≡ 0 (mod "
    f"{_X117_DIVISOR}), the Rabin/gear-CDC trick that makes chunk "
    "identity SHIFT-INVARIANT — insert a sentence at the top of a "
    "mirrored document and x102's fixed-size chunks all change, but "
    "CDC boundaries re-synchronize after one chunk, so the mirror "
    "still dedups (this is how backup systems and corpus near-dedup "
    "at chunk granularity both work). Per source: chunk count, "
    "distinct chunk types, the internal duplicate share, mean chunk "
    "length (E[len] = divisor, a health check on the boundary hash), "
    "and the share of chunks whose content also appears in ANOTHER "
    "source (the cross-source syndication signal x105 measures at "
    "doc level). Shape: one doc-keyed window pass stamps boundaries "
    "(the winnowing substrate), a per-doc cumsum indexes chunks, one "
    "hash-agg builds chunk hashes (ORDER BY pos inside the agg keeps "
    "both engines' concatenation identical), and the spread join is "
    "keyed on Heaps-bounded chunk types — no pair expansion "
    "anywhere, dedup signal WITHOUT candidate generation.",
    tags=("ext", "dedup", "textstats"),
    late=True,
)
def x117_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup.cdc import cdc_chunk_table

    chunks = cdc_chunk_table(_docs(spark, sf_dir)).transform(
        barrier
    )  # feeds the spread join AND the rollup
    spread = chunks.groupBy("chunk_hash").agg(
        F.countDistinct("source").alias("n_sources")
    )
    # chunk types are Heaps-bounded (content-keyed) — but the spread
    # relation still grows with distinct content, so no forced hint
    return (
        chunks.join(spread, "chunk_hash")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.countDistinct("chunk_hash").alias("n_chunk_types"),
            r4(
                1.0
                - F.countDistinct("chunk_hash").cast("double")
                / F.count("*")
            ).alias("dup_chunk_share"),
            r4(F.avg(F.col("n_tokens").cast("double"))).alias(
                "mean_chunk_tokens"
            ),
            r4(
                F.sum(
                    F.when(F.col("n_sources") > 1, 1).otherwise(0)
                ).cast("double")
                / F.count("*")
            ).alias("cross_source_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x121 — eval-set decontamination at CDC-chunk granularity
# ---------------------------------------------------------------------------

_X121_FLAG_SHARE = 0.2  # test doc flagged when >20% of chunks hit train


@register(
    "x121_chunk_decontaminate",
    rf"""
    WITH {cdc_chunks_sql()},
    train_set AS (
        SELECT DISTINCT chunk_hash FROM chunks WHERE hb < 'cd'
    ),
    test AS (SELECT * FROM chunks WHERE hb >= 'e6'),
    hits AS (
        SELECT t.doc_id, t.source,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(CASE WHEN tr.chunk_hash IS NOT NULL
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
        FROM test t LEFT JOIN train_set tr
          ON t.chunk_hash = tr.chunk_hash
        GROUP BY 1, 2
    )
    SELECT doc_id, source, n_chunks, n_hit,
           {r4sql("CAST(n_hit AS DOUBLE) / n_chunks")} AS hit_share,
           (CAST(n_hit AS DOUBLE) / n_chunks > {_X121_FLAG_SHARE})
               AS flagged
    FROM hits
    WHERE n_hit > 0
    ORDER BY hit_share DESC, doc_id
    """,
    doc="EXT x121 — eval-set DECONTAMINATION at CDC-CHUNK granularity: "
    "every test-split document's content-defined chunks (x117's "
    "gear-CDC boundaries) are membership-checked against the TRAIN "
    "split's distinct chunk set; docs with hits come back with their "
    "contaminated-chunk share and a review flag. This closes the gap "
    "the existing screens leave: x29 hashes WHOLE docs (misses "
    "partial copies), x99 n-gram-overlaps at fixed offsets (breaks "
    "under insertions) — CDC chunk identity is SHIFT-INVARIANT, so a "
    "training document quoted with a new preamble inside a test doc "
    "still hits (the x117 re-sync property, tested there). Split "
    "assignment is x17's md5-prefix rule, so the screen composes "
    "with the actual split the pipeline ships. Shape: one chunk "
    "pass (doc-keyed windows), a semi-style LEFT JOIN against the "
    "Heaps-bounded train chunk set (no hint — chunk types grow with "
    "content), one doc-keyed hash-agg; output is review-queue-sized.",
    tags=("ext", "dedup", "eval"),
    late=True,
)
def x121_chunk_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup.cdc import cdc_chunk_table

    docs = _docs(spark, sf_dir)
    chunks = cdc_chunk_table(docs).withColumn(
        "hb", F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    ).transform(lazy_barrier)  # feeds the train set AND the test probe
    train_set = (
        chunks.filter(F.col("hb") < "cd").select("chunk_hash").distinct()
        .withColumn("_in_train", F.lit(1))
    )
    test = chunks.filter(F.col("hb") >= "e6")
    hits = (
        test.join(train_set, "chunk_hash", "left")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum(
                F.when(F.col("_in_train").isNotNull(), 1).otherwise(0)
            ).cast("bigint").alias("n_hit"),
        )
    )
    share = F.col("n_hit").cast("double") / F.col("n_chunks")
    return (
        hits.filter(F.col("n_hit") > 0)
        .select(
            "doc_id",
            "source",
            "n_chunks",
            "n_hit",
            r4(share).alias("hit_share"),
            (share > _X121_FLAG_SHARE).alias("flagged"),
        )
        .orderBy(F.col("hit_share").desc(), "doc_id")
    )


# ---------------------------------------------------------------------------
# x122 — dup-cluster PROVENANCE: source mix inside each near-dup cluster
# ---------------------------------------------------------------------------


@register(
    "x122_cluster_provenance",
    rf"""
    WITH RECURSIVE {shingle_ctes()},
    {_gated_pairs_sql()},
    {_COMPONENTS_SQL},
    mem AS (
        SELECT c.component, c.node AS doc_id, d.source
        FROM comp c JOIN documents d ON c.node = d.doc_id
    ),
    per_src AS (
        SELECT component, source, COUNT(*) AS c
        FROM mem GROUP BY 1, 2
    ),
    tot AS (
        SELECT component, SUM(c) AS n FROM per_src GROUP BY 1
    ),
    ent AS (
        SELECT p.component,
               MAX(t.n) AS n_docs,
               COUNT(*) AS n_sources,
               -SUM((CAST(p.c AS DOUBLE) / t.n)
                    * LN(CAST(p.c AS DOUBLE) / t.n)) AS h,
               MAX(CAST(p.c AS DOUBLE) / t.n) AS top_share
        FROM per_src p JOIN tot t ON p.component = t.component
        GROUP BY p.component
    )
    SELECT component AS cluster_id,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_sources AS BIGINT) AS n_sources,
           {r4sql("h")} AS source_entropy_nats,
           {r4sql("top_share")} AS majority_share,
           (n_sources > 1) AS cross_source
    FROM ent
    WHERE n_docs >= 2
    ORDER BY cluster_id
    """,
    doc="EXT x122 — dup-cluster PROVENANCE audit over x15's "
    "components: per near-dup cluster, how its members distribute "
    "across sources — member count, distinct sources, the source-mix "
    "entropy and the majority source's share. This is the question a "
    "corpus owner asks BEFORE dedup policy: intra-source clusters "
    "(entropy ~0) are reposts/boilerplate the source itself mints — "
    "drop freely; cross-source clusters are SYNDICATION, where "
    "keep-one-per-cluster silently biases the source mix x28/x39 "
    "budgeted (the surviving copy's source gets the tokens). x90 "
    "audits cluster GEOMETRY (density); this audits cluster "
    "COMPOSITION. Shape: reuses the LSH-gated exact-verified edges "
    "and label-propagation components; the audit itself is one "
    "member join against the doc dimension plus two cluster-keyed "
    "hash-aggs — bounded by clusters, not corpus.",
    tags=("ext", "dedup", "eval"),
    late=True,
)
def x122_cluster_provenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup.components import connected_components

    docs = _docs(spark, sf_dir)
    comp = connected_components(_gated_edges(docs))
    mem = comp.join(
        docs.select(F.col("doc_id").alias("node"), "source"), "node"
    )
    # r15: per_src feeds the totals agg AND the entropy join — un-cut,
    # the comp⋈docs membership join ran once per reference
    per_src = mem.groupBy("component", "source").agg(
        F.count("*").alias("c")
    ).transform(lazy_barrier)
    tot = per_src.groupBy("component").agg(F.sum("c").alias("n"))
    p = F.col("c").cast("double") / F.col("n")
    ent = (
        per_src.join(tot, "component")
        .groupBy("component")
        .agg(
            F.max("n").alias("n_docs"),
            F.count("*").alias("n_sources"),
            (-F.sum(p * F.log(p))).alias("h"),
            F.max(p).alias("top_share"),
        )
    )
    return (
        ent.filter(F.col("n_docs") >= 2)
        .select(
            F.col("component").alias("cluster_id"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_sources").cast("bigint").alias("n_sources"),
            r4(F.col("h")).alias("source_entropy_nats"),
            r4(F.col("top_share")).alias("majority_share"),
            (F.col("n_sources") > 1).alias("cross_source"),
        )
        .orderBy("cluster_id")
    )


# ---------------------------------------------------------------------------
# x123 — word-order-robust near-dup profile (sorted-window shingles)
# ---------------------------------------------------------------------------

_X123_J = 0.5
# banding shape for the 0.5 threshold: k=16 hashes, 8 bands × r=2 —
# P(candidate | J) = 1 − (1 − J²)^8: 0.90 at the 0.5 boundary, 0.997
# at 0.7, ~1 for verbatim dups. The earlier full inverted index over
# sorted shingles was quadratic under boilerplate windows (2.9M
# candidate pairs at sf0.1, measured); banding is the same trade x8
# makes, mirrored md5-exactly in the oracle so parity is unaffected.
_X123_AB = mh.md5_coeffs(16, seed=4321)
_X123_BANDS = 8


@register(
    "x123_reorder_robust_dedup",
    rf"""
    WITH w AS (
        SELECT doc_id, pos, word FROM (
            SELECT doc_id,
                   generate_subscripts(l, 1) AS pos,
                   UNNEST(l) AS word
            FROM (SELECT doc_id,
                         string_split_regex(LOWER(TRIM(text)), '\s+') AS l
                  FROM documents)
        ) WHERE word <> ''
    ),
    g AS (
        SELECT doc_id, pos, word AS w1,
               LEAD(word, 1) OVER win AS w2,
               LEAD(word, 2) OVER win AS w3
        FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sh AS (
        SELECT doc_id,
               array_to_string(list_sort([w1, w2, w3]), ' ') AS shingle,
               w1 || ' ' || w2 || ' ' || w3 AS oshingle
        FROM g WHERE w3 IS NOT NULL
    ),
    so AS (
        SELECT DISTINCT doc_id,
               {mh.md5_value_sql("oshingle")} AS ho
        FROM sh
    ),
    ss AS (
        SELECT DISTINCT doc_id,
               {mh.md5_value_sql("shingle")} AS hs
        FROM sh
    ),
    sizes AS (
        SELECT o.doc_id, o.no, s.ns FROM
            (SELECT doc_id, COUNT(*) AS no FROM so GROUP BY 1) o
        JOIN
            (SELECT doc_id, COUNT(*) AS ns FROM ss GROUP BY 1) s
        USING (doc_id)
    ),
    {mh.md5_banded_candidates_sql(_X123_AB, _X123_BANDS)},
    gated AS (
        SELECT c.doc_a, c.doc_b, sa.ns AS ns_a, sb.ns AS ns_b,
               sa.no AS no_a, sb.no AS no_b
        FROM cand c
        JOIN sizes sa ON c.doc_a = sa.doc_id
        JOIN sizes sb ON c.doc_b = sb.doc_id
        WHERE LEAST(sa.ns, sb.ns) >= {_X123_J} * GREATEST(sa.ns, sb.ns)
    ),
    is_ AS (
        SELECT g.doc_a, g.doc_b, COUNT(*) AS cs
        FROM gated g
        JOIN ss a ON a.doc_id = g.doc_a
        JOIN ss b ON b.doc_id = g.doc_b AND b.hs = a.hs
        GROUP BY 1, 2
    ),
    io AS (
        SELECT g.doc_a, g.doc_b, COUNT(*) AS co
        FROM gated g
        JOIN so a ON a.doc_id = g.doc_a
        JOIN so b ON b.doc_id = g.doc_b AND b.ho = a.ho
        GROUP BY 1, 2
    ),
    scored AS (
        SELECT g.doc_a, g.doc_b,
               CAST(is_.cs AS DOUBLE)
                   / (g.ns_a + g.ns_b - is_.cs) AS js,
               CAST(COALESCE(io.co, 0) AS DOUBLE)
                   / (g.no_a + g.no_b - COALESCE(io.co, 0)) AS jo
        FROM gated g
        JOIN is_ ON g.doc_a = is_.doc_a AND g.doc_b = is_.doc_b
        LEFT JOIN io ON g.doc_a = io.doc_a AND g.doc_b = io.doc_b
    )
    SELECT doc_a, doc_b,
           {r4sql("js")} AS sorted_jaccard,
           {r4sql("jo")} AS ordered_jaccard,
           (js >= {_X123_J} AND jo < {_X123_J}) AS reordered_only
    FROM scored
    WHERE js >= {_X123_J}
    ORDER BY doc_a, doc_b
    """,
    doc="EXT x123 — WORD-ORDER-ROBUST near-dup: shingles are 3-word "
    "windows SORTED before hashing, so a LOCAL transposition changes "
    "only the ~2 windows containing exactly one swapped word (vs all "
    "~4 covering windows for ordered shingles) — sparse word swaps "
    "and in-window reorders ('cheap flights Paris' / 'flights cheap "
    "Paris'), the light-edit duplication class ordered-shingle "
    "detectors (x2/x8/x77) score at half the similarity. (Dense "
    "reshuffles change window CONTENT too — that class needs x41's "
    "embedding tier; the planted test documents the exact boundary.) "
    "Each surviving pair reports BOTH Jaccards; "
    "reordered_only=true marks pairs the ordered index would have "
    "lost — the measured recall gap, not an argument. Flags compare "
    "raw-count ratios to the threshold (exact integers), so both "
    "engines classify identically. Shape (r9, measured): the full "
    "sorted-shingle inverted index went quadratic under boilerplate "
    "windows (2.9M candidates at sf0.1), so candidates come from "
    f"md5-MinHash banding over the SORTED sets ({len(_X123_AB)} "
    f"hashes × {_X123_BANDS} bands, r=2 — recall 0.90 at the J=0.5 "
    "boundary, 0.997 at 0.7, mirrored md5-exactly in the oracle so "
    "parity is unaffected), a size-ratio gate prunes before verify, "
    "and verification is candidate-gated set intersection for both "
    "variants.",
    tags=("ext", "dedup"),
    late=True,
)
def x123_reorder_robust_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    toks = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("pos", "word"),
        )
        .filter(F.col("word") != "")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    g = toks.select(
        "doc_id",
        F.col("word").alias("w1"),
        F.lead("word", 1).over(win).alias("w2"),
        F.lead("word", 2).over(win).alias("w3"),
    ).filter(F.col("w3").isNotNull())
    sh = g.select(
        "doc_id",
        mh.md5_value(F.concat_ws(" ", "w1", "w2", "w3")).alias("ho"),
        mh.md5_value(
            F.array_join(F.array_sort(F.array("w1", "w2", "w3")), " ")
        ).alias("hs"),
    )
    # ONE doc-keyed pass emits both per-doc hashed sets as arrays
    # (the x77 r9 shape — the window above already partitions by
    # doc_id, so this groupBy reuses the exchange)
    per_doc = (
        sh.groupBy("doc_id")
        .agg(
            F.collect_set("ho").alias("os"),
            F.collect_set("hs").alias("ss"),
        )
        .transform(lazy_barrier)  # feeds candidates AND both verify sides
    )
    cands = mh.md5_banded_candidates(
        None,
        _X123_AB,
        n_bands=_X123_BANDS,
        val_arrays=per_doc.select("doc_id", F.col("ss").alias("vs")),
        size_ratio_threshold=_X123_J,
    )
    sa = per_doc.select(
        F.col("doc_id").alias("doc_a"),
        F.col("ss").alias("ss_a"),
        F.col("os").alias("os_a"),
    )
    sb = per_doc.select(
        F.col("doc_id").alias("doc_b"),
        F.col("ss").alias("ss_b"),
        F.col("os").alias("os_b"),
    )
    paired = cands.join(sa, "doc_a").join(sb, "doc_b")
    cs = F.size(F.array_intersect("ss_a", "ss_b"))
    co = F.size(F.array_intersect("os_a", "os_b"))
    scored = paired.select(
        "doc_a",
        "doc_b",
        cs.alias("cs"),
        co.alias("co"),
        (F.size("ss_a") + F.size("ss_b")).alias("nsp"),
        (F.size("os_a") + F.size("os_b")).alias("nop"),
    )
    js = F.col("cs").cast("double") / (F.col("nsp") - F.col("cs"))
    jo = F.col("co").cast("double") / (F.col("nop") - F.col("co"))
    return (
        scored.filter(js >= _X123_J)
        .select(
            "doc_a",
            "doc_b",
            r4(js).alias("sorted_jaccard"),
            r4(jo).alias("ordered_jaccard"),
            ((js >= _X123_J) & (jo < _X123_J)).alias("reordered_only"),
        )
        .orderBy("doc_a", "doc_b")
    )


# ---------------------------------------------------------------------------
# x133 — train/test SPLIT LEAKAGE via near-duplicates
# ---------------------------------------------------------------------------


@register(
    "x133_split_leakage",
    rf"""
    WITH {shingle_ctes()},
    {mh.md5_banded_candidates_sql(_MH_AB, _MH_BANDS)},
    {_X106_EST_SQL},
    splits AS (
        SELECT doc_id, {HASH_SPLIT_SQL} AS split FROM documents
    ),
    labeled AS (
        SELECT LEAST(sa.split, sb.split) AS split_lo,
               GREATEST(sa.split, sb.split) AS split_hi
        FROM est e
        JOIN splits sa ON e.doc_a = sa.doc_id
        JOIN splits sb ON e.doc_b = sb.doc_id
    )
    SELECT split_lo, split_hi,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           (split_lo <> split_hi) AS crosses_split
    FROM labeled
    GROUP BY split_lo, split_hi
    """,
    doc="EXT x133 — SPLIT-LEAKAGE audit: near-duplicate pairs (x8b's "
    "banded MinHash estimate at the corpus threshold) classified by "
    "which x17 train/val/test splits their members fall in — a "
    "cross-split near-dup IS evaluation leakage the exact-substring "
    "decontamination (x121) cannot see (paraphrase/boilerplate "
    "overlap survives chunk hashing but inflates eval scores all the "
    "same). The audit every corpus release runs BEFORE freezing a "
    "benchmark split; the standard remedy — split by dup-CLUSTER "
    "instead of by doc — is exactly x15's components, so this query "
    "is also the acceptance test for that fix. Shape: the one-scan "
    "banded candidate pipeline + two broadcast-sized split joins + a "
    "9-row hash-agg; split membership is md5-derived (engine-"
    "portable), pair orientation canonicalized LEAST/GREATEST so "
    "both engines land identical group keys.",
    tags=("ext", "dedup", "split", "eval"),
    late=True,
)
def x133_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    est = _md5_minhash_pairs(docs, JACCARD_MIN)
    splits = docs.select("doc_id", hash_split_col().alias("split"))
    sa = splits.select(
        F.col("doc_id").alias("doc_a"), F.col("split").alias("split_a")
    )
    sb = splits.select(
        F.col("doc_id").alias("doc_b"), F.col("split").alias("split_b")
    )
    labeled = est.join(sa, "doc_a").join(sb, "doc_b").select(
        F.least("split_a", "split_b").alias("split_lo"),
        F.greatest("split_a", "split_b").alias("split_hi"),
    )
    return labeled.groupBy("split_lo", "split_hi").agg(
        F.count("*").alias("n_pairs"),
        (F.col("split_lo") != F.col("split_hi")).alias("crosses_split"),
    )


# ---------------------------------------------------------------------------
# x134 — cluster-respecting split REMEDY (leakage-free by construction)
# ---------------------------------------------------------------------------


@register(
    "x134_cluster_split",
    rf"""
    WITH RECURSIVE {shingle_ctes()},
    {mh.md5_banded_candidates_sql(_MH_AB, _MH_BANDS)},
    {_X106_EST_SQL},
    pairs AS (SELECT doc_a, doc_b FROM est),
    {_COMPONENTS_SQL},
    splits AS (
        SELECT doc_id, {HASH_SPLIT_SQL} AS split FROM documents
    ),
    assigned AS (
        SELECT s.doc_id,
               COALESCE(cs.split, s.split) AS new_split,
               s.split AS own_split
        FROM splits s
        LEFT JOIN comp c ON s.doc_id = c.node
        LEFT JOIN splits cs ON cs.doc_id = c.component
    ),
    leaks AS (
        SELECT a.new_split AS split, COUNT(*) AS n
        FROM pairs p
        JOIN assigned a ON p.doc_a = a.doc_id
        JOIN assigned b ON p.doc_b = b.doc_id
                       AND a.new_split <> b.new_split
        GROUP BY 1
    )
    SELECT a.new_split AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN a.new_split <> a.own_split
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_moved,
           CAST(COALESCE(MIN(l.n), 0) AS BIGINT) AS cross_pairs_after
    FROM assigned a LEFT JOIN leaks l ON l.split = a.new_split
    GROUP BY a.new_split
    """,
    doc="EXT x134 — the REMEDY for x133's finding: split by near-dup "
    "CLUSTER, not by document. Every doc in an x15-style component "
    "(connected components over the same banded-MinHash pair "
    "estimate x133 audits) inherits the split of the cluster's "
    "min-id representative; singletons keep their own md5 split. "
    "Output per split: docs, how many MOVED relative to the naive "
    "per-doc split, and — the acceptance criterion carried IN the "
    "hash-checked result — the count of near-dup pairs still "
    "crossing splits, zero by construction (each pair's endpoints "
    "share a component, hence a representative, hence a split). "
    "x133 finds the leak, this closes it, the oracle proves both "
    "engines agree it is closed. Shape: one candidate pipeline + "
    "label-propagation components + two split joins against "
    "broadcast-sized relations; the recursive-CTE twin replays the "
    "components exactly.",
    tags=("ext", "dedup", "split", "eval"),
    late=True,
)
def x134_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup.components import connected_components

    docs = _docs(spark, sf_dir)
    pairs = _md5_minhash_pairs(docs, JACCARD_MIN).transform(lazy_barrier)
    comp = connected_components(pairs)
    splits = docs.select("doc_id", hash_split_col().alias("split"))
    rep_split = splits.select(
        F.col("doc_id").alias("component"),
        F.col("split").alias("rep_split"),
    )
    assigned = (
        splits.join(
            comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
        )
        .join(rep_split, "component", "left")
        .select(
            "doc_id",
            F.coalesce("rep_split", "split").alias("new_split"),
            F.col("split").alias("own_split"),
        )
        # r15: three consumers (both leak-join sides + the final mix
        # agg) — un-cut, the two md5-split scans + component joins ran
        # once per reference (static plan showed 12 doc scans)
        .transform(lazy_barrier)
    )
    a = assigned.select(
        F.col("doc_id").alias("doc_a"), F.col("new_split").alias("ns_a")
    )
    b = assigned.select(
        F.col("doc_id").alias("doc_b"), F.col("new_split").alias("ns_b")
    )
    leaks = (
        pairs.join(a, "doc_a")
        .join(b, "doc_b")
        .filter(F.col("ns_a") != F.col("ns_b"))
        .groupBy(F.col("ns_a").alias("new_split"))
        .agg(F.count("*").alias("n_leak"))
    )
    return (
        assigned.groupBy("new_split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                (F.col("new_split") != F.col("own_split")).cast("int")
            ).cast("bigint").alias("n_moved"),
        )
        .join(leaks, "new_split", "left")
        .select(
            F.col("new_split").alias("split"),
            "n_docs",
            "n_moved",
            F.coalesce("n_leak", F.lit(0)).cast("bigint").alias(
                "cross_pairs_after"
            ),
        )
    )


# ---------------------------------------------------------------------------
# x137 — dedup-aware source mixing budget (x28 recomputed post-dedup)
# ---------------------------------------------------------------------------


@register(
    "x137_dedup_aware_mix",
    rf"""
    WITH RECURSIVE {shingle_ctes()},
    {mh.md5_banded_candidates_sql(_MH_AB, _MH_BANDS)},
    {_X106_EST_SQL},
    pairs AS (SELECT doc_a, doc_b FROM est),
    {_COMPONENTS_SQL},
    toks AS (
        SELECT doc_id, source,
               len(string_split_regex(LOWER(TRIM(text)), '\s+'))
                   AS n_tokens
        FROM documents
    ),
    kept AS (
        SELECT t.* FROM toks t
        LEFT JOIN comp c ON t.doc_id = c.node
        WHERE c.node IS NULL OR c.component = t.doc_id
    ),
    before_s AS (
        SELECT source, COUNT(*) AS n_docs_before,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_before
        FROM toks GROUP BY source
    ),
    after_s AS (
        SELECT source, COUNT(*) AS n_docs_after,
               CAST(SUM(n_tokens) AS BIGINT) AS tokens_after
        FROM kept GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(tokens_after) AS DOUBLE) AS total_after,
               COUNT(*) AS n_sources
        FROM after_s
    )
    SELECT b.source,
           b.n_docs_before,
           CAST(COALESCE(a.n_docs_after, 0) AS BIGINT) AS n_docs_after,
           b.tokens_before,
           CAST(COALESCE(a.tokens_after, 0) AS BIGINT) AS tokens_after,
           {r4sql("1.0 - CAST(COALESCE(a.tokens_after, 0) AS DOUBLE)"
                  " / NULLIF(b.tokens_before, 0)")} AS removed_token_share,
           CASE WHEN COALESCE(a.tokens_after, 0) > 0
                THEN {r4sql("LEAST(CAST(2.0 AS DOUBLE),"
                            " (t.total_after / t.n_sources)"
                            " / a.tokens_after)")}
                ELSE 0.0 END AS mix_weight_after
    FROM before_s b
    LEFT JOIN after_s a ON b.source = a.source
    CROSS JOIN tot t
    """,
    doc="EXT x137 — DEDUP-AWARE source mixing budget, closing the "
    "loop x122 warned about: keep-one-per-cluster dedup silently "
    "shifts the source mix (the surviving copy's source inherits the "
    "tokens), so mixing weights computed on the RAW corpus (x28) are "
    "wrong after dedup. This recomputes per-source docs/tokens with "
    "near-dup clusters collapsed to their min-id representative "
    "(same est-pair components as x133/x134), reports each source's "
    "removed-token share, and re-derives x28's capped uniform-target "
    "mix weight on the post-dedup counts — the numbers a corpus "
    "assembly actually trains on. Shape: the shared one-scan "
    "candidate pipeline + components + two hash-aggs on source (a "
    "bounded key); the anti-join for survivors is a broadcast of the "
    "cluster membership (bounded by dup-cluster members, not the "
    "corpus).",
    tags=("ext", "dedup", "pipeline"),
    late=True,
)
def x137_dedup_aware_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup.components import connected_components
    from server_spark.textstats import analysis as tx

    docs = _docs(spark, sf_dir)
    pairs = _md5_minhash_pairs(docs, JACCARD_MIN).transform(lazy_barrier)
    comp = connected_components(pairs)
    # r15: toks feeds the kept-filter AND the before-mix aggregate (and
    # via kept, the after-mix) — un-cut, the scan + token_count split
    # ran once per reference
    toks = docs.select(
        "doc_id", "source", tx.token_count().alias("n_tokens")
    ).transform(lazy_barrier)
    kept = (
        toks.join(
            comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
        )
        .filter(
            F.col("component").isNull()
            | (F.col("component") == F.col("doc_id"))
        )
        .drop("component")
    )
    before_s = toks.groupBy("source").agg(
        F.count("*").alias("n_docs_before"),
        F.sum("n_tokens").cast("bigint").alias("tokens_before"),
    )
    after_s = kept.groupBy("source").agg(
        F.count("*").alias("n_docs_after"),
        F.sum("n_tokens").cast("bigint").alias("tokens_after"),
    )
    tot = after_s.agg(
        F.sum("tokens_after").cast("double").alias("total_after"),
        F.count("*").alias("n_sources"),
    )
    # LEFT join + zero-fill: a source whose EVERY document was removed
    # by dedup (100% syndicated copies of another source) is the single
    # most important row in this accountability report — an inner join
    # silently dropped it (r11 review finding). Its removed share reads
    # 1.0 and its mix weight is pinned 0.0 (nothing left to sample) on
    # both engines.
    ta = F.coalesce(F.col("tokens_after"), F.lit(0).cast("bigint"))
    return (
        before_s.join(after_s, "source", "left")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs_before",
            F.coalesce(F.col("n_docs_after"), F.lit(0).cast("bigint"))
            .alias("n_docs_after"),
            "tokens_before",
            ta.alias("tokens_after"),
            r4(
                1.0
                - F.try_divide(
                    ta.cast("double"), F.col("tokens_before")
                )
            ).alias("removed_token_share"),
            F.when(
                ta > 0,
                r4(
                    F.least(
                        F.lit(2.0),
                        (F.col("total_after") / F.col("n_sources"))
                        / F.col("tokens_after"),
                    )
                ),
            )
            .otherwise(0.0)
            .alias("mix_weight_after"),
        )
    )
