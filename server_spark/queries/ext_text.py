"""EXT text-analysis family: quality metrics, language ID,
fingerprinting, token counting, vocabulary, repetition, PII scrub,
TF-IDF (SURVEY.md §2 row D4, §7.4).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from server_spark.barrier import barrier, lazy_barrier

from server_spark.parity import r4, r4sql
from server_spark.queries.ext_common import (
    fan_out,
    IS_TRAIN_SQL,
    _docs,
    is_train_col,
    shingle_ctes,
)
from server_spark.registry import register
from server_spark.textstats import analysis as tx
from server_spark.textstats import pii

# ---------------------------------------------------------------------------
# x4 — text quality metrics
# ---------------------------------------------------------------------------


@register(
    "x4_text_quality",
    r"""
    SELECT doc_id,
           LENGTH(text) AS n_chars_m,
           len(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tokens,
           CAST(LENGTH(regexp_replace(text, '[^\s]', '', 'g'))
                AS DOUBLE) / NULLIF(LENGTH(text), 0) AS space_ratio,
           CAST(LENGTH(regexp_replace(LOWER(text), '[^a-z]', '', 'g'))
                AS DOUBLE) / NULLIF(LENGTH(text), 0) AS alpha_ratio
    FROM documents
    """,
    doc="EXT x4 — per-document quality features (length, token count, "
    "whitespace/alpha ratios): C4/Gopher-style pre-filters as pure "
    "narrow maps.",
    tags=("ext", "textstats"),
)
def x4_text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = F.col("text")
    n_chars = F.length(t)
    n_space = F.length(F.regexp_replace(t, r"[^\s]", ""))
    n_alpha = F.length(F.regexp_replace(F.lower(t), r"[^a-z]", ""))
    # try_divide ↔ NULLIF(...,0) in the oracle: one empty document
    # must yield NULL ratios, not abort the scan under Spark 4's
    # default ANSI mode (same class as the quality_metrics r11 fix)
    return _docs(spark, sf_dir).select(
        "doc_id",
        n_chars.alias("n_chars_m"),
        tx.token_count().alias("n_tokens"),
        F.try_divide(n_space.cast("double"), n_chars).alias("space_ratio"),
        F.try_divide(n_alpha.cast("double"), n_chars).alias("alpha_ratio"),
    )


# ---------------------------------------------------------------------------
# x5 — language-ID heuristic
# ---------------------------------------------------------------------------

_MARKER_SQL = {
    lang: ", ".join(f"'{m}'" for m in markers)
    for lang, markers in tx.LANG_MARKERS.items()
}

_X5_SQL = rf"""
    WITH c AS (
        SELECT doc_id, lang,
               len(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                   x -> x IN ({_MARKER_SQL['de']}))) AS c_de,
               len(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                   x -> x IN ({_MARKER_SQL['en']}))) AS c_en,
               len(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                   x -> x IN ({_MARKER_SQL['es']}))) AS c_es,
               len(list_filter(string_split_regex(LOWER(TRIM(text)), '\s+'),
                   x -> x IN ({_MARKER_SQL['fr']}))) AS c_fr
        FROM documents
    )
    SELECT doc_id, lang AS tagged_lang,
           CASE WHEN GREATEST(c_de, c_en, c_es, c_fr) <= 0 THEN 'und'
                WHEN c_de = GREATEST(c_de, c_en, c_es, c_fr) THEN 'de'
                WHEN c_en = GREATEST(c_de, c_en, c_es, c_fr) THEN 'en'
                WHEN c_es = GREATEST(c_de, c_en, c_es, c_fr) THEN 'es'
                ELSE 'fr' END AS guessed_lang
    FROM c
"""


@register(
    "x5_langid_heuristic",
    _X5_SQL,
    doc="EXT x5 — stopword-vote language ID (n-gram-heuristic class); "
    "deterministic alphabetical tie-break, 'und' when no markers hit.",
    tags=("ext", "textstats"),
)
def x5_langid_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.col("lang").alias("tagged_lang"),
        tx.langid_heuristic().alias("guessed_lang"),
    )


# ---------------------------------------------------------------------------
# x6 — document fingerprint; x7 — token counting
# ---------------------------------------------------------------------------


@register(
    "x6_doc_fingerprint",
    r"""
    SELECT doc_id,
           md5(regexp_replace(LOWER(TRIM(text)), '\s+', ' ', 'g'))
               AS fingerprint
    FROM documents
    """,
    doc="EXT x6 — content fingerprint (md5 of normalized text); the "
    "SimHash variant is x9 (rows-only).",
    tags=("ext", "textstats"),
)
def x6_doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select("doc_id", tx.fingerprint().alias("fingerprint"))


@register(
    "x7_token_counts",
    rf"""
    SELECT doc_id,
           len(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_ws_tokens,
           len(regexp_extract_all(LOWER(text), '{tx.TOKEN_REGEX}'))
               AS n_bpe_tokens
    FROM documents
    """,
    doc="EXT x7 — token counting: whitespace tokens and BPE-ish "
    "pre-tokenizer regex tokens per document.",
    tags=("ext", "textstats"),
)
def x7_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _docs(spark, sf_dir).select(
        "doc_id",
        tx.token_count().alias("n_ws_tokens"),
        tx.bpe_token_count().alias("n_bpe_tokens"),
    )


# ---------------------------------------------------------------------------
# x23 — vocabulary build (top-K token frequencies)
# ---------------------------------------------------------------------------

VOCAB_K = 100


@register(
    "x23_vocab_topk",
    rf"""
    WITH toks AS (
        SELECT UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token,
               doc_id
        FROM documents
    ),
    counts AS (
        SELECT token,
               COUNT(*) AS n_occurrences,
               COUNT(DISTINCT doc_id) AS n_docs
        FROM toks GROUP BY token
    )
    SELECT token, n_occurrences, n_docs, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (
            ORDER BY n_occurrences DESC, token
        ) AS rnk
        FROM counts
    ) WHERE rnk <= {VOCAB_K}
    """,
    doc="EXT x23 — vocabulary build: corpus-wide token frequencies "
    "(occurrences + document frequency) with deterministic top-K — "
    "the tokenizer-training / stopword-derivation pass. One explode + "
    "one hash-agg; the top-K is orderBy().limit(K) which plans as "
    "TakeOrderedAndProject (per-partition heaps, never a global "
    "sort); the rank window runs AFTER the limit, over K rows only.",
    tags=("ext", "textstats", "vocab"),
    late=True,
)
def x23_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    )
    counts = toks.groupBy("token").agg(
        F.count("*").alias("n_occurrences"),
        F.countDistinct("doc_id").alias("n_docs"),
    )
    order = [F.col("n_occurrences").desc(), F.col("token")]
    top = counts.orderBy(*order).limit(VOCAB_K)
    # rnk derived post-limit: this window sorts VOCAB_K rows, not the
    # vocabulary — the full-relation order is settled by TakeOrdered.
    from server_spark.operators.windows import pinned_single_group

    return top.withColumn(
        "rnk",
        # pinned single group: bounded window (K rows post-limit),
        # not a data sort
        F.row_number().over(
            Window.partitionBy(pinned_single_group("n_occurrences"))
            .orderBy(*order)
        ),
    )


# ---------------------------------------------------------------------------
# x25 — intra-document repetition ratio (Gopher-style quality signal)
# ---------------------------------------------------------------------------


@register(
    "x25_repetition_ratio",
    rf"""
    WITH {shingle_ctes(distinct=False)},
    per_doc AS (
        SELECT doc_id,
               COUNT(*) AS n_shingles,
               COUNT(DISTINCT shingle) AS n_distinct
        FROM sh GROUP BY doc_id
    )
    SELECT doc_id, n_shingles, n_distinct,
           {r4sql("1.0 - CAST(n_distinct AS DOUBLE) / n_shingles")}
               AS repetition_ratio
    FROM per_doc
    """,
    doc="EXT x25 — intra-document repetition: fraction of word-3-gram "
    "occurrences that are repeats (1 − distinct/total), the Gopher "
    "duplicate-n-gram quality rule that catches boilerplate and "
    "degenerate loops. One explode + one two-level agg per doc; "
    "composes into the x18/x21 gate as another keep/drop rule.",
    tags=("ext", "textstats", "quality"),
    late=True,
)
def x25_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    # MEASURED (round 5, SCALE.md): narrow-map gram build over a
    # PROJECTED words column + explode is 0.85 s at sf0.1 — the round-4
    # "10 s generator re-evaluation" pathology was specific to a
    # builder referencing the INLINE split (lambda-CSE); with `_w`
    # projected first the explode is healthy, no barrier needed. This
    # form drops the posexplode+LEAD window's per-doc sort AND its
    # full word-stream shuffle: the only shuffle left is the groupBy's
    # partially-aggregated (doc_id, shingle) stream — the better
    # 100 TB shape.
    from server_spark.dedup.ngram import shingle_array, split_words

    arr = fan_out(_docs(spark, sf_dir)).select(
        "doc_id", split_words("text").alias("_w")
    )
    shingled = arr.select(
        "doc_id",
        F.explode(shingle_array("_w", 3, distinct=False)).alias("shingle"),
    )
    per_doc = shingled.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.countDistinct("shingle").alias("n_distinct"),
    )
    return per_doc.select(
        "doc_id",
        "n_shingles",
        "n_distinct",
        r4(
            1.0 - F.col("n_distinct").cast("double") / F.col("n_shingles")
        ).alias("repetition_ratio"),
    )


# ---------------------------------------------------------------------------
# x26 — PII scrub (email / phone / IPv4 detection + redaction)
# ---------------------------------------------------------------------------

# The synthetic corpus is PII-free, so the query plants deterministic
# PII derived from doc_id — identically in both engines — and then
# detects/redacts it with the generic scrubber. The scrubber itself
# (textstats/pii.py) takes ANY text column.
_X26_AUG_SQL = r"""text
        || CASE WHEN doc_id % 3 = 0
                THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
                ELSE '' END
        || CASE WHEN doc_id % 5 = 0
                THEN ' call 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
                     || '-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END
        || CASE WHEN doc_id % 7 = 0
                THEN ' from 10.' || CAST(doc_id % 200 AS VARCHAR)
                     || '.' || CAST(doc_id % 250 AS VARCHAR)
                     || '.' || CAST(doc_id % 100 AS VARCHAR)
                ELSE '' END"""


@register(
    "x26_pii_scrub",
    rf"""
    WITH aug AS (
        SELECT doc_id, {_X26_AUG_SQL} AS t
        FROM documents
    ),
    scrubbed AS (
        SELECT doc_id, t,
               regexp_replace(regexp_replace(regexp_replace(t,
                   '{pii.EMAIL_RE}', '<EMAIL>', 'g'),
                   '{pii.IPV4_RE}', '<IP>', 'g'),
                   '{pii.PHONE_RE}', '<PHONE>', 'g') AS clean
        FROM aug
    )
    SELECT doc_id,
           len(regexp_extract_all(t, '{pii.EMAIL_RE}')) AS n_emails,
           len(regexp_extract_all(t, '{pii.IPV4_RE}')) AS n_ips,
           len(regexp_extract_all(t, '{pii.PHONE_RE}')) AS n_phones,
           CAST(LENGTH(t) - LENGTH(clean) AS BIGINT) AS n_chars_delta,
           md5(clean) AS clean_hash
    FROM scrubbed
    """,
    doc="EXT x26 — PII detection + redaction (C4-style scrub): emails, "
    "phone numbers, IPv4 addresses matched with Java/RE2-portable "
    "patterns, redacted to <TYPE> tokens in a fixed order. Pure "
    "narrow map (regexp built-ins, whole-stage codegen, no shuffle) — "
    "at 100 TB this runs at scan speed. The corpus is synthetic and "
    "PII-free, so deterministic doc_id-derived PII is planted "
    "identically in both engines before scrubbing.",
    tags=("ext", "textstats", "pii"),
    late=True,
)
def x26_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    did = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(
            did % 3 == 0,
            F.concat(
                F.lit(" contact user"), did.cast("string"), F.lit("@example.com")
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 5 == 0,
            F.concat(
                F.lit(" call 555-"),
                F.lpad((did % 1000).cast("string"), 3, "0"),
                F.lit("-"),
                F.lpad((did % 10000).cast("string"), 4, "0"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            did % 7 == 0,
            F.concat(
                F.lit(" from 10."),
                (did % 200).cast("string"),
                F.lit("."),
                (did % 250).cast("string"),
                F.lit("."),
                (did % 100).cast("string"),
            ),
        ).otherwise(F.lit("")),
    )
    with_aug = _docs(spark, sf_dir).select("doc_id", aug.alias("t"))
    clean = pii.scrub("t")
    return with_aug.select(
        "doc_id",
        pii.match_count("t", pii.EMAIL_RE).alias("n_emails"),
        pii.match_count("t", pii.IPV4_RE).alias("n_ips"),
        pii.match_count("t", pii.PHONE_RE).alias("n_phones"),
        (F.length("t") - F.length(clean)).cast("long").alias("n_chars_delta"),
        F.md5(clean).alias("clean_hash"),
    )


# ---------------------------------------------------------------------------
# x30 — TF-IDF top terms per document
# ---------------------------------------------------------------------------

TFIDF_K = 5


@register(
    "x30_tfidf_topterms",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    pairs AS (
        SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2
    ),
    dfreq AS (SELECT token, COUNT(*) AS dfq FROM pairs GROUP BY token),
    n AS (SELECT COUNT(*) AS n_docs FROM documents),
    scored AS (
        SELECT p.doc_id, p.token, p.tf,
               {r4sql("p.tf * (LN((1.0 + n.n_docs) / (1.0 + d.dfq)) + 1.0)")}
                   AS tfidf
        FROM pairs p JOIN dfreq d ON p.token = d.token CROSS JOIN n
    )
    SELECT doc_id, token, tf, tfidf, rnk FROM (
        SELECT *, ROW_NUMBER() OVER (
            PARTITION BY doc_id ORDER BY tfidf DESC, token
        ) AS rnk
        FROM scored
    ) WHERE rnk <= {TFIDF_K}
    """,
    doc="EXT x30 — TF-IDF: smooth-idf (sklearn form, ln((1+N)/(1+df)) "
    "+ 1) term weights, top-5 terms per document with the rounded-"
    "score + token tiebreak rank (ranking on rounded values keeps "
    "the result engine-stable even if ln() differs in the last ulp). "
    "The doc-frequency table derives from the (doc, token) pair agg — "
    "one explode feeds everything, the pair relation is materialized "
    "once and the df side broadcasts (vocab-sized).",
    tags=("ext", "textstats", "tfidf"),
    late=True,
)
def x30_tfidf_topterms(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    )
    # referenced by the scoring join AND the doc-frequency agg
    pairs = (
        toks.groupBy("doc_id", "token")
        .agg(F.count("*").alias("tf"))
        .transform(lazy_barrier)
    )
    dfreq = pairs.groupBy("token").agg(F.count("*").alias("dfq"))
    n = docs.agg(F.count("*").alias("n_docs"))
    scored = (
        pairs.join(F.broadcast(dfreq), "token")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "token",
            "tf",
            r4(
                F.col("tf")
                * (
                    F.log(
                        (1.0 + F.col("n_docs")) / (1.0 + F.col("dfq"))
                    )
                    + 1.0
                )
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("token")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= TFIDF_K)
        .select("doc_id", "token", "tf", "tfidf", "rnk")
    )


# ---------------------------------------------------------------------------
# x33 — corpus-LM quality score (average unigram log-probability)
# ---------------------------------------------------------------------------


@register(
    "x33_unigram_logprob",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    n AS (SELECT COUNT(*) AS total FROM toks)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           {r4sql("AVG(LN(CAST(f.cnt AS DOUBLE) / n.total))")} AS avg_logprob
    FROM toks t JOIN freq f ON t.token = f.token CROSS JOIN n
    GROUP BY t.doc_id
    """,
    doc="EXT x33 — corpus-LM quality score: each document's average "
    "unigram log-probability under the corpus's own token "
    "distribution — the cheap proxy for perplexity-based quality "
    "filtering (a KenLM gate's unigram limit): gibberish and "
    "vocabulary-flooding docs score far below fluent text. No "
    "smoothing needed — every scored token exists in the corpus by "
    "construction. Shape: one explode feeds both the frequency table "
    "and the scoring join; the UNIGRAM vocab grows as Heaps' law "
    "(~N^0.5, sublinear) so broadcasting it is deliberate — it spares "
    "the giant token stream a shuffle. Unlike x62's bigram TYPE table "
    "(near-linear growth, hint removed there), this hint survives "
    "100×; if vocab ever approached the broadcast limit the fix is "
    "the same: drop the hint and let AQE choose.",
    tags=("ext", "textstats", "quality"),
    late=True,
)
def x33_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).transform(lazy_barrier)  # feeds freq, total AND the scoring join
    freq = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = toks.agg(F.count("*").alias("total"))
    return (
        toks.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            r4(
                F.avg(F.log(F.col("cnt").cast("double") / F.col("total")))
            ).alias("avg_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# x34 — n-gram novelty (fraction of a doc's shingles unique to it)
# ---------------------------------------------------------------------------


@register(
    "x34_ngram_novelty",
    rf"""
    WITH {shingle_ctes()},
    with_df AS (
        SELECT doc_id, shingle,
               COUNT(*) OVER (PARTITION BY shingle) AS df
        FROM sh
    )
    SELECT doc_id,
           COUNT(*) AS n_shingles,
           CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unique,
           {r4sql("CAST(SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS DOUBLE)"
                  " / COUNT(*)")} AS novelty_ratio
    FROM with_df
    GROUP BY doc_id
    """,
    doc="EXT x34 — n-gram NOVELTY: per document, the fraction of its "
    "word-3-grams that appear in NO other document — the inverse of "
    "boilerplate/template share (complements x25, which measures "
    "repetition WITHIN a doc). Shingles are distinct per doc, so "
    "document frequency is a plain count per shingle. Shape: df via "
    "groupBy(shingle) then a join back — deliberately NOT a window "
    "over the shingle partition: a hot shingle would funnel into one "
    "unsplittable window task, while AQE's skew handling CAN split a "
    "skewed join (the oracle keeps the window form; identical "
    "values). The map-side combine also shrinks the df relation "
    "before it shuffles.",
    tags=("ext", "textstats", "quality"),
    late=True,
)
def x34_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup import ngram as ng

    # referenced by the df aggregation AND the join back
    sh = ng.word_shingles(_docs(spark, sf_dir), n=3).transform(lazy_barrier)
    dfreq = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    with_df = sh.join(dfreq, "shingle")
    uniq = F.sum((F.col("df") == 1).cast("int"))
    return with_df.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        uniq.cast("long").alias("n_unique"),
        r4(uniq.cast("double") / F.count("*")).alias("novelty_ratio"),
    )


# ---------------------------------------------------------------------------
# x36 — tokenizer ENCODE (vocab-id sequences with UNK)
# ---------------------------------------------------------------------------

ENCODE_VOCAB = 200  # id space: 1..ENCODE_VOCAB by corpus frequency, 0 = UNK


@register(
    "x36_tokenizer_encode",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               generate_subscripts(string_split_regex(LOWER(TRIM(text)), '\s+'), 1) AS pos,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    counts AS (
        SELECT token, COUNT(*) AS n_occ FROM toks GROUP BY token
    ),
    vocab AS (
        SELECT token, ROW_NUMBER() OVER (ORDER BY n_occ DESC, token) AS tok_id
        FROM counts
        ORDER BY n_occ DESC, token
        LIMIT {ENCODE_VOCAB}
    )
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN v.tok_id IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_unk,
           array_to_string(list(COALESCE(v.tok_id, 0) ORDER BY t.pos), ',')
               AS ids_csv
    FROM toks t LEFT JOIN vocab v ON t.token = v.token
    GROUP BY t.doc_id
    """,
    doc="EXT x36 — tokenizer ENCODE: map every document to its "
    "vocab-id sequence (ids by corpus frequency rank, 0 = UNK for "
    "out-of-vocab) — the apply step after the x23 vocabulary build, "
    "i.e. what turns cleaned text into model-ready token ids. Shape: "
    "one posexplode, the vocab is a TakeOrdered top-K broadcast to "
    "the token stream, sequences reassembled with an order-preserving "
    "sorted collect (canonical csv for the oracle comparison).",
    tags=("ext", "textstats", "tokenize"),
    late=True,
)
def x36_tokenizer_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.operators.windows import pinned_single_group

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.posexplode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "pos", "token"
        ),
    ).transform(lazy_barrier)  # feeds the vocab build AND the encode join
    counts = toks.groupBy("token").agg(F.count("*").alias("n_occ"))
    order = [F.col("n_occ").desc(), F.col("token")]
    vocab = (
        counts.orderBy(*order)
        .limit(ENCODE_VOCAB)
        .withColumn(
            "tok_id",
            # bounded window: ENCODE_VOCAB rows post-limit
            F.row_number().over(
                Window.partitionBy(pinned_single_group("n_occ")).orderBy(*order)
            ),
        )
        .select("token", "tok_id")
    )
    encoded = toks.join(F.broadcast(vocab), "token", "left").select(
        "doc_id", "pos", F.coalesce("tok_id", F.lit(0)).alias("tok_id")
    )
    return encoded.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum((F.col("tok_id") == 0).cast("int")).cast("long").alias("n_unk"),
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok_id"))),
                lambda s: s["tok_id"].cast("string"),
            ),
            ",",
        ).alias("ids_csv"),
    )


# ---------------------------------------------------------------------------
# x40 — the MASTER quality gate (all signals composed, one verdict)
# ---------------------------------------------------------------------------

REP_MAX = 0.2       # x25 rule: >20% repeated 3-gram occurrences
LP_TAIL_PCT = 5     # drop the bottom 5% by corpus-LM score


@register(
    "x40_quality_master",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    nt AS (SELECT COUNT(*) AS total FROM toks),
    lp AS (
        SELECT t.doc_id,
               {r4sql("AVG(LN(CAST(f.cnt AS DOUBLE) / nt.total))")}
                   AS avg_logprob
        FROM toks t JOIN freq f ON t.token = f.token CROSS JOIN nt
        GROUP BY t.doc_id
    ),
    gh AS (
        SELECT CAST(FLOOR(avg_logprob * 100) AS BIGINT) AS g, COUNT(*) AS n
        FROM lp GROUP BY 1
    ),
    cumg AS (SELECT g, SUM(n) OVER (ORDER BY g) AS c FROM gh),
    ntot AS (SELECT COUNT(*) AS n_docs FROM lp),
    cut AS (
        SELECT MAX(CASE WHEN c * 100 <= t.n_docs * {LP_TAIL_PCT}
                        THEN g END) AS gcut
        FROM cumg CROSS JOIN ntot t
    ),
    {shingle_ctes(distinct=False)},
    rep AS (
        SELECT doc_id,
               COUNT(*) AS n_sh,
               COUNT(DISTINCT shingle) AS n_di
        FROM sh GROUP BY doc_id
    ),
    m AS (
        SELECT d.doc_id,
               len(string_split_regex(LOWER(TRIM(d.text)), '\s+')) AS n_tokens,
               CAST(LENGTH(regexp_replace(LOWER(d.text), '[^a-z]', '', 'g'))
                    AS DOUBLE) / NULLIF(LENGTH(d.text), 0) AS alpha_ratio,
               COALESCE({r4sql("1.0 - CAST(r.n_di AS DOUBLE) / r.n_sh")}, 0.0)
                   AS repetition_ratio,
               l.avg_logprob,
               COALESCE(CAST(FLOOR(l.avg_logprob * 100) AS BIGINT)
                        <= cut.gcut, FALSE) AS in_lp_tail
        FROM documents d
        LEFT JOIN rep r ON d.doc_id = r.doc_id
        JOIN lp l ON d.doc_id = l.doc_id
        CROSS JOIN cut
    )
    SELECT doc_id, n_tokens, repetition_ratio, avg_logprob,
           CASE WHEN n_tokens < 10 THEN 'too_short'
                WHEN n_tokens > 5000 THEN 'too_long'
                WHEN alpha_ratio < 0.55 THEN 'low_alpha'
                WHEN repetition_ratio > {REP_MAX} THEN 'repetitive'
                WHEN in_lp_tail THEN 'low_logprob'
                ELSE 'keep' END AS verdict,
           (n_tokens >= 10 AND n_tokens <= 5000 AND alpha_ratio >= 0.55
            AND repetition_ratio <= {REP_MAX} AND NOT in_lp_tail) AS keep
    FROM m
    """,
    doc="EXT x40 — the MASTER quality gate: every quality signal "
    "composed into one verdict per document — length + alpha rules "
    "(x18), duplicate-3-gram repetition (x25), and a RELATIVE "
    "corpus-LM floor (x33's score; bottom-5% dropped on a FIXED "
    "0.01-wide score grid — exact integer arithmetic over grid "
    "cells, a cell is dropped only if entirely inside the tail). "
    "First failed rule is the verdict. Spark shape (r8): repetition "
    "is a pure NARROW map (gram array vs array_distinct — no explode "
    "at all); the LM score is one explode + broadcast vocab join; "
    "the tail rule cumsums a BOUNDED grid histogram (≲4k cells for "
    "any corpus, the DDSketch log-bucket pattern) and reduces it to "
    "ONE scalar cutoff row — no per-distinct-score table broadcast, "
    "no window over an unbounded relation.",
    tags=("ext", "textstats", "quality", "pipeline"),
    late=True,
)
def x40_quality_master(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup.ngram import split_words

    docs = _docs(spark, sf_dir)

    # corpus-LM score (x33 shape). Both shared relations are
    # materialized eagerly, as in ext_dedup._gated_edges: each feeds
    # concurrently running consumer stages, and a lazy checkpoint's
    # lineage is truncated when the first of them ends, so the others'
    # SQL metric updates reach accumulators the driver has already
    # dropped (``non-existent accumulator``). Each lazy one dropped
    # updates on its own when x40 ran repeatedly in one session.
    toks = docs.select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("token"),
    ).transform(barrier)
    freq = toks.groupBy("token").agg(F.count("*").alias("cnt"))
    total = toks.agg(F.count("*").alias("total"))
    lp = (
        toks.join(F.broadcast(freq), "token")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            r4(
                F.avg(F.log(F.col("cnt").cast("double") / F.col("total")))
            ).alias("avg_logprob")
        )
        .transform(barrier)  # feeds the histogram AND the doc join
    )
    # Tail rule on a FIXED 0.01-wide grid (the DDSketch log-bucket
    # pattern): the grid histogram is BOUNDED by the score range /
    # 0.01 (≲4k cells for any corpus — avg_logprob ≥ ln(1/total
    # tokens)), so the cumsum window runs over a bounded table and the
    # threshold collapses to ONE scalar row instead of a per-distinct-
    # score table broadcast (which grew near-linearly with the corpus).
    # FLOOR of the r4-canonical score is engine-identical.
    gh = lp.groupBy(
        F.floor(F.col("avg_logprob") * 100).cast("bigint").alias("g")
    ).agg(F.count("*").alias("n"))
    from server_spark.operators.windows import pinned_single_group

    wcum = (
        Window.partitionBy(pinned_single_group("n"))
        .orderBy("g")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cumg = gh.select("g", F.sum("n").over(wcum).alias("c"))
    ntot = lp.agg(F.count("*").alias("n_docs"))
    cut = (
        cumg.crossJoin(F.broadcast(ntot))
        .agg(
            F.max(
                F.when(
                    F.col("c") * 100 <= F.col("n_docs") * LP_TAIL_PCT,
                    F.col("g"),
                )
            ).alias("gcut")
        )
    )

    # narrow-map metrics: tokens, alpha, repetition (gram array vs
    # its distinct form — no explode). Shingles come from the ONE
    # shared n-gram kernel (an inline copy here re-opened the
    # short-doc drift class the shared kernel already closed — r11
    # review finding), and both divisions are try_divide so a
    # sub-3-word or empty doc yields the coalesced default instead of
    # aborting the gate under ANSI mode.
    from server_spark.dedup.ngram import shingle_array

    words = fan_out(docs).select(
        "doc_id", "text", split_words("text").alias("_w")
    )
    n = F.size("_w")
    grams = shingle_array("_w", 3, distinct=False)
    metrics = words.select(
        "doc_id",
        n.alias("n_tokens"),
        F.try_divide(
            F.length(F.regexp_replace(F.lower("text"), r"[^a-z]", "")).cast(
                "double"
            ),
            F.length("text"),
        ).alias("alpha_ratio"),
        F.coalesce(
            r4(
                1.0
                - F.try_divide(
                    F.size(F.array_distinct(grams)).cast("double"),
                    F.size(grams),
                )
            ),
            F.lit(0.0),
        ).alias("repetition_ratio"),
    )

    # `cut` is ONE row — a scalar broadcast, safe at any corpus size
    m = (
        metrics.join(lp, "doc_id")
        .crossJoin(F.broadcast(cut))
        .withColumn(
            "in_lp_tail",
            F.coalesce(
                F.floor(F.col("avg_logprob") * 100).cast("bigint")
                <= F.col("gcut"),
                F.lit(False),
            ),
        )
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "repetition_ratio",
        "avg_logprob",
        F.when(F.col("n_tokens") < 10, "too_short")
        .when(F.col("n_tokens") > 5000, "too_long")
        .when(F.col("alpha_ratio") < 0.55, "low_alpha")
        .when(F.col("repetition_ratio") > REP_MAX, "repetitive")
        .when(F.col("in_lp_tail"), "low_logprob")
        .otherwise("keep")
        .alias("verdict"),
        (
            (F.col("n_tokens") >= 10)
            & (F.col("n_tokens") <= 5000)
            & (F.col("alpha_ratio") >= 0.55)
            & (F.col("repetition_ratio") <= REP_MAX)
            & ~F.col("in_lp_tail")
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# x43 — cross-document repeated-span inventory (exact-substring dedup)
# ---------------------------------------------------------------------------

# span granularity: Lee et al. use 50 BPE tokens; 6 words keeps spans
# meaningful on the short synthetic docs while exercising the
# identical plan shape. Single source of truth: dedup/spans.py.
from server_spark.dedup.spans import SPAN_MIN_DOCS, SPAN_WORDS  # noqa: E402


@register(
    "x43_repeated_spans",
    rf"""
    WITH w AS (
        SELECT doc_id,
               generate_subscripts(string_split_regex(LOWER(TRIM(text)), '\s+'), 1) AS pos,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS word
        FROM documents
    ),
    sp0 AS (
        SELECT doc_id, pos,
               word || ' ' || LEAD(word,1) OVER win || ' ' || LEAD(word,2) OVER win
                    || ' ' || LEAD(word,3) OVER win || ' ' || LEAD(word,4) OVER win
                    || ' ' || LEAD(word,5) OVER win AS span,
               LEAD(word,5) OVER win AS lastw
        FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sp AS (SELECT doc_id, span FROM sp0 WHERE lastw IS NOT NULL),
    inv AS (
        SELECT span, COUNT(DISTINCT doc_id) AS n_docs,
               COUNT(*) AS n_occurrences, MIN(doc_id) AS first_doc_id
        FROM sp GROUP BY span
    )
    SELECT span, n_docs, n_occurrences, first_doc_id
    FROM inv WHERE n_docs >= {SPAN_MIN_DOCS}
    """,
    doc="EXT x43 — cross-document repeated-span INVENTORY, the removal-"
    "target list of exact-substring dedup (Lee et al. 2022, "
    "'Deduplicating Training Data Makes Language Models Better'): "
    "every word-6-gram span occurring in >= 2 distinct documents, with "
    "its document frequency, total occurrences, and the canonical "
    "first document. Distinct from x25 (within-doc repetition "
    "aggregate) and x34 (per-doc novelty aggregate): this outputs the "
    "SPANS themselves — the artifact a scrub pass consumes to cut "
    "duplicated text while keeping one occurrence. Shape: one "
    "per-doc-partitioned window builds rolling spans (no self-join), "
    "one groupBy(span) with map-side combine builds the inventory; "
    "the >= 2-doc filter drops the long unique tail BEFORE any further "
    "join. At 100 TB the group key becomes a span hash (xxhash64) so "
    "the shuffle carries 8 bytes instead of the text, and the "
    "suffix-array construction of the paper is approximated by "
    "exactly this rolling-k-gram pass — integer/string outputs only, "
    "no float rounding to disagree on.",
    tags=("ext", "textstats", "dedup"),
    late=True,
)
def x43_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    # library op (dedup/spans.py): span generation is a pure NARROW
    # map over the split array — the oracle keeps the window form
    # (identical values), but the Spark plan has NO doc_id shuffle
    # before the inventory groupBy
    from server_spark.dedup.spans import repeated_span_inventory

    return repeated_span_inventory(
        _docs(spark, sf_dir), n=SPAN_WORDS, min_docs=SPAN_MIN_DOCS
    )


# ---------------------------------------------------------------------------
# x44 — repeated-span SCRUB (the exact-substring dedup transform)
# ---------------------------------------------------------------------------


@register(
    "x44_span_scrub",
    rf"""
    WITH w AS (
        SELECT doc_id,
               generate_subscripts(string_split_regex(LOWER(TRIM(text)), '\s+'), 1) AS pos,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS word
        FROM documents
    ),
    sp0 AS (
        SELECT doc_id, pos,
               word || ' ' || LEAD(word,1) OVER win || ' ' || LEAD(word,2) OVER win
                    || ' ' || LEAD(word,3) OVER win || ' ' || LEAD(word,4) OVER win
                    || ' ' || LEAD(word,5) OVER win AS span,
               LEAD(word,5) OVER win AS lastw
        FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sp AS (SELECT doc_id, pos, span FROM sp0 WHERE lastw IS NOT NULL),
    inv AS (SELECT span FROM sp GROUP BY span
            HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}),
    occ AS (
        SELECT s.doc_id, s.pos,
               ROW_NUMBER() OVER (PARTITION BY s.span ORDER BY s.doc_id, s.pos) AS rn
        FROM sp s JOIN inv USING (span)
    ),
    cov AS (
        SELECT DISTINCT occ.doc_id, occ.pos + t.d AS cpos
        FROM occ CROSS JOIN (FROM range({SPAN_WORDS}) r(d)) t
        WHERE occ.rn > 1
    ),
    kept AS (
        SELECT w.doc_id, w.pos, w.word
        FROM w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.cpos
        WHERE cov.cpos IS NULL
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               md5(string_agg(word, ' ' ORDER BY pos)) AS clean_hash
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           len(string_split_regex(LOWER(TRIM(d.text)), '\s+')) AS n_words,
           COALESCE(a.n_kept, 0) AS n_kept,
           CAST(len(string_split_regex(LOWER(TRIM(d.text)), '\s+'))
                - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.clean_hash, md5('')) AS clean_hash
    FROM documents d LEFT JOIN agg a USING (doc_id)
    """,
    doc="EXT x44 — repeated-span SCRUB, the transform that CONSUMES "
    "x43's inventory (Lee et al. 2022 exact-substring dedup applied): "
    "every occurrence of a cross-doc repeated word-6-gram except the "
    "canonical first (min doc_id, pos — a deterministic total order) "
    "has its word positions marked covered; overlapping spans union "
    "naturally via position-covering; uncovered words reassemble in "
    "order (x36's array_sort(collect_list(struct)) idiom) into the "
    "scrubbed text, reported as md5 + kept/removed counts per doc. "
    "Shape: spans from one per-doc window; the canonicalization "
    "window partitions by SPAN (each span's occurrence list is tiny); "
    "covered positions are a bounded x6 sequence-explode of "
    "non-canonical occurrences; the scrub itself is one anti-join on "
    "(doc_id, pos) + one per-doc reassembly agg. Integer/hash outputs "
    "only — no float rounding to disagree on.",
    tags=("ext", "textstats", "dedup"),
    late=True,
)
def x44_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    # library op (dedup/spans.py); property-tested against a brute-
    # force reference in tests/test_properties.py
    from server_spark.dedup.spans import span_scrub

    return span_scrub(
        _docs(spark, sf_dir), n=SPAN_WORDS, min_docs=SPAN_MIN_DOCS
    )


# ---------------------------------------------------------------------------
# x45 — incremental span scrub (arriving batch vs standing corpus)
# ---------------------------------------------------------------------------


def _span_cte_sql(src: str, p: str) -> str:
    """CTE chain ``{p}w, {p}sp0, {p}sp`` building (doc_id, pos, span)
    word-6-gram rows from relation ``src`` — oracle twin of
    dedup/spans.span_positions."""
    return rf"""{p}w AS (
        SELECT doc_id,
               generate_subscripts(string_split_regex(LOWER(TRIM(text)), '\s+'), 1) AS pos,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS word
        FROM {src}
    ),
    {p}sp0 AS (
        SELECT doc_id, pos,
               word || ' ' || LEAD(word,1) OVER win || ' ' || LEAD(word,2) OVER win
                    || ' ' || LEAD(word,3) OVER win || ' ' || LEAD(word,4) OVER win
                    || ' ' || LEAD(word,5) OVER win AS span,
               LEAD(word,5) OVER win AS lastw
        FROM {p}w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    {p}sp AS (SELECT doc_id, pos, span FROM {p}sp0 WHERE lastw IS NOT NULL)"""


@register(
    "x45_incremental_span_scrub",
    rf"""
    WITH based AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 0),
    batchd AS (SELECT doc_id, text FROM documents WHERE doc_id % 2 = 1),
    {_span_cte_sql("based", "base_")},
    {_span_cte_sql("batchd", "b_")},
    base_inv AS (SELECT DISTINCT span FROM base_sp),
    hit AS (SELECT s.doc_id, s.pos FROM b_sp s JOIN base_inv i ON s.span = i.span),
    fresh AS (
        SELECT s.doc_id, s.pos, s.span
        FROM b_sp s LEFT JOIN base_inv i ON s.span = i.span
        WHERE i.span IS NULL
    ),
    fresh_inv AS (
        SELECT span FROM fresh GROUP BY span
        HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}
    ),
    rep AS (
        SELECT doc_id, pos FROM (
            SELECT f.doc_id, f.pos,
                   ROW_NUMBER() OVER (PARTITION BY f.span ORDER BY f.doc_id, f.pos) AS rn
            FROM fresh f JOIN fresh_inv v ON f.span = v.span
        ) WHERE rn > 1
    ),
    cov0 AS (SELECT doc_id, pos FROM hit UNION ALL SELECT doc_id, pos FROM rep),
    cov AS (
        SELECT DISTINCT doc_id, pos + t.d AS cpos
        FROM cov0 CROSS JOIN (FROM range({SPAN_WORDS}) r(d)) t
    ),
    kept AS (
        SELECT w.doc_id, w.pos, w.word
        FROM b_w w LEFT JOIN cov ON w.doc_id = cov.doc_id AND w.pos = cov.cpos
        WHERE cov.cpos IS NULL
    ),
    agg AS (
        SELECT doc_id, COUNT(*) AS n_kept,
               md5(string_agg(word, ' ' ORDER BY pos)) AS clean_hash
        FROM kept GROUP BY doc_id
    )
    SELECT d.doc_id,
           len(string_split_regex(LOWER(TRIM(d.text)), '\s+')) AS n_words,
           COALESCE(a.n_kept, 0) AS n_kept,
           CAST(len(string_split_regex(LOWER(TRIM(d.text)), '\s+'))
                - COALESCE(a.n_kept, 0) AS BIGINT) AS n_removed,
           COALESCE(a.clean_hash, md5('')) AS clean_hash
    FROM batchd d LEFT JOIN agg a ON d.doc_id = a.doc_id
    """,
    doc="EXT x45 — INCREMENTAL span scrub: the arriving batch (odd "
    "doc_ids as the demo split) scrubbed against the STANDING corpus "
    "(even doc_ids) — x44's production steady-state, mirroring x38's "
    "asymmetric batch×base shape. A batch occurrence of a span the "
    "base already holds is covered unconditionally (the base is "
    "canonical); batch-only spans repeated across >= 2 batch docs "
    "keep their canonical first batch occurrence. Per-increment cost "
    "scales with the BATCH: batch spans equi-join the maintained "
    "distinct-span inventory (the x43 artifact at scale), never "
    "rescanning the corpus; everything downstream is x44's covering "
    "anti-join + ordered reassembly.",
    tags=("ext", "textstats", "dedup", "incremental"),
    late=True,
)
def x45_incremental_span_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup.spans import incremental_span_scrub

    docs = _docs(spark, sf_dir)
    base = docs.filter(F.col("doc_id") % 2 == 0)
    batch = docs.filter(F.col("doc_id") % 2 == 1)
    return incremental_span_scrub(
        base, batch, n=SPAN_WORDS, min_docs=SPAN_MIN_DOCS
    )


# ---------------------------------------------------------------------------
# x46 — maximal removed spans (gaps-and-islands merge of the scrub set)
# ---------------------------------------------------------------------------


@register(
    "x46_maximal_removed_spans",
    rf"""
    WITH w AS (
        SELECT doc_id,
               generate_subscripts(string_split_regex(LOWER(TRIM(text)), '\s+'), 1) AS pos,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS word
        FROM documents
    ),
    sp0 AS (
        SELECT doc_id, pos,
               word || ' ' || LEAD(word,1) OVER win || ' ' || LEAD(word,2) OVER win
                    || ' ' || LEAD(word,3) OVER win || ' ' || LEAD(word,4) OVER win
                    || ' ' || LEAD(word,5) OVER win AS span,
               LEAD(word,5) OVER win AS lastw
        FROM w WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    sp AS (SELECT doc_id, pos, span FROM sp0 WHERE lastw IS NOT NULL),
    inv AS (SELECT span FROM sp GROUP BY span
            HAVING COUNT(DISTINCT doc_id) >= {SPAN_MIN_DOCS}),
    occ AS (
        SELECT s.doc_id, s.pos,
               ROW_NUMBER() OVER (PARTITION BY s.span ORDER BY s.doc_id, s.pos) AS rn
        FROM sp s JOIN inv USING (span)
    ),
    cov AS (
        SELECT DISTINCT occ.doc_id, occ.pos + t.d AS cpos
        FROM occ CROSS JOIN (FROM range({SPAN_WORDS}) r(d)) t
        WHERE occ.rn > 1
    ),
    isl AS (
        SELECT doc_id, cpos,
               cpos - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY cpos) AS grp
        FROM cov
    ),
    islw AS (
        SELECT i.doc_id, i.cpos, i.grp, w.word
        FROM isl i JOIN w ON w.doc_id = i.doc_id AND w.pos = i.cpos
    )
    SELECT doc_id,
           MIN(cpos) AS span_start,
           MAX(cpos) AS span_end,
           CAST(MAX(cpos) - MIN(cpos) + 1 AS BIGINT) AS span_len,
           string_agg(word, ' ' ORDER BY cpos) AS span_text
    FROM islw GROUP BY doc_id, grp
    """,
    doc="EXT x46 — MAXIMAL removed spans: x44's covered-position set "
    "merged into per-doc maximal intervals by gaps-and-islands "
    "(pos - row_number is constant within a run), with the true span "
    "length and reassembled text surfaced. This is the Lee et al. "
    "2022 removal UNIT: a long repeated region that the word-6-gram "
    "inventory reports as many overlapping hits comes out as ONE "
    "span whose length is no longer quantized to 6. Invariant vs "
    "x44 (property-tested): per doc, SUM(span_len) == n_removed. "
    "Shape: the islands window partitions by doc_id "
    "(high-cardinality), the reassembly is one groupBy(doc, island) "
    "with the x36 array_sort(collect_list(struct)) idiom; nothing "
    "here shuffles on a hot key.",
    tags=("ext", "textstats", "dedup"),
    late=True,
)
def x46_maximal_removed_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup.spans import maximal_removed_spans

    return maximal_removed_spans(
        _docs(spark, sf_dir), n=SPAN_WORDS, min_docs=SPAN_MIN_DOCS
    )


# ---------------------------------------------------------------------------
# x54 — BPE vocabulary induction (distributed tokenizer training)
# ---------------------------------------------------------------------------


from server_spark.oracles import bpe_kernel as _bpe_kernel

# x54's ORACLE (r13 promotion, VERDICT r12 item 4): the full BPE
# training loop as ONE recursive CTE. The r12 "no SQL twin" label fell
# to the same techniques that promoted Holt/PAVA/PageRank: the working
# table carries each word-type's evolving symbol list; the single
# recursive reference is unnested to (word, position) rows, the
# iteration's global argmax pair is broadcast to every row by a
# whole-partition window (FIRST_VALUE over cnt DESC, pl, pr — no
# second recursive reference needed), and the greedy left-to-right
# merge is run-parity arithmetic: matches can only chain when
# left==right, so a run of matches merges at even offsets (aaaa +
# (a,a) -> aa aa), and non-chaining matches merge wherever the
# previous position didn't. Faithful to train_bpe_fast at the gate's
# sf (31 word types << the 1M MAX_VOCAB_TYPES collect cap; at corpora
# where the cap binds, the trainer itself is the approximation).
_X54_SQL = """
WITH RECURSIVE
wf AS (
    SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
    FROM (
        SELECT unnest(regexp_split_to_array(lower(trim(text)), '\\s+'))
               AS word
        FROM documents
    )
    WHERE word <> ''
    GROUP BY word
),
""" + _bpe_kernel(12)


@register(
    "x54_bpe_merges",
    _X54_SQL,
    doc="EXT x54 — BPE tokenizer training (Sennrich et al. 2016) in "
    "the shape that scales: ONE corpus pass builds the word-type "
    "frequency table (explode + hash-agg, Zipf-bounded ≈vocab-sized "
    "at any corpus size), then each merge iteration shuffles only "
    "that table — pair counts via zip_with over the symbol arrays "
    "(JVM-side), best pair via TakeOrderedAndProject(1) with "
    "lexicographic tiebreak (deterministic), merge application as "
    "one Arrow pass, localCheckpoint lineage truncation every 4 "
    "rounds (the components-loop discipline). The registered entry "
    "uses train_bpe_fast: same corpus pass, merge loop over the "
    "COLLECTED Zipf-bounded type table (MAX_VOCAB_TYPES cap, the "
    "KMeans bounded-collect posture) — the HuggingFace-tokenizers "
    "split; the fully-distributed loop remains for vocabularies "
    "beyond driver memory. Both pinned against an in-test reference "
    "implementation and asserted equal (tests/test_bpe.py); r13: the "
    "full training loop also hash-verifies against a recursive-CTE "
    "DuckDB oracle (global argmax broadcast by a whole-partition "
    "window, greedy merge as run-parity arithmetic — see _X54_SQL).",
    tags=("ext", "textstats", "tokenizer"),
    late=True,
)
def x54_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.textstats.bpe import train_bpe_fast

    merges = train_bpe_fast(_docs(spark, sf_dir), n_merges=12)
    return spark.createDataFrame(
        [
            (i + 1, left, right, left + right, n)
            for i, (left, right, n) in enumerate(merges)
        ],
        "merge_rank int, left string, right string, merged string, "
        "pair_count long",
    )


# ---------------------------------------------------------------------------
# x55 — dataset card (one-pass corpus composition report)
# ---------------------------------------------------------------------------


@register(
    "x55_dataset_card",
    """
    SELECT COALESCE(source, '<all>') AS source,
           COALESCE(lang, '<all>') AS lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           {A} AS avg_chars,
           CAST(SUM(CASE WHEN n_chars < 100 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_short_docs
    FROM documents
    GROUP BY GROUPING SETS ((source, lang), (source), ())
    """.format(A=r4sql("AVG(n_chars)")),
    doc="EXT x55 — the dataset card: corpus composition by (source, "
    "lang) with source and grand-total rollups in ONE grouping-sets "
    "hash-agg over a pruned 3-column scan — the per-mixture report "
    "every training run records (docs, characters, short-doc counts "
    "per slice). At 100 TB this is a single partial-aggregated "
    "shuffle; the output is mixture-cardinality-sized.",
    tags=("ext", "textstats", "report"),
    late=True,
)
def x55_dataset_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _docs(spark, sf_dir).select("source", "lang", "n_chars")
    return (
        d.groupingSets(
            [["source", "lang"], ["source"], []], "source", "lang"
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").cast("long").alias("total_chars"),
            r4(F.avg("n_chars")).alias("avg_chars"),
            F.sum((F.col("n_chars") < 100).cast("long"))
            .cast("long")
            .alias("n_short_docs"),
        )
        .select(
            F.coalesce("source", F.lit("<all>")).alias("source"),
            F.coalesce("lang", F.lit("<all>")).alias("lang"),
            "n_docs",
            "total_chars",
            "avg_chars",
            "n_short_docs",
        )
    )


# ---------------------------------------------------------------------------
# x58 — DSIR-style importance resampling (target-vs-raw unigram ratio)
# ---------------------------------------------------------------------------

_DSIR_TARGET = ("src1", "src2", "src3")   # the "high-quality domain"
_DSIR_N = 200


@register(
    "x58_dsir_importance",
    rf"""
    WITH toks AS (
        SELECT doc_id, source,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    raw AS (SELECT token, COUNT(*) AS rc FROM toks GROUP BY token),
    rtot AS (SELECT COUNT(*) AS rt FROM toks),
    vocab AS (SELECT COUNT(*) AS v FROM raw),
    tgt AS (
        SELECT token, COUNT(*) AS tc FROM toks
        WHERE source IN {_DSIR_TARGET} GROUP BY token
    ),
    ttot AS (
        SELECT COUNT(*) AS tt FROM toks WHERE source IN {_DSIR_TARGET}
    ),
    scored AS (
        SELECT t.doc_id,
               {r4sql("AVG(LN((COALESCE(g.tc, 0) + 1.0) / (ttot.tt + vocab.v)) - LN(CAST(r.rc AS DOUBLE) / rtot.rt))")}
                   AS importance
        FROM toks t
        JOIN raw r USING (token)
        LEFT JOIN tgt g USING (token)
        CROSS JOIN rtot CROSS JOIN ttot CROSS JOIN vocab
        GROUP BY t.doc_id
    )
    SELECT doc_id, importance,
           CAST(ROW_NUMBER() OVER (ORDER BY importance DESC, doc_id)
               AS INT) AS rnk
    FROM scored
    ORDER BY importance DESC, doc_id
    LIMIT {_DSIR_N}
    """,
    doc="EXT x58 — DSIR-shaped data selection (Xie et al. 2023, "
    "importance resampling): per-document importance = mean unigram "
    "log-ratio between a TARGET domain's token distribution "
    "(add-one smoothed — raw-only tokens must not blow up the log) "
    "and the raw corpus distribution; the top-N by importance is the "
    "selected pretraining subset. The deterministic top-N stands in "
    "for the paper's Gumbel resample so the oracle can replay it "
    "exactly. Shape: ONE token explode feeds both frequency tables "
    "and the scoring join (barrier); vocab sides are Zipf-bounded "
    "broadcasts; the final select is TakeOrdered over doc-count "
    "rows, ranked after the limit on the 4-decimal-rounded value so "
    "both engines rank identical numbers.",
    tags=("ext", "sample", "quality"),
    late=True,
)
def x58_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.operators.windows import pinned_single_group

    toks = _docs(spark, sf_dir).select(
        "doc_id",
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("token"),
    ).transform(lazy_barrier)  # feeds raw freq, target freq AND the join
    raw = toks.groupBy("token").agg(F.count("*").alias("rc"))
    rtot = toks.agg(F.count("*").alias("rt"))
    vocab = raw.agg(F.count("*").alias("v"))
    in_target = F.col("source").isin(*_DSIR_TARGET)
    tgt = (
        toks.filter(in_target)
        .groupBy("token")
        .agg(F.count("*").alias("tc"))
    )
    ttot = toks.filter(in_target).agg(F.count("*").alias("tt"))
    scored = (
        toks.join(F.broadcast(raw), "token")
        .join(F.broadcast(tgt), "token", "left")
        .crossJoin(F.broadcast(rtot))
        .crossJoin(F.broadcast(ttot))
        .crossJoin(F.broadcast(vocab))
        .groupBy("doc_id")
        .agg(
            r4(
                F.avg(
                    F.log(
                        (F.coalesce(F.col("tc"), F.lit(0)) + F.lit(1.0))
                        / (F.col("tt") + F.col("v"))
                    )
                    - F.log(F.col("rc").cast("double") / F.col("rt"))
                )
            ).alias("importance")
        )
    )
    top = scored.orderBy(F.desc("importance"), "doc_id").limit(_DSIR_N)
    return top.select(
        "doc_id",
        "importance",
        F.row_number()
        .over(
            Window.partitionBy(pinned_single_group("doc_id")).orderBy(
                F.desc("importance"), "doc_id"
            )
        )
        .alias("rnk"),
    )


# ---------------------------------------------------------------------------
# x62 — interpolated bigram LM score (perplexity proxy, order-aware)
# ---------------------------------------------------------------------------

_X62_LAMBDA = 0.7  # bigram weight; 1-λ backs off to the unigram


@register(
    "x62_bigram_logprob",
    rf"""
    WITH toks AS (
        SELECT doc_id, pos, token FROM (
            SELECT doc_id,
                   generate_subscripts(l, 1) AS pos,
                   UNNEST(l) AS token
            FROM (SELECT doc_id,
                         string_split_regex(LOWER(TRIM(text)), '\s+') AS l
                  FROM documents)
        ) WHERE token <> ''
    ),
    big AS (
        SELECT doc_id, w1, w2 FROM (
            SELECT doc_id, token AS w1,
                   LEAD(token) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS w2
            FROM toks
        ) WHERE w2 IS NOT NULL
    ),
    uni AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    tot AS (SELECT COUNT(*) AS t FROM toks),
    bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2)
    SELECT big.doc_id, COUNT(*) AS n_bigrams,
           {r4sql(f"AVG(LN({_X62_LAMBDA} * bc.c2 / u1.c + {1 - _X62_LAMBDA} * u2.c / tot.t))")}
               AS avg_bigram_logprob
    FROM big
    JOIN bc USING (w1, w2)
    JOIN uni u1 ON big.w1 = u1.token
    JOIN uni u2 ON big.w2 = u2.token
    CROSS JOIN tot
    GROUP BY big.doc_id
    """,
    doc="EXT x62 — ORDER-AWARE LM quality score: each document's mean "
    "log-probability under an interpolated bigram model trained on "
    "the corpus itself (λ·P(w2|w1) + (1-λ)·P(w2) — Jelinek-Mercer "
    "smoothing, the next step beyond x33's unigram score toward a "
    "KenLM-style perplexity gate: shuffled text keeps its unigram "
    "score but collapses here). Shape: one posexplode feeds the "
    "bigram window (one doc-keyed shuffle); the UNIGRAM vocab is "
    "Heaps-law-bounded and broadcast, but bigram TYPE counts grow "
    "near-linearly with corpus size, so the bigram join carries NO "
    "forced broadcast hint — AQE broadcasts it while it fits and "
    "falls back to a shuffle join at scale instead of OOMing "
    "executors; scoring is one hash-agg.",
    tags=("ext", "textstats", "quality"),
    late=True,
)
def x62_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("pos", "token"),
        )
        .filter(F.col("token") != "")
        .transform(lazy_barrier)  # feeds unigrams, total AND the bigram window
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            "doc_id",
            F.col("token").alias("w1"),
            F.lead("token").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .transform(lazy_barrier)  # feeds bigram counts AND the scoring join
    )
    uni = toks.groupBy("token").agg(F.count("*").alias("c"))
    tot = toks.agg(F.count("*").alias("t"))
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    lam = _X62_LAMBDA
    # NB: no broadcast hint on `bc` — bigram TYPES are near-linear in
    # corpus size (unlike the Heaps-bounded unigram vocab), so a forced
    # broadcast OOMs executors at 100×; with no hint AQE broadcasts it
    # only while it's actually under the threshold. `big ⋈ bc` shares
    # the (w1, w2) key with bc's own groupBy, so the shuffle-join path
    # reuses the exchange on the bc side.
    return (
        big.join(bc, ["w1", "w2"])
        .join(
            F.broadcast(uni.select(F.col("token").alias("w1"),
                                   F.col("c").alias("c_w1"))),
            "w1",
        )
        .join(
            F.broadcast(uni.select(F.col("token").alias("w2"),
                                   F.col("c").alias("c_w2"))),
            "w2",
        )
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            r4(
                F.avg(
                    F.log(
                        lam * F.col("c2") / F.col("c_w1")
                        + (1 - lam) * F.col("c_w2") / F.col("t")
                    )
                )
            ).alias("avg_bigram_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# x63 — per-source KL divergence vs the corpus (mixture diagnostic)
# ---------------------------------------------------------------------------


@register(
    "x63_source_kl_divergence",
    rf"""
    WITH toks AS (
        SELECT source,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    src AS (
        SELECT source, token, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ),
    srctot AS (SELECT source, SUM(c) AS t FROM src GROUP BY 1),
    corp AS (SELECT token, SUM(c) AS cc FROM src GROUP BY 1),
    corptot AS (SELECT SUM(cc) AS ct FROM corp)
    SELECT src.source,
           CAST(MAX(srctot.t) AS BIGINT) AS n_tokens,
           {r4sql("SUM((src.c * 1.0 / srctot.t) * LN((src.c * 1.0 / srctot.t) / (corp.cc * 1.0 / corptot.ct)))")}
               AS kl_nats
    FROM src
    JOIN srctot USING (source)
    JOIN corp USING (token)
    CROSS JOIN corptot
    GROUP BY src.source
    """,
    doc="EXT x63 — per-SOURCE unigram KL divergence against the whole "
    "corpus: KL(P_source ‖ P_corpus), the domain-shift diagnostic a "
    "mixture tuner reads before reweighting sources (a source with "
    "near-zero KL adds little diversity; a high-KL source shifts the "
    "blend — the measurement behind DoReMi-style reweighting). No "
    "smoothing needed: every source token exists in the corpus by "
    "construction. Shape: one explode → per-(source, token) counts, "
    "then a token-keyed join of two Heaps-bounded tables and one "
    "hash-agg per source; corpus totals are scalar broadcasts.",
    tags=("ext", "textstats", "mixing"),
    late=True,
)
def x63_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
        .transform(lazy_barrier)  # feeds source totals, corpus counts AND scoring
    )
    srctot = src.groupBy("source").agg(F.sum("c").alias("t"))
    corp = src.groupBy("token").agg(F.sum("c").alias("cc"))
    corptot = corp.agg(F.sum("cc").alias("ct"))
    p = F.col("c") / F.col("t")
    q = F.col("cc") / F.col("ct")
    return (
        src.join(F.broadcast(srctot), "source")
        .join(F.broadcast(corp), "token")
        .crossJoin(F.broadcast(corptot))
        .groupBy("source")
        .agg(
            F.max("t").cast("bigint").alias("n_tokens"),
            # natural log ⇒ the divergence is in NATS (divide by ln 2
            # for bits); the column name states the unit it computes
            r4(F.sum(p * F.log(p / q))).alias("kl_nats"),
        )
    )


# ---------------------------------------------------------------------------
# x64 — compression-ratio quality proxy (zlib bits-per-byte)
# ---------------------------------------------------------------------------


@register(
    "x64_compression_ratio",
    None,  # rows-only: no SQL engine exposes deterministic zlib
    doc="EXT x64 — per-document COMPRESSION RATIO (zlib level 6, "
    "compressed/raw bytes): the classic cheap quality/repetition "
    "signal — boilerplate and template spam compress far below "
    "fluent prose, gibberish barely compresses at all (used as a "
    "Gopher/FineWeb-style pre-filter and dedup triage). Shape: one "
    "Arrow-batched mapInPandas narrow map, zero shuffles; zlib is "
    "deterministic for a fixed level so the column is reproducible "
    "(pinned by unit test against direct zlib calls). All helpers "
    "closure-local — workers never import server_spark.",
    tags=("ext", "textstats", "quality", "rows-only"),
    late=True,
)
def x64_compression_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("compression_ratio", T.DoubleType()),
        ]
    )

    def batches(it):
        import zlib

        import pandas as pd

        for pdf in it:
            raw = [t.encode("utf-8") if t is not None else b"" for t in pdf["text"]]
            n = [len(b) for b in raw]
            ratio = [
                round(len(zlib.compress(b, 6)) / len(b), 4) if b else None
                for b in raw
            ]
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"].astype("int64"),
                    "n_bytes": pd.array(n, dtype="Int64"),
                    "compression_ratio": pd.array(ratio, dtype="Float64"),
                }
            )

    return _docs(spark, sf_dir).select("doc_id", "text").mapInPandas(
        batches, schema=schema
    )


# ---------------------------------------------------------------------------
# x66 — curriculum binning (difficulty quartiles + deterministic shuffle)
# ---------------------------------------------------------------------------

_X66_BUCKETS = 4


@register(
    "x66_curriculum_bins",
    rf"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS cnt FROM toks GROUP BY token),
    n AS (SELECT COUNT(*) AS total FROM toks),
    scored AS (
        SELECT t.doc_id,
               {r4sql("AVG(LN(CAST(f.cnt AS DOUBLE) / n.total))")} AS avg_logprob
        FROM toks t JOIN freq f ON t.token = f.token CROSS JOIN n
        GROUP BY t.doc_id
    ),
    binned AS (
        SELECT doc_id, avg_logprob,
               NTILE({_X66_BUCKETS}) OVER (
                   ORDER BY avg_logprob DESC, doc_id
               ) AS curriculum_bucket
        FROM scored
    )
    SELECT doc_id, avg_logprob, curriculum_bucket,
           ROW_NUMBER() OVER (
               PARTITION BY curriculum_bucket
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           ) AS shuffle_rank
    FROM binned
    """,
    doc="EXT x66 — CURRICULUM BINNING: documents quartiled easy→hard "
    "by the x33 corpus-LM difficulty proxy (bucket 1 = most fluent), "
    "with a DETERMINISTIC pseudo-shuffle inside each bucket (order by "
    "md5(doc_id) — reproducible epoch order with no RNG state, the "
    "same hash-ordering trick as the x17 splits). The staged-training "
    "data-ordering step after quality filtering. Shape: x33's scoring "
    "plan, then NTILE over the bounded doc-score relation and one "
    "bucket-keyed window.",
    tags=("ext", "textstats", "mixing"),
    late=True,
)
def x66_curriculum_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.operators.windows import pinned_single_group

    scored = x33_unigram_logprob(spark, sf_dir).select(
        "doc_id", "avg_logprob"
    )
    ntile_w = Window.partitionBy(pinned_single_group("doc_id")).orderBy(
        F.col("avg_logprob").desc(), F.col("doc_id").asc()
    )
    binned = scored.withColumn(
        "curriculum_bucket", F.ntile(_X66_BUCKETS).over(ntile_w)
    )
    shuffle_w = Window.partitionBy("curriculum_bucket").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return binned.select(
        "doc_id", "avg_logprob", "curriculum_bucket",
        F.row_number().over(shuffle_w).alias("shuffle_rank"),
    )


# ---------------------------------------------------------------------------
# x69 — BM25 retrieval (the lexical ranking function)
# ---------------------------------------------------------------------------

_BM25_K1 = 1.2
_BM25_B = 0.75
_BM25_NQ = 5    # query docs: doc_id < _BM25_NQ (the x3/x68 convention)
_BM25_TOP = 10

_X69_SQL = rf"""
    WITH toks AS (
        SELECT doc_id,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM toks GROUP BY 1, 2),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM toks GROUP BY 1),
    stats AS (
        SELECT COUNT(*) AS n_docs, AVG(dl * 1.0) AS avgdl FROM dl
    ),
    df AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY token),
    qt AS (
        SELECT doc_id AS query_id, token
        FROM tf WHERE doc_id < {_BM25_NQ}
    ),
    scored AS (
        SELECT qt.query_id, tf.doc_id,
               SUM(
                   LN((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
                   * tf.tf * ({_BM25_K1} + 1.0)
                   / (tf.tf + {_BM25_K1} * (1.0 - {_BM25_B}
                      + {_BM25_B} * dl.dl / stats.avgdl))
               ) AS bm25
        FROM qt
        JOIN tf USING (token)
        JOIN df USING (token)
        JOIN dl ON tf.doc_id = dl.doc_id
        CROSS JOIN stats
        WHERE tf.doc_id <> qt.query_id
        GROUP BY 1, 2
    )
    SELECT query_id, doc_id, bm25_score, rnk FROM (
        SELECT query_id, doc_id, {r4sql("bm25")} AS bm25_score,
               ROW_NUMBER() OVER (
                   PARTITION BY query_id
                   ORDER BY {r4sql("bm25")} DESC, doc_id
               ) AS rnk
        FROM scored
    ) WHERE rnk <= {_BM25_TOP}
"""


@register(
    "x69_bm25_retrieval",
    _X69_SQL,
    doc="EXT x69 — BM25 (Okapi, Lucene idf form): the canonical "
    "lexical ranking function — tf saturation (k1) and doc-length "
    "normalization (b) over inverse document frequency — scored for "
    "each query doc's token set against the corpus, top-10 per query. "
    "The real form of x68's lexical leg and the standard sparse side "
    "of hybrid RAG retrieval. Shape: postings = per-(doc, token) tf "
    "(one hash-agg off the explode), query token sets and the "
    "Heaps-bounded df table broadcast onto the postings join, doc "
    "lengths join on doc, corpus stats a scalar broadcast; one "
    "hash-agg per (query, doc) then a bounded per-query window. "
    "Ranks on the 4-decimal canonical score so both engines order "
    "identically.",
    tags=("ext", "textstats", "similarity"),
    late=True,
)
def x69_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.explode(F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias(
            "token"
        ),
    ).transform(lazy_barrier)  # feeds tf, dl (and through tf: df, qt)
    tf = toks.groupBy("doc_id", "token").agg(
        F.count("*").alias("tf")
    ).transform(lazy_barrier)  # feeds df, the query sets AND the postings join
    dl = toks.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.avg("dl").alias("avgdl")
    )
    df_t = tf.groupBy("token").agg(F.count("*").alias("df"))
    qt = tf.filter(F.col("doc_id") < _BM25_NQ).select(
        F.col("doc_id").alias("query_id"), "token"
    )
    idf = F.log(
        (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    term = (
        idf
        * F.col("tf") * (_BM25_K1 + 1.0)
        / (
            F.col("tf")
            + _BM25_K1
            * (1.0 - _BM25_B + _BM25_B * F.col("dl") / F.col("avgdl"))
        )
    )
    scored = (
        tf.join(F.broadcast(qt), "token")
        .filter(F.col("doc_id") != F.col("query_id"))
        .join(F.broadcast(df_t), "token")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .groupBy("query_id", "doc_id")
        .agg(F.sum(term).alias("bm25"))
    )
    w = Window.partitionBy("query_id").orderBy(
        r4(F.col("bm25")).desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _BM25_TOP)
        .select(
            "query_id", "doc_id", r4(F.col("bm25")).alias("bm25_score"), "rnk"
        )
    )


# ---------------------------------------------------------------------------
# x73 — heavy hitters: mergeable Misra-Gries summaries + exact verify
# ---------------------------------------------------------------------------

_X73_CAP = 499      # summary capacity k: undercount bound is N/(k+1)
_X73_FRAC = 0.005   # report tokens with corpus share >= 0.5%


@register(
    "x73_heavy_hitters",
    rf"""
    WITH toks AS (
        SELECT UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    tot AS (SELECT COUNT(*) AS n FROM toks)
    SELECT token, COUNT(*) AS n_occurrences,
           {r4sql("COUNT(*) * 1.0 / (SELECT n FROM tot)")} AS share
    FROM toks
    GROUP BY token
    HAVING COUNT(*) >= {_X73_FRAC} * (SELECT n FROM tot)
    ORDER BY n_occurrences DESC, token
    """,
    doc="EXT x73 — HEAVY HITTERS via mergeable MISRA-GRIES summaries "
    "(Agarwal et al., Mergeable Summaries, PODS'12): each partition "
    "folds its token stream into a k=499-counter summary (vectorized "
    "batch add + truncate: subtract the (k+1)-th largest count, drop "
    "non-positives — the MG merge step, so the whole pass is "
    "value_counts + pandas arithmetic, never a per-token Python "
    "loop), summaries merge by plain summed counts, and every token "
    "with true share >= 0.5% is GUARANTEED to survive because the "
    "total undercount is at most N/(k+1) = 0.2%·N < the 0.3%·N "
    "margin. The guaranteed-superset candidate set (<=499/partition, "
    "~dozens after merge) is then EXACT-counted in a second "
    "candidate-gated scan, so the result provably equals the full "
    "GROUP BY ... HAVING oracle while the wide shuffle moves only "
    "candidate rows. This is the 100 TB shape for 'top tokens / hot "
    "keys / trending items': the first scan shuffles k rows per "
    "partition instead of the full type table (x23's vocab build "
    "shuffles every distinct token; fine for vocab, wasteful when "
    "only the >=0.5% head is wanted).",
    tags=("ext", "textstats", "sketch"),
    late=True,
)
def x73_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select(
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("token")
        )
        .transform(lazy_barrier)  # reused: summary scan + exact verify scan
    )

    cap = _X73_CAP

    def mg_summaries(batches):
        # Defined fully inside the closure: pickles by value, so the
        # Python worker never needs server_spark importable (the
        # foreign-cwd driver contract).
        import pandas as pd

        state = pd.Series(dtype="int64")
        for pdf in batches:
            if not len(pdf):
                continue
            state = state.add(pdf["token"].value_counts(), fill_value=0)
            if len(state) > cap:
                # MG merge-truncate: subtract the (cap+1)-th largest
                # count from everything, drop the non-positive tail.
                pivot = state.nlargest(cap + 1).iloc[-1]
                state = state - pivot
                state = state[state > 0]
        yield pd.DataFrame(
            {
                # empty-state guard: an empty Series has an int64
                # RangeIndex, which Arrow rejects against the string
                # column type — force object dtype either way
                "token": state.index.to_numpy(dtype=object),
                "est": state.astype("int64").to_numpy(),
            }
        )

    summaries = toks.mapInPandas(mg_summaries, schema="token string, est long")
    merged = summaries.groupBy("token").agg(F.sum("est").alias("est"))

    tot = toks.agg(F.count("*").alias("n"))
    # Candidate gate: true >= FRAC*N implies est >= FRAC*N - N/(cap+1).
    candidates = (
        merged.crossJoin(F.broadcast(tot))
        .filter(
            F.col("est")
            >= _X73_FRAC * F.col("n") - F.col("n") / (cap + 1.0)
        )
        .select("token")
    )

    exact = (
        toks.join(F.broadcast(candidates), "token", "left_semi")
        .groupBy("token")
        .agg(F.count("*").alias("n_occurrences"))
    )
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("n_occurrences") >= _X73_FRAC * F.col("n"))
        .select(
            "token", "n_occurrences",
            r4(F.col("n_occurrences") * 1.0 / F.col("n")).alias("share"),
        )
        .orderBy(F.col("n_occurrences").desc(), "token")
    )


# ---------------------------------------------------------------------------
# x74 — PMI co-occurrence (word-association mining, word2vec preprocessing)
# ---------------------------------------------------------------------------

_X74_W = 2        # skip-gram window: offsets 1..2
_X74_MIN = 5      # min pair occurrences
_X74_TOP = 100


@register(
    "x74_pmi_cooccurrence",
    rf"""
    WITH docs_l AS (
        SELECT doc_id,
               string_split_regex(LOWER(TRIM(text)), '\s+') AS l
        FROM documents
    ),
    toks AS (
        SELECT doc_id, unnest(l) AS tok,
               generate_subscripts(l, 1) AS pos
        FROM docs_l
    ),
    n_tok AS (SELECT COUNT(*) AS n FROM toks),
    uni AS (SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1),
    raw_pairs AS (
        SELECT LEAST(a.tok, b.tok) AS tok_a,
               GREATEST(a.tok, b.tok) AS tok_b
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id
         AND b.pos - a.pos BETWEEN 1 AND {_X74_W}
        WHERE a.tok <> b.tok
    ),
    np AS (SELECT COUNT(*) AS n_pairs FROM raw_pairs),
    pairs AS (
        SELECT tok_a, tok_b, COUNT(*) AS pair_cnt
        FROM raw_pairs GROUP BY 1, 2
    )
    SELECT tok_a, tok_b, pair_cnt,
           {r4sql("LN((pair_cnt * 1.0 / (SELECT n_pairs FROM np)) / "
                  "((ua.cnt * 1.0 / (SELECT n FROM n_tok)) * "
                  "(ub.cnt * 1.0 / (SELECT n FROM n_tok))))")} AS pmi
    FROM pairs
    JOIN uni ua ON tok_a = ua.tok
    JOIN uni ub ON tok_b = ub.tok
    WHERE pair_cnt >= {_X74_MIN}
    ORDER BY pmi DESC, tok_a, tok_b
    LIMIT {_X74_TOP}
    """,
    doc="EXT x74 — PMI CO-OCCURRENCE mining: token pairs within a "
    "±2 skip-gram window scored by pointwise mutual information "
    "ln(P(a,b)/(P(a)P(b))) — the word-association statistic behind "
    "word2vec's preprocessing, collocation extraction, and "
    "phrase-vocabulary induction (Mikolov et al.'s phrase pass). "
    "Scale shape: pair generation is LINEAR array surgery, never a "
    "positional self-join — for each offset d the token list zips "
    "with itself shifted d (slice + arrays_zip + explode, all "
    "codegen), so a doc of length L emits exactly (L-1)+(L-2) rows; "
    "the unigram side is a Heaps-law-bounded vocab broadcast (same "
    "growth argument as x33/x69 — bigram-sized tables must NOT be "
    "force-broadcast, x62's lesson, and the pair table here is only "
    "ever grouped, not broadcast). The DuckDB oracle uses the "
    "quadratic positional self-join form — correct at oracle SF, "
    "exactly the plan the Spark side is engineered to avoid.",
    tags=("ext", "textstats", "association"),
    late=True,
)
def x74_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("l"),
    )
    toks = docs.select(F.explode("l").alias("tok")).transform(lazy_barrier)

    shifted = []
    for off in range(1, _X74_W + 1):
        pairs_off = (
            docs.filter(F.size("l") > off)
            .select(
                F.explode(
                    F.arrays_zip(
                        F.expr(f"slice(l, 1, size(l) - {off})"),
                        F.expr(f"slice(l, {off + 1}, size(l) - {off})"),
                    )
                ).alias("z")
            )
            .select(
                F.col("z")["0"].alias("tok_x"),
                F.col("z")["1"].alias("tok_y"),
            )
        )
        shifted.append(pairs_off)
    raw = shifted[0]
    for extra in shifted[1:]:
        raw = raw.unionByName(extra)
    raw_pairs = raw.filter(F.col("tok_x") != F.col("tok_y")).select(
        F.least("tok_x", "tok_y").alias("tok_a"),
        F.greatest("tok_x", "tok_y").alias("tok_b"),
    ).transform(lazy_barrier)

    n_tok = toks.agg(F.count("*").alias("n"))
    n_pairs = raw_pairs.agg(F.count("*").alias("n_pairs"))
    uni = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    pairs = raw_pairs.groupBy("tok_a", "tok_b").agg(
        F.count("*").alias("pair_cnt")
    )

    ua = uni.select(F.col("tok").alias("tok_a"), F.col("cnt").alias("cnt_a"))
    ub = uni.select(F.col("tok").alias("tok_b"), F.col("cnt").alias("cnt_b"))
    scored = (
        pairs.filter(F.col("pair_cnt") >= _X74_MIN)
        .join(F.broadcast(ua), "tok_a")
        .join(F.broadcast(ub), "tok_b")
        .crossJoin(F.broadcast(n_pairs))
        .crossJoin(F.broadcast(n_tok))
        .select(
            "tok_a", "tok_b", "pair_cnt",
            r4(
                F.log(
                    (F.col("pair_cnt") * 1.0 / F.col("n_pairs"))
                    / (
                        (F.col("cnt_a") * 1.0 / F.col("n"))
                        * (F.col("cnt_b") * 1.0 / F.col("n"))
                    )
                )
            ).alias("pmi"),
        )
    )
    return scored.orderBy(
        F.col("pmi").desc(), "tok_a", "tok_b"
    ).limit(_X74_TOP)


# ---------------------------------------------------------------------------
# x76 — k-anonymity audit (quasi-identifier group sizes)
# ---------------------------------------------------------------------------

_X76_K = 5
_X76_LEN_BUCKET = 100


@register(
    "x76_k_anonymity",
    rf"""
    WITH groups AS (
        SELECT lang, source,
               CAST(FLOOR(n_chars / {_X76_LEN_BUCKET}) AS BIGINT)
                   AS len_bucket,
               COUNT(*) AS group_size
        FROM documents
        GROUP BY 1, 2, 3
    )
    SELECT lang, source, len_bucket, group_size,
           group_size < {_X76_K} AS at_risk
    FROM groups
    ORDER BY lang, source, len_bucket
    """,
    doc="EXT x76 — K-ANONYMITY audit (Sweeney 2002) over the corpus "
    "metadata: every quasi-identifier combination (lang, source, "
    "length bucket) with fewer than k=5 members marks documents a "
    "release would expose to re-identification by metadata joining — "
    "the data-governance gate that runs BESIDE the x26 PII scrub "
    "(x26 redacts direct identifiers; this catches the indirect ones "
    "a scrub can't see). Shape: one map-side-combinable hash-agg "
    "over a 3-column pruned scan; at 100 TB the follow-up "
    "(suppress/generalize the at-risk rows) is a broadcast semi-join "
    "of the tiny at-risk group list back against the corpus.",
    tags=("ext", "textstats", "governance"),
    late=True,
)
def x76_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    groups = (
        _docs(spark, sf_dir)
        .groupBy(
            "lang", "source",
            F.floor(F.col("n_chars") / _X76_LEN_BUCKET)
            .cast("bigint")
            .alias("len_bucket"),
        )
        .agg(F.count("*").alias("group_size"))
    )
    return groups.select(
        "lang", "source", "len_bucket", "group_size",
        (F.col("group_size") < _X76_K).alias("at_risk"),
    ).orderBy("lang", "source", "len_bucket")


# ---------------------------------------------------------------------------
# x85 — held-out perplexity under a train-split unigram LM
# ---------------------------------------------------------------------------


@register(
    "x85_heldout_perplexity",
    rf"""
    WITH sp AS (
        SELECT doc_id, text,
               {IS_TRAIN_SQL} AS is_train
        FROM documents
    ),
    toks AS (
        SELECT doc_id, is_train,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM sp
    ),
    freq AS (
        SELECT token, COUNT(*) AS c FROM toks WHERE is_train GROUP BY token
    ),
    st AS (SELECT SUM(c) AS nt, COUNT(*) AS v FROM freq)
    SELECT t.doc_id,
           COUNT(*) AS n_tokens,
           SUM(CASE WHEN f.c IS NULL THEN 1 ELSE 0 END) AS n_oov,
           {r4sql("AVG(LN((COALESCE(f.c, 0) + 1.0) / (st.nt + st.v + 1.0)))")}
               AS avg_logprob,
           {r4sql("EXP(-AVG(LN((COALESCE(f.c, 0) + 1.0)"
                  " / (st.nt + st.v + 1.0))))")} AS perplexity
    FROM toks t
    LEFT JOIN freq f ON t.token = f.token
    CROSS JOIN st
    WHERE NOT t.is_train
    GROUP BY t.doc_id
    ORDER BY t.doc_id
    """,
    doc="EXT x85 — HELD-OUT PERPLEXITY: train an add-one-smoothed "
    "unigram LM on the hash-train split (~80%, x17's md5 rule) and "
    "score every held-out document — p(w) = (c(w)+1)/(N+V+1), the "
    "V+1st slot is the OOV bucket. This is the evaluation half x33's "
    "in-corpus logprob can't provide: scoring the corpus with an LM "
    "trained ON it underestimates surprise, so mixture tuning and "
    "quality-floor calibration (DoReMi/DSIR-style loops) read the "
    "held-out number. n_oov is reported because OOV mass is the first "
    "thing that moves when a source drifts. Shape: one explode; the "
    "train vocab is Heaps-bounded (sublinear — broadcast-legal by the "
    "r8 rule) and totals are a scalar cross join; one per-doc "
    "hash-agg. Laplace keeps every factor exact-integer until the "
    "single double division.",
    tags=("ext", "textstats", "mixing"),
    late=True,
)
def x85_heldout_perplexity(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        is_train_col().alias("is_train"),
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("token"),
    ).transform(lazy_barrier)  # feeds the LM AND the held-out scoring
    freq = (
        toks.filter(F.col("is_train"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    st = freq.agg(F.sum("c").alias("nt"), F.count("*").alias("v"))
    lp = F.log(
        (F.coalesce(F.col("c"), F.lit(0)) + 1.0)
        / (F.col("nt") + F.col("v") + 1.0)
    )
    return (
        toks.filter(~F.col("is_train"))
        .join(F.broadcast(freq), "token", "left")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum(F.col("c").isNull().cast("int")).alias("n_oov"),
            r4(F.avg(lp)).alias("avg_logprob"),
            r4(F.exp(-F.avg(lp))).alias("perplexity"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x87 — language-ID confusion matrix (x5's heuristic evaluated)
# ---------------------------------------------------------------------------


@register(
    "x87_langid_confusion",
    rf"""
    WITH pred AS ({_X5_SQL}),
    cells AS (
        SELECT tagged_lang, guessed_lang, COUNT(*) AS n
        FROM pred GROUP BY 1, 2
    ),
    rows_ AS (
        SELECT tagged_lang, SUM(n) AS row_n FROM cells GROUP BY 1
    )
    SELECT c.tagged_lang, c.guessed_lang, c.n,
           {r4sql("c.n * 1.0 / r.row_n")} AS row_share,
           (c.tagged_lang = c.guessed_lang) AS is_correct
    FROM cells c JOIN rows_ r ON c.tagged_lang = r.tagged_lang
    ORDER BY c.tagged_lang, c.guessed_lang
    """,
    doc="EXT x87 — CONFUSION MATRIX for the x5 language-ID heuristic "
    "against the tagged lang column: per (true, predicted) cell count "
    "and row-normalized share (recall on the diagonal) — the "
    "classifier-evaluation primitive a pipeline runs before trusting "
    "any model-derived routing column (x5 decides which language "
    "pipeline a document enters; this measures what that decision "
    "costs per language). Shape: x5's narrow marker-vote map, then "
    "two stacked dimension-bounded hash-aggs (|langs|² cells) and a "
    "row-total join — nothing corpus-sized past the first agg.",
    tags=("ext", "textstats", "eval"),
    late=True,
)
def x87_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _docs(spark, sf_dir).select(
        F.col("lang").alias("tagged_lang"),
        tx.langid_heuristic().alias("guessed_lang"),
    )
    cells = pred.groupBy("tagged_lang", "guessed_lang").agg(
        F.count("*").alias("n")
    )
    totals = cells.groupBy("tagged_lang").agg(F.sum("n").alias("row_n"))
    return (
        cells.join(totals, "tagged_lang")
        .select(
            "tagged_lang", "guessed_lang", "n",
            r4(F.col("n") * 1.0 / F.col("row_n")).alias("row_share"),
            (F.col("tagged_lang") == F.col("guessed_lang")).alias(
                "is_correct"
            ),
        )
        .orderBy("tagged_lang", "guessed_lang")
    )


# ---------------------------------------------------------------------------
# x88 — vocabulary coverage curve (tokenizer budget design)
# ---------------------------------------------------------------------------

_X88_KS = (100, 1000, 10000)


@register(
    "x88_vocab_coverage",
    rf"""
    WITH toks AS (
        SELECT UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    freq AS (SELECT token, COUNT(*) AS c FROM toks GROUP BY token),
    tot AS (SELECT SUM(c) AS total, COUNT(*) AS v FROM freq),
    ranked AS (
        SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, token) AS rnk
        FROM freq
    ),
    g AS (
        SELECT k.k,
               CAST(SUM(CASE WHEN rnk <= k.k THEN c END) AS BIGINT)
                   AS covered
        FROM ranked CROSS JOIN (VALUES {", ".join(f"({k})" for k in _X88_KS)}) AS k(k)
        GROUP BY k.k
    )
    SELECT g.k, LEAST(g.k, t.v) AS n_types, g.covered,
           {r4sql("g.covered * 1.0 / t.total")} AS coverage
    FROM g CROSS JOIN tot t
    ORDER BY g.k
    """,
    doc="EXT x88 — VOCABULARY COVERAGE CURVE: the fraction of all "
    "token occurrences covered by the top-k most frequent types, at "
    f"k ∈ {_X88_KS} — the budget curve a tokenizer design reads "
    "before choosing vocab size (x54's BPE merges buy coverage "
    "exactly where this curve is still steep; a corpus whose curve "
    "saturates by 10k wastes a 100k vocab). Scale shape: the top-k "
    "slice comes from a DISTRIBUTED TakeOrderedAndProject limit "
    f"max(k)={max(_X88_KS)} (per-partition heaps — never a global "
    "sort/rank over the full Heaps-bounded vocab); the rank window "
    "then runs over those ≤10k rows only; totals are one scalar "
    "cross join. The oracle ranks the full vocab (fine single-node).",
    tags=("ext", "textstats", "tokenizer"),
    late=True,
)
def x88_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("token")
    )
    freq = toks.groupBy("token").agg(F.count("*").alias("c"))
    tot = freq.agg(F.sum("c").alias("total"), F.count("*").alias("v"))
    topm = freq.orderBy(F.col("c").desc(), "token").limit(max(_X88_KS))
    w = Window.orderBy(F.col("c").desc(), "token")  # ≤10k rows, bounded
    ranked = topm.withColumn("rnk", F.row_number().over(w))
    sums = ranked.agg(
        *[
            F.sum(F.when(F.col("rnk") <= k, F.col("c")))
            .cast("bigint")
            .alias(f"s{k}")
            for k in _X88_KS
        ]
    )
    entries = F.array(
        *[
            F.struct(
                F.lit(k).alias("k"),
                F.least(F.lit(k).cast("bigint"), F.col("v")).alias(
                    "n_types"
                ),
                F.col(f"s{k}").alias("covered"),
            )
            for k in _X88_KS
        ]
    )
    return (
        sums.crossJoin(F.broadcast(tot))
        .select(F.explode(entries).alias("e"), "total")
        .select(
            F.col("e.k").alias("k"),
            F.col("e.n_types").alias("n_types"),
            F.col("e.covered").alias("covered"),
            r4(F.col("e.covered") * 1.0 / F.col("total")).alias("coverage"),
        )
        .orderBy("k")
    )


# ---------------------------------------------------------------------------
# x91 — Stupid Backoff bigram scoring of the held-out split
# ---------------------------------------------------------------------------

_X91_ALPHA = 0.4  # Brants et al. backoff weight


@register(
    "x91_backoff_score",
    rf"""
    WITH sp AS (
        SELECT doc_id, text,
               {IS_TRAIN_SQL} AS is_train
        FROM documents
    ),
    toks AS (
        SELECT doc_id, is_train, pos, token FROM (
            SELECT doc_id, is_train,
                   generate_subscripts(l, 1) AS pos,
                   UNNEST(l) AS token
            FROM (SELECT doc_id, is_train,
                         string_split_regex(LOWER(TRIM(text)), '\s+') AS l
                  FROM sp)
        ) WHERE token <> ''
    ),
    big AS (
        SELECT doc_id, is_train, w1, w2 FROM (
            SELECT doc_id, is_train, token AS w1,
                   LEAD(token) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS w2
            FROM toks
        ) WHERE w2 IS NOT NULL
    ),
    uni AS (
        SELECT token, COUNT(*) AS c FROM toks WHERE is_train GROUP BY token
    ),
    st AS (SELECT SUM(c) AS nt, COUNT(*) AS v FROM uni),
    bc AS (
        SELECT w1, w2, COUNT(*) AS c2 FROM big WHERE is_train GROUP BY 1, 2
    )
    SELECT b.doc_id, COUNT(*) AS n_bigrams,
           SUM(CASE WHEN bc.c2 IS NULL THEN 1 ELSE 0 END) AS n_backoff,
           {r4sql(f"AVG(LN(CASE WHEN bc.c2 IS NOT NULL"
                  f" THEN bc.c2 * 1.0 / u1.c"
                  f" ELSE {_X91_ALPHA} * (COALESCE(u2.c, 0) + 1.0)"
                  f" / (st.nt + st.v + 1.0) END))")} AS avg_logscore
    FROM big b
    LEFT JOIN bc ON b.w1 = bc.w1 AND b.w2 = bc.w2
    LEFT JOIN uni u1 ON b.w1 = u1.token
    LEFT JOIN uni u2 ON b.w2 = u2.token
    CROSS JOIN st
    WHERE NOT b.is_train
    GROUP BY b.doc_id
    ORDER BY b.doc_id
    """,
    doc="EXT x91 — STUPID BACKOFF (Brants et al. 2007) bigram scoring "
    "of the held-out split under a train-split model: S(w2|w1) = "
    "c(w1w2)/c(w1) when the bigram was seen in training, else "
    f"α={_X91_ALPHA} times the add-one unigram (with OOV slot) — the "
    "web-scale smoothing actually used for trillion-token LMs "
    "(no discount normalization: scores, not probabilities — exactly "
    "the right trade for a data-quality gate). The TRAIN/HELD-OUT "
    "split is what x62's self-trained interpolation cannot give: "
    "there every scored bigram is seen by construction, here unseen "
    "bigrams genuinely occur and n_backoff reports how often (the "
    "drift signal). Shape: one posexplode + doc-keyed bigram window; "
    "unigram side Heaps-bounded broadcast; the bigram-count join "
    "carries NO hint (near-linear types — the x62/x74 rule); one "
    "per-doc hash-agg.",
    tags=("ext", "textstats", "quality", "mixing"),
    late=True,
)
def x91_backoff_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            is_train_col().alias("is_train"),
            F.posexplode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("pos", "token"),
        )
        .filter(F.col("token") != "")
        .transform(lazy_barrier)  # feeds the LM counts AND the bigram window
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            "doc_id", "is_train",
            F.col("token").alias("w1"),
            F.lead("token").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .transform(lazy_barrier)  # feeds bigram counts AND held-out scoring
    )
    uni = (
        toks.filter(F.col("is_train"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
    )
    st = uni.agg(F.sum("c").alias("nt"), F.count("*").alias("v"))
    bc = (
        big.filter(F.col("is_train"))
        .groupBy("w1", "w2")
        .agg(F.count("*").alias("c2"))
    )
    u1 = uni.select(F.col("token").alias("w1"), F.col("c").alias("c_w1"))
    u2 = uni.select(F.col("token").alias("w2"), F.col("c").alias("c_w2"))
    score = F.when(
        F.col("c2").isNotNull(), F.col("c2") * 1.0 / F.col("c_w1")
    ).otherwise(
        _X91_ALPHA
        * (F.coalesce(F.col("c_w2"), F.lit(0)) + 1.0)
        / (F.col("nt") + F.col("v") + 1.0)
    )
    # bc un-hinted (near-linear bigram types); unigram sides broadcast
    return (
        big.filter(~F.col("is_train"))
        .join(bc, ["w1", "w2"], "left")
        .join(F.broadcast(u1), "w1", "left")
        .join(F.broadcast(u2), "w2", "left")
        .crossJoin(F.broadcast(st))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.sum(F.col("c2").isNull().cast("int")).alias("n_backoff"),
            r4(F.avg(F.log(score))).alias("avg_logscore"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# x93 — tokenizer fertility by language (multilingual tokenizer audit)
# ---------------------------------------------------------------------------


@register(
    "x93_token_fertility",
    rf"""
    WITH m AS (
        SELECT lang,
               len(string_split_regex(LOWER(TRIM(text)), '\s+')) AS ws,
               len(regexp_extract_all(LOWER(text), '{tx.TOKEN_REGEX}'))
                   AS bpe
        FROM documents
    )
    SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS total_words,
           CAST(SUM(bpe) AS BIGINT) AS total_tokens,
           {r4sql("SUM(bpe) * 1.0 / SUM(ws)")} AS fertility
    FROM m GROUP BY lang ORDER BY lang
    """,
    doc="EXT x93 — TOKENIZER FERTILITY per language: BPE-ish "
    "pre-tokenizer tokens per whitespace word (x7's two counters, "
    "grouped by the lang tag) — the multilingual-tokenizer fairness "
    "audit: a language whose fertility runs 2× pays twice the "
    "sequence length for the same content (compute tax + effective "
    "context shrink), which is why tokenizer papers report fertility "
    "per language before training. Shape: one narrow map + one "
    "languages-bounded hash-agg; integer sums, one r4 ratio.",
    tags=("ext", "textstats", "tokenizer", "eval"),
    late=True,
)
def x93_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = F.col("text")
    m = _docs(spark, sf_dir).select(
        "lang",
        F.size(F.split(F.lower(F.trim(t)), r"\s+")).alias("ws"),
        F.size(
            F.regexp_extract_all(F.lower(t), F.lit(tx.TOKEN_REGEX), F.lit(0))
        ).alias("bpe"),
    )
    return (
        m.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("ws").cast("bigint").alias("total_words"),
            F.sum("bpe").cast("bigint").alias("total_tokens"),
            r4(F.sum("bpe") * 1.0 / F.sum("ws")).alias("fertility"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# x94 — effective source count (mixture diversity diagnostic)
# ---------------------------------------------------------------------------


@register(
    "x94_effective_sources",
    rf"""
    WITH cnt AS (
        SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    tot AS (SELECT SUM(n) AS t, COUNT(*) AS k FROM cnt)
    SELECT MAX(tot.k) AS n_sources,
           CAST(MAX(tot.t) AS BIGINT) AS n_docs,
           {r4sql("-SUM((cnt.n * 1.0 / tot.t)"
                  " * LN(cnt.n * 1.0 / tot.t))")} AS entropy_nats,
           {r4sql("EXP(-SUM((cnt.n * 1.0 / tot.t)"
                  " * LN(cnt.n * 1.0 / tot.t)))")} AS effective_sources
    FROM cnt CROSS JOIN tot
    """,
    doc="EXT x94 — EFFECTIVE SOURCE COUNT of the corpus mixture: "
    "exp(H) over document-count shares (the perplexity/Hill-number "
    "of the source distribution) — the single scalar a mixture tuner "
    "watches: 10 declared sources with effective count 2.3 means the "
    "blend is two sources wearing ten names, and reweighting (x28's "
    "budgets, x63's KL) has room to work. Shape: one hash-agg to "
    "source counts (sources-bounded), one scalar cross join.",
    tags=("ext", "textstats", "mixing"),
    late=True,
)
def x94_effective_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    cnt = _docs(spark, sf_dir).groupBy("source").agg(
        F.count("*").alias("n")
    )
    tot = cnt.agg(F.sum("n").alias("t"), F.count("*").alias("k"))
    p = F.col("n") * 1.0 / F.col("t")
    ent = -F.sum(p * F.log(p))
    return (
        cnt.crossJoin(F.broadcast(tot))
        .agg(
            F.max("k").alias("n_sources"),
            F.max("t").cast("bigint").alias("n_docs"),
            r4(ent).alias("entropy_nats"),
            r4(F.exp(ent)).alias("effective_sources"),
        )
    )


# ---------------------------------------------------------------------------
# x96 — Cohen's kappa (chance-corrected langid agreement)
# ---------------------------------------------------------------------------


@register(
    "x96_cohen_kappa",
    rf"""
    WITH pred AS ({_X5_SQL}),
    cells AS (
        SELECT tagged_lang, guessed_lang, COUNT(*) AS n
        FROM pred GROUP BY 1, 2
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt FROM cells),
    diag AS (
        SELECT CAST(COALESCE(SUM(n), 0) AS BIGINT) AS agree
        FROM cells WHERE tagged_lang = guessed_lang
    ),
    marg AS (
        SELECT CAST(COALESCE(SUM(r.rn * g.cn), 0) AS BIGINT) AS cross_
        FROM (SELECT tagged_lang AS l, SUM(n) AS rn
              FROM cells GROUP BY 1) r
        JOIN (SELECT guessed_lang AS l, SUM(n) AS cn
              FROM cells GROUP BY 1) g ON r.l = g.l
    )
    SELECT t.nt AS n_docs,
           {r4sql("d.agree * 1.0 / t.nt")} AS p_observed,
           {r4sql("m.cross_ * 1.0 / (t.nt * t.nt)")} AS p_chance,
           {r4sql("CASE WHEN m.cross_ = t.nt * t.nt THEN 0.0 "
                  "ELSE (d.agree * 1.0 / t.nt"
                  " - m.cross_ * 1.0 / (t.nt * t.nt))"
                  " / (1.0 - m.cross_ * 1.0 / (t.nt * t.nt)) END")}
               AS kappa
    FROM tot t CROSS JOIN diag d CROSS JOIN marg m
    WHERE t.nt > 0
    """,
    doc="EXT x96 — COHEN'S KAPPA between the x5 language-ID heuristic "
    "and the tagged lang column: chance-corrected agreement "
    "κ = (p₀−pₑ)/(1−pₑ) with pₑ = Σ_l row_l·col_l/N² — the scalar "
    "that x87's confusion matrix cannot give: raw accuracy (p₀) is "
    "inflated when one language dominates (a 90%-English corpus "
    "scores 0.9 by always guessing English; κ scores it 0). The "
    "routing-column acceptance gate a pipeline reads before trusting "
    "a model-derived label against a reference annotation. "
    "Determinism: every margin product is an exact BIGINT; the three "
    "divisions are r4-canonical, with the degenerate pₑ=1 case "
    "(single class on both sides) pinned to κ=0 on both engines. "
    "Shape: x5's narrow marker-vote map, one |langs|²-bounded "
    "hash-agg, then scalar algebra on a ≤|langs|-row relation.",
    tags=("ext", "textstats", "eval"),
    late=True,
)
def x96_cohen_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    pred = _docs(spark, sf_dir).select(
        F.col("lang").alias("tagged_lang"),
        tx.langid_heuristic().alias("guessed_lang"),
    )
    cells = pred.groupBy("tagged_lang", "guessed_lang").agg(
        F.count("*").alias("n")
    ).transform(lazy_barrier)  # |langs|² rows feed three scalar aggs
    tot = cells.agg(F.sum("n").cast("bigint").alias("nt"))
    diag = cells.filter(
        F.col("tagged_lang") == F.col("guessed_lang")
    ).agg(F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("agree"))
    rows_ = cells.groupBy(F.col("tagged_lang").alias("l")).agg(
        F.sum("n").alias("rn")
    )
    cols_ = cells.groupBy(F.col("guessed_lang").alias("l")).agg(
        F.sum("n").alias("cn")
    )
    marg = (
        rows_.join(cols_, "l")
        .agg(
            F.coalesce(F.sum(F.col("rn") * F.col("cn")), F.lit(0))
            .cast("bigint")
            .alias("cross_")
        )
    )
    nt = F.col("nt")
    po = F.col("agree") * 1.0 / nt
    pe = F.col("cross_") * 1.0 / (nt * nt)
    return (
        tot.crossJoin(diag)
        .crossJoin(marg)
        .filter(nt > 0)
        .select(
            nt.alias("n_docs"),
            r4(po).alias("p_observed"),
            r4(pe).alias("p_chance"),
            r4(
                F.when(
                    F.col("cross_") == nt * nt, F.lit(0.0)
                ).otherwise((po - pe) / (1.0 - pe))
            ).alias("kappa"),
        )
    )


# ---------------------------------------------------------------------------
# x98 — pairwise source Jensen–Shannon divergence (mixture geometry)
# ---------------------------------------------------------------------------


@register(
    "x98_source_jsd",
    rf"""
    WITH toks AS (
        SELECT source,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS token
        FROM documents
    ),
    src AS (
        SELECT source, token, COUNT(*) AS c FROM toks GROUP BY 1, 2
    ),
    srctot AS (SELECT source, SUM(c) AS t FROM src GROUP BY 1),
    p AS (
        SELECT src.source, src.token, src.c * 1.0 / srctot.t AS p
        FROM src JOIN srctot USING (source)
    ),
    shared AS (
        SELECT a.source AS source_a, b.source AS source_b,
               SUM(a.p) AS sh_p, SUM(b.p) AS sh_q,
               SUM(a.p * LN(2.0 * a.p / (a.p + b.p))) AS t1,
               SUM(b.p * LN(2.0 * b.p / (a.p + b.p))) AS t2
        FROM p a JOIN p b
          ON a.token = b.token AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT source_a, source_b,
           {r4sql("0.5 * (t1 + (1.0 - sh_p) * LN(2.0))"
                  " + 0.5 * (t2 + (1.0 - sh_q) * LN(2.0))")}
               AS jsd_nats,
           {r4sql("sh_p")} AS shared_mass_a,
           {r4sql("sh_q")} AS shared_mass_b
    FROM shared
    ORDER BY source_a, source_b
    """,
    doc="EXT x98 — PAIRWISE Jensen–Shannon divergence between source "
    "unigram distributions: the symmetric, √-metrizable, ln2-bounded "
    "sibling of x63's source-vs-corpus KL — x63 says how far each "
    "source sits from the blend, JSD gives the GEOMETRY between "
    "sources (two high-KL sources may be the same direction of drift "
    "or opposite ones; mixture design needs the pair distances, e.g. "
    "to collapse near-duplicate crawls before reweighting). "
    "Disjoint-support mass needs no smoothing under JSD: a token in "
    "P only contributes p·ln2 (its M-mixture share is p/2), folded "
    "in CLOSED FORM via the shared-mass complements — the pair join "
    "only ever touches shared tokens. Shape: per-(source, token) "
    "probabilities once, then a token-keyed self-join whose fan-out "
    "per token is bounded by the SOURCE dimension (≤|sources|² rows "
    "per token, sources being a catalog dimension like languages, "
    "NOT corpus-scale), one pair-keyed hash-agg.",
    tags=("ext", "textstats", "mixing"),
    late=True,
)
def x98_source_jsd(spark: SparkSession, sf_dir: str) -> DataFrame:
    src = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("token"),
        )
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )
    srctot = src.groupBy("source").agg(F.sum("c").alias("t"))
    p = (
        src.join(F.broadcast(srctot), "source")
        .select(
            "source", "token", (F.col("c") * 1.0 / F.col("t")).alias("p")
        )
        .transform(lazy_barrier)  # both sides of the pair join
    )
    a = p.select(
        F.col("source").alias("source_a"), "token", F.col("p").alias("pa")
    )
    b = p.select(
        F.col("source").alias("source_b"), "token", F.col("p").alias("pb")
    )
    pa, pb = F.col("pa"), F.col("pb")
    shared = (
        a.join(b, "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.sum(pa).alias("sh_p"),
            F.sum(pb).alias("sh_q"),
            F.sum(pa * F.log(2.0 * pa / (pa + pb))).alias("t1"),
            F.sum(pb * F.log(2.0 * pb / (pa + pb))).alias("t2"),
        )
    )
    ln2 = F.log(F.lit(2.0))
    return shared.select(
        "source_a", "source_b",
        r4(
            0.5 * (F.col("t1") + (1.0 - F.col("sh_p")) * ln2)
            + 0.5 * (F.col("t2") + (1.0 - F.col("sh_q")) * ln2)
        ).alias("jsd_nats"),
        r4(F.col("sh_p")).alias("shared_mass_a"),
        r4(F.col("sh_q")).alias("shared_mass_b"),
    ).orderBy("source_a", "source_b")


# ---------------------------------------------------------------------------
# x103 — Fleiss kappa: multi-rater agreement over heuristic quality votes
# ---------------------------------------------------------------------------

# Three deterministic binary "raters" (the cheap quality heuristics a
# labeling pipeline runs before paying for model or human labels):
# document length, token budget, and lexical diversity.
_X103_MIN_CHARS = 200
_X103_MIN_TOKS = 40
_X103_RATERS = 3

_X103_SPLIT = "string_split_regex(LOWER(TRIM(text)), '\\s+')"


@register(
    "x103_fleiss_kappa",
    f"""
    WITH feats AS (
        SELECT doc_id,
               CAST(n_chars >= {_X103_MIN_CHARS} AS BIGINT)
             + CAST(len({_X103_SPLIT}) >= {_X103_MIN_TOKS} AS BIGINT)
             + CAST(len(list_distinct({_X103_SPLIT})) * 2
                    >= len({_X103_SPLIT}) AS BIGINT) AS pos
        FROM documents
    ),
    s AS (
        SELECT COUNT(*) AS nd,
               SUM(pos) AS tot_pos,
               SUM(pos * pos + ({_X103_RATERS} - pos)
                             * ({_X103_RATERS} - pos)) AS sumsq
        FROM feats
    ),
    calc AS (
        SELECT nd,
               (sumsq - {_X103_RATERS} * nd) * 1.0
                   / ({_X103_RATERS} * ({_X103_RATERS} - 1) * nd) AS p_bar,
               tot_pos * 1.0 / ({_X103_RATERS} * nd) AS p1
        FROM s
    )
    SELECT nd AS n_docs,
           {{PB}} AS p_bar,
           {{PE}} AS p_e,
           {{K}} AS fleiss_kappa
    FROM calc
    """.replace("{PB}", r4sql("p_bar"))
        .replace("{PE}", r4sql("p1 * p1 + (1 - p1) * (1 - p1)"))
        .replace(
            "{K}",
            r4sql(
                "CASE WHEN (p1 * p1 + (1 - p1) * (1 - p1)) < 1.0"
                " THEN (p_bar - (p1 * p1 + (1 - p1) * (1 - p1)))"
                " / (1 - (p1 * p1 + (1 - p1) * (1 - p1)))"
                " ELSE 0.0 END"
            ),
        ),
    doc="EXT x103 — FLEISS KAPPA over three deterministic quality "
    "raters (length >= 200 chars, >= 40 tokens, distinct-token ratio "
    ">= 1/2): chance-corrected agreement for MORE than two raters — "
    "x96's Cohen kappa only handles rater pairs, and labeling "
    "pipelines routinely ensemble 3+ cheap heuristics before "
    "trusting a consensus label (low kappa = the heuristics measure "
    "different things; consensus is noise). Exactness: each vote "
    "count n_i is an exact int; sum(n_i1^2 + n_i0^2) is an exact "
    "BIGINT so P_bar, P_e, and kappa are closed forms over identical "
    "integers on both engines (the diversity rater compares "
    "2*distinct >= total in integers — no ratio floats). Shape: one "
    "narrow map over the corpus + one scalar fold; rater count is a "
    "constant, so the per-row work is k comparisons regardless of "
    "corpus size.",
    tags=("ext", "textstats", "analytics", "stats"),
    late=True,
)
def x103_fleiss_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    pos = (
        (F.col("n_chars") >= _X103_MIN_CHARS).cast("long")
        + (F.size(toks) >= _X103_MIN_TOKS).cast("long")
        + (F.size(F.array_distinct(toks)) * 2 >= F.size(toks)).cast("long")
    )
    r = F.lit(_X103_RATERS)
    s = docs.select(pos.alias("pos")).agg(
        F.count("*").alias("nd"),
        F.sum("pos").alias("tot_pos"),
        F.sum(
            F.col("pos") * F.col("pos")
            + (r - F.col("pos")) * (r - F.col("pos"))
        ).alias("sumsq"),
    )
    nd = F.col("nd")
    p_bar = (F.col("sumsq") - _X103_RATERS * nd) * 1.0 / (
        _X103_RATERS * (_X103_RATERS - 1) * nd
    )
    p1 = F.col("tot_pos") * 1.0 / (_X103_RATERS * nd)
    p_e = p1 * p1 + (1 - p1) * (1 - p1)
    return s.select(
        nd.alias("n_docs"),
        r4(p_bar).alias("p_bar"),
        r4(p_e).alias("p_e"),
        # degenerate p_e = 1 (all raters unanimous on every doc) is
        # pinned to kappa = 0 on both engines — same guard as x96's
        # Cohen kappa; unguarded it divides by zero (r11 review
        # finding)
        r4(
            F.when(p_e < 1.0, (p_bar - p_e) / (1 - p_e)).otherwise(0.0)
        ).alias("fleiss_kappa"),
    )


# ---------------------------------------------------------------------------
# x105 — source-pair vocabulary overlap matrix
# ---------------------------------------------------------------------------


@register(
    "x105_source_overlap",
    rf"""
    WITH vt AS (
        SELECT DISTINCT source, tok FROM (
            SELECT source,
                   UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+'))
                       AS tok
            FROM documents
        )
    ),
    sz AS (SELECT source, COUNT(*) AS n FROM vt GROUP BY 1),
    inter AS (
        SELECT a.source AS src_a, b.source AS src_b,
               COUNT(*) AS common_vocab
        FROM vt a JOIN vt b ON a.tok = b.tok AND a.source < b.source
        GROUP BY 1, 2
    )
    SELECT src_a, src_b, common_vocab,
           {r4sql("common_vocab * 1.0 / (na.n + nb.n - common_vocab)")}
               AS vocab_jaccard,
           {r4sql("common_vocab * 1.0 / LEAST(na.n, nb.n)")}
               AS vocab_containment
    FROM inter
    JOIN sz na ON src_a = na.source
    JOIN sz nb ON src_b = nb.source
    ORDER BY src_a, src_b
    """,
    doc="EXT x105 — SOURCE-PAIR VOCABULARY OVERLAP matrix: Jaccard "
    "and containment of the distinct-token sets of every source "
    "pair — the set-theoretic companion to x98's distributional JSD "
    "(two sources can share every token yet weight them oppositely; "
    "JSD sees that, this sees disjoint jargon) and the source-level "
    "input to 'do we even need both crawls?' curation calls. Pairs "
    "with zero shared vocabulary are absent by construction (inner "
    "join). Scale shape: the per-source vocabulary is Heaps-bounded; "
    "in the token self-join each token's posting list is bounded by "
    "the SOURCE COUNT (one row per source per token after the "
    "distinct), so the join fan-out is |sources|^2 per token worst "
    "case with |sources| a catalog constant — never corpus-quadratic. "
    "All counts exact ints; ratios r4-dressed.",
    tags=("ext", "textstats", "analytics"),
    late=True,
)
def x105_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    vt = docs.select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("tok"),
    ).distinct()
    vt = vt.transform(lazy_barrier)  # feeds sizes and both join branches
    sz = vt.groupBy("source").agg(F.count("*").alias("n"))
    b = vt.select(F.col("source").alias("src_b"), "tok")
    inter = (
        vt.select(F.col("source").alias("src_a"), "tok")
        .join(b, "tok")
        .filter(F.col("src_a") < F.col("src_b"))
        .groupBy("src_a", "src_b")
        .agg(F.count("*").alias("common_vocab"))
    )
    na = sz.select(F.col("source").alias("src_a"), F.col("n").alias("n_a"))
    nb = sz.select(F.col("source").alias("src_b"), F.col("n").alias("n_b"))
    cv = F.col("common_vocab")
    return (
        inter.join(na, "src_a")
        .join(nb, "src_b")
        .select(
            "src_a",
            "src_b",
            "common_vocab",
            r4(cv * 1.0 / (F.col("n_a") + F.col("n_b") - cv)).alias(
                "vocab_jaccard"
            ),
            r4(cv * 1.0 / F.least("n_a", "n_b")).alias(
                "vocab_containment"
            ),
        )
        .orderBy("src_a", "src_b")
    )


# ---------------------------------------------------------------------------
# x110 — vocabulary tail health: hapax rate per source
# ---------------------------------------------------------------------------

_X110_RARE = 2  # "rare" = appearing at most this many times in a source


@register(
    "x110_hapax_rate",
    rf"""
    WITH tok AS (
        SELECT source,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS w
        FROM documents
    ),
    tf AS (SELECT source, w, COUNT(*) AS c FROM tok GROUP BY 1, 2),
    s AS (
        SELECT source,
               COUNT(*) AS vocab,
               SUM(c) AS n_tokens,
               SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS hapax,
               SUM(CASE WHEN c <= {_X110_RARE} THEN 1 ELSE 0 END)
                   AS rare_types
        FROM tf GROUP BY 1
    )
    SELECT source, n_tokens, vocab, hapax,
           {{HR}} AS hapax_rate,
           {{RR}} AS rare_type_rate,
           {{TTR}} AS type_token_ratio
    FROM s
    ORDER BY source
    """.replace("{HR}", r4sql("hapax * 1.0 / vocab"))
        .replace("{RR}", r4sql("rare_types * 1.0 / vocab"))
        .replace("{TTR}", r4sql("vocab * 1.0 / n_tokens")),
    doc="EXT x110 — VOCABULARY TAIL HEALTH per source: hapax-legomenon "
    "rate (types seen exactly once over total types), rare-type rate "
    "(<=2 occurrences), and type-token ratio — the Zipf-tail "
    "diagnostics that catch two opposite corpus defects a mean "
    "quality score misses: machine-generated/templated text "
    "(abnormally LOW hapax rate — the generator reuses its "
    "vocabulary) and OCR noise/mojibake (abnormally HIGH — every "
    "error mints a new 'type'). Pairs with a28's Zipf exponent "
    "(slope of the head) by measuring the tail mass directly. "
    "Shape: one tokenize explode, one (source, word) hash-agg "
    "(Heaps-bounded), one per-source fold — all counts exact ints, "
    "ratios r4-dressed.",
    tags=("ext", "textstats", "quality"),
    late=True,
)
def x110_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "source",
        F.explode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("w"),
    )
    tf = tok.groupBy("source", "w").agg(F.count("*").alias("c"))
    s = tf.groupBy("source").agg(
        F.count("*").alias("vocab"),
        F.sum("c").alias("n_tokens"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).alias("hapax"),
        F.sum(
            F.when(F.col("c") <= _X110_RARE, 1).otherwise(0)
        ).alias("rare_types"),
    )
    return s.select(
        "source",
        "n_tokens",
        "vocab",
        "hapax",
        r4(F.col("hapax") * 1.0 / F.col("vocab")).alias("hapax_rate"),
        r4(F.col("rare_types") * 1.0 / F.col("vocab")).alias(
            "rare_type_rate"
        ),
        r4(F.col("vocab") * 1.0 / F.col("n_tokens")).alias(
            "type_token_ratio"
        ),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# x111 — conditional bigram entropy (text predictability per source)
# ---------------------------------------------------------------------------


@register(
    "x111_conditional_entropy",
    rf"""
    WITH w AS (
        SELECT source, doc_id,
               generate_subscripts(
                   string_split_regex(LOWER(TRIM(text)), '\s+'), 1) AS pos,
               UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+')) AS word
        FROM documents
    ),
    bg AS (
        SELECT source, word AS w1,
               LEAD(word) OVER (PARTITION BY doc_id ORDER BY pos) AS w2
        FROM w
    ),
    cb AS (
        SELECT source, w1, w2, COUNT(*) AS c
        FROM bg WHERE w2 IS NOT NULL GROUP BY 1, 2, 3
    ),
    c1 AS (SELECT source, w1, SUM(c) AS c FROM cb GROUP BY 1, 2),
    tot AS (SELECT source, SUM(c) AS n FROM cb GROUP BY 1),
    hj AS (
        SELECT cb.source,
               -SUM((cb.c * 1.0 / t.n) * LN(cb.c * 1.0 / t.n)) AS h_joint
        FROM cb JOIN tot t ON cb.source = t.source GROUP BY 1
    ),
    hc AS (
        SELECT c1.source,
               -SUM((c1.c * 1.0 / t.n) * LN(c1.c * 1.0 / t.n)) AS h_ctx
        FROM c1 JOIN tot t ON c1.source = t.source GROUP BY 1
    )
    SELECT t.source, t.n AS n_bigrams,
           {{HC}} AS cond_entropy_nats,
           {{HX}} AS context_entropy_nats,
           {{PPL}} AS bigram_ppl
    FROM tot t
    JOIN hj ON t.source = hj.source
    JOIN hc ON t.source = hc.source
    ORDER BY t.source
    """.replace("{HC}", r4sql("hj.h_joint - hc.h_ctx"))
        .replace("{HX}", r4sql("hc.h_ctx"))
        .replace("{PPL}", r4sql("EXP(hj.h_joint - hc.h_ctx)")),
    doc="EXT x111 — CONDITIONAL BIGRAM ENTROPY per source: "
    "H(next word | current word) = H(bigram) - H(context), with its "
    "exp as the bigram perplexity — the model-free text-"
    "predictability number that separates templated/boilerplate "
    "sources (low: the next word is nearly determined) from diverse "
    "prose (high) WITHOUT training the x62/x91 language models whose "
    "scores it sanity-checks; x110 measures the vocabulary tail, "
    "this measures the transition structure over it. Exactness: "
    "both entropies fold from exact bigram/context counts against "
    "the same total (identical integer ratios, LN at the end, "
    "r4-dressed). Shape: one tokenize explode, a per-doc LEAD window "
    "(partitioned by doc — fully parallel), Heaps-bounded bigram "
    "and context hash-aggs, tiny per-source folds.",
    tags=("ext", "textstats", "analytics"),
    late=True,
)
def x111_conditional_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    w = docs.select(
        "source",
        "doc_id",
        F.posexplode(
            F.split(F.lower(F.trim(F.col("text"))), r"\s+")
        ).alias("pos", "word"),
    )
    bg = w.select(
        "source",
        F.col("word").alias("w1"),
        F.lead("word")
        .over(Window.partitionBy("doc_id").orderBy("pos"))
        .alias("w2"),
    ).filter(F.col("w2").isNotNull())
    cb = bg.groupBy("source", "w1", "w2").agg(F.count("*").alias("c"))
    cb = cb.transform(lazy_barrier)  # feeds contexts, totals, and H(joint)
    c1 = cb.groupBy("source", "w1").agg(F.sum("c").alias("c"))
    tot = cb.groupBy("source").agg(F.sum("c").alias("n"))

    def entropy(df: DataFrame, out: str) -> DataFrame:
        p = F.col("c") * 1.0 / F.col("n")
        return (
            df.join(tot, "source")
            .groupBy("source")
            .agg((-F.sum(p * F.log(p))).alias(out))
        )

    hj = entropy(cb, "h_joint")
    hc = entropy(c1, "h_ctx")
    cond = F.col("h_joint") - F.col("h_ctx")
    return (
        tot.join(hj, "source")
        .join(hc, "source")
        .select(
            "source",
            F.col("n").alias("n_bigrams"),
            r4(cond).alias("cond_entropy_nats"),
            r4("h_ctx").alias("context_entropy_nats"),
            r4(F.exp(cond)).alias("bigram_ppl"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# x113 — interpolated Kneser-Ney bigram LM score per document
# ---------------------------------------------------------------------------

_X113_D = 0.75  # absolute discount


@register(
    "x113_kneser_ney_score",
    rf"""
    WITH toks AS (
        SELECT doc_id, pos, token FROM (
            SELECT doc_id,
                   generate_subscripts(l, 1) AS pos,
                   UNNEST(l) AS token
            FROM (SELECT doc_id,
                         string_split_regex(LOWER(TRIM(text)), '\s+') AS l
                  FROM documents)
        ) WHERE token <> ''
    ),
    big AS (
        SELECT doc_id, w1, w2 FROM (
            SELECT doc_id, token AS w1,
                   LEAD(token) OVER (
                       PARTITION BY doc_id ORDER BY pos) AS w2
            FROM toks
        ) WHERE w2 IS NOT NULL
    ),
    bc AS (SELECT w1, w2, COUNT(*) AS c2 FROM big GROUP BY 1, 2),
    w1s AS (
        SELECT w1, SUM(c2) AS c1, COUNT(*) AS fanout
        FROM bc GROUP BY w1
    ),
    w2s AS (SELECT w2, COUNT(*) AS fanin FROM bc GROUP BY w2),
    tt AS (SELECT COUNT(*) AS n_types FROM bc)
    SELECT big.doc_id, COUNT(*) AS n_bigrams,
           {r4sql(
               f"AVG(LN((bc.c2 - {_X113_D}) / w1s.c1"
               f" + {_X113_D} * w1s.fanout / w1s.c1"
               f"   * w2s.fanin / tt.n_types))"
           )} AS avg_kn_logprob
    FROM big
    JOIN bc USING (w1, w2)
    JOIN w1s ON big.w1 = w1s.w1
    JOIN w2s ON big.w2 = w2s.w2
    CROSS JOIN tt
    GROUP BY big.doc_id
    """,
    doc="EXT x113 — interpolated KNESER-NEY bigram score per document: "
    "P(w2|w1) = (c(w1,w2)-D)/c(w1) + D*N1+(w1,.)/c(w1) * Pcont(w2), "
    "with the continuation probability Pcont(w2) = N1+(.,w2) / "
    "|bigram types| — the smoothing that made KenLM the standard "
    "corpus-quality gate: unlike x62's Jelinek-Mercer interpolation "
    "(frequency-weighted unigram backoff), KN backs off to how many "
    "CONTEXTS a word completes, so boilerplate tokens that are "
    "frequent but context-locked ('www' after only 3 predecessors) "
    "stop inflating the backoff mass. Every doc bigram has c2 >= 1 "
    "in the self-trained model, so (c2-D) > 0 and no zero-prob guard "
    "is needed. Shape: x62's substrate — one doc-keyed shuffle for "
    "the bigram window; per-w1 stats (c1, fanout) and per-w2 fanin "
    "are VOCAB-bounded (Heaps) and broadcast; the bigram-type join "
    "carries NO hint (near-linear growth, AQE decides); scoring is "
    "one hash-agg.",
    tags=("ext", "textstats", "quality"),
    late=True,
)
def x113_kneser_ney_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.posexplode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("pos", "token"),
        )
        .filter(F.col("token") != "")
    )
    w = Window.partitionBy("doc_id").orderBy("pos")
    big = (
        toks.select(
            "doc_id",
            F.col("token").alias("w1"),
            F.lead("token").over(w).alias("w2"),
        )
        .filter(F.col("w2").isNotNull())
        .transform(lazy_barrier)  # feeds type counts AND the scoring join
    )
    bc = big.groupBy("w1", "w2").agg(F.count("*").alias("c2"))
    bc = bc.transform(lazy_barrier)  # feeds w1/w2 stats AND the score join
    w1s = bc.groupBy("w1").agg(
        F.sum("c2").alias("c1"), F.count("*").alias("fanout")
    )
    w2s = bc.groupBy("w2").agg(F.count("*").alias("fanin"))
    tt = bc.agg(F.count("*").alias("n_types"))
    d = _X113_D
    p_kn = (
        (F.col("c2") - d) / F.col("c1")
        + d * F.col("fanout") / F.col("c1")
        * F.col("fanin") / F.col("n_types")
    )
    return (
        big.join(bc, ["w1", "w2"])
        .join(F.broadcast(w1s), "w1")
        .join(F.broadcast(w2s), "w2")
        .crossJoin(F.broadcast(tt))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            r4(F.avg(F.log(p_kn))).alias("avg_kn_logprob"),
        )
    )


# ---------------------------------------------------------------------------
# x119 — stylometric Burrows' Delta between sources
# ---------------------------------------------------------------------------

_X119_TOP_K = 30  # most-frequent corpus tokens used as the style basis


@register(
    "x119_stylometric_delta",
    rf"""
    WITH toks AS (
        SELECT source, token FROM (
            SELECT source,
                   UNNEST(string_split_regex(LOWER(TRIM(text)), '\s+'))
                       AS token
            FROM documents
        ) WHERE token <> ''
    ),
    fw AS (
        SELECT token FROM (
            SELECT token, COUNT(*) AS c,
                   ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, token)
                       AS rk
            FROM toks GROUP BY token
        ) WHERE rk <= {_X119_TOP_K}
    ),
    stot AS (SELECT source, COUNT(*) AS n FROM toks GROUP BY source),
    freq AS (
        SELECT s.source, f.token,
               CAST(COALESCE(c.c, 0) AS DOUBLE) / s.n AS rel
        FROM stot s CROSS JOIN fw f
        LEFT JOIN (
            SELECT source, token, COUNT(*) AS c
            FROM toks JOIN fw USING (token)
            GROUP BY source, token
        ) c ON c.source = s.source AND c.token = f.token
    ),
    wstats AS (
        SELECT token, AVG(rel) AS mu,
               CASE WHEN COUNT(*) > 1 THEN
                   SQRT((SUM(rel * rel) - SUM(rel) * SUM(rel) / COUNT(*))
                        / (COUNT(*) - 1))
               END AS sd
        FROM freq GROUP BY token
    ),
    z AS (
        SELECT f.source, f.token, (f.rel - w.mu) / w.sd AS z
        FROM freq f JOIN wstats w ON f.token = w.token
        WHERE w.sd > 0
    )
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(COUNT(*) AS BIGINT) AS n_markers,
           {r4sql("AVG(ABS(a.z - b.z))")} AS burrows_delta
    FROM z a JOIN z b
      ON a.token = b.token AND a.source < b.source
    GROUP BY a.source, b.source
    ORDER BY source_a, source_b
    """,
    doc="EXT x119 — STYLOMETRIC Burrows' Delta between sources: "
    f"relative frequencies of the {_X119_TOP_K} most frequent corpus "
    "tokens (function words — style carriers, not topic carriers), "
    "z-scored per token ACROSS sources, Delta(a,b) = mean |z_a − "
    "z_b| — the century-old authorship-attribution measure, "
    "repurposed as the corpus-QA probe for SOURCE STYLE DRIFT: two "
    "crawls of the same site should sit near 0; a 'web' source "
    "whose delta to 'wiki' suddenly halves after a pipeline change "
    "means template contamination has blended them (x105 measures "
    "shared VOCABULARY, x98 topic JSD — this isolates STYLE, which "
    "survives topic shift). Constant-across-sources markers (sd = 0) "
    "carry no signal and are excluded; n_markers records the basis "
    "actually used. Deterministic: top-K by (count DESC, token) is a "
    "total order. Shape: one token hash-agg for the corpus top-K "
    "(vocab-bounded), one source×marker matrix (sources × K cells — "
    "tiny), z-scoring and the pair join all run on that bounded "
    "matrix; the corpus is scanned once.",
    tags=("ext", "textstats", "eval"),
    late=True,
)
def x119_stylometric_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = (
        _docs(spark, sf_dir)
        .select(
            "source",
            F.explode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("token"),
        )
        .filter(F.col("token") != "")
        .transform(lazy_barrier)  # feeds top-K, totals AND marker counts
    )
    # top-K via orderBy().limit() — TakeOrderedAndProject runs
    # per-partition heaps + a K-row driver merge, never funnelling the
    # whole Heaps-bounded vocab into ONE global-window task (r11
    # review finding; same pattern as x23/x36/x58/x88). (c desc,
    # token) is a total order over distinct tokens, so the K-set is
    # identical to the row_number form.
    fw = (
        toks.groupBy("token")
        .agg(F.count("*").alias("c"))
        .orderBy(F.col("c").desc(), "token")
        .limit(_X119_TOP_K)
        .select("token")
    )
    stot = toks.groupBy("source").agg(F.count("*").alias("n"))
    counts = (
        toks.join(F.broadcast(fw), "token")
        .groupBy("source", "token")
        .agg(F.count("*").alias("c"))
    )
    freq = (
        stot.crossJoin(F.broadcast(fw))
        .join(counts, ["source", "token"], "left")
        .select(
            "source",
            "token",
            (
                F.coalesce(F.col("c"), F.lit(0)).cast("double")
                / F.col("n")
            ).alias("rel"),
        )
        .transform(lazy_barrier)  # feeds marker stats AND both z sides
    )
    wstats = freq.groupBy("token").agg(
        F.avg("rel").alias("mu"),
        F.when(
            F.count("*") > 1,
            F.sqrt(
                (
                    F.sum(F.col("rel") * F.col("rel"))
                    - F.sum("rel") * F.sum("rel") / F.count("*")
                )
                / (F.count("*") - 1)
            ),
        ).alias("sd"),
    )
    z = (
        freq.join(F.broadcast(wstats), "token")
        .filter(F.col("sd") > 0)
        .select(
            "source",
            "token",
            ((F.col("rel") - F.col("mu")) / F.col("sd")).alias("z"),
        )
    )
    za = z.select(
        F.col("source").alias("source_a"), "token", F.col("z").alias("za")
    )
    zb = z.select(
        F.col("source").alias("source_b"), "token", F.col("z").alias("zb")
    )
    return (
        za.join(zb, "token")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(
            F.count("*").alias("n_markers"),
            r4(F.avg(F.abs(F.col("za") - F.col("zb")))).alias(
                "burrows_delta"
            ),
        )
        .orderBy("source_a", "source_b")
    )


# ---------------------------------------------------------------------------
# x124 — HTML/markup → clean-text extraction (trafilatura/jusText shape)
# ---------------------------------------------------------------------------

from server_spark.functions.markup import (  # noqa: E402
    extract_clean_text,
    extract_sql_ctes,
    links_sql,
    outlinks,
    synthetic_page,
    synthetic_page_sql,
)


@register(
    "x124_markup_extract",
    f"""
    WITH pages AS (
        SELECT doc_id, {synthetic_page_sql()} AS html FROM documents
    ),
    {extract_sql_ctes()}
    SELECT doc_id, clean_text, n_lines, n_kept, total_words,
           kept_words, boilerplate_word_share
    FROM extracted
    """,
    doc="EXT x124 — HTML→CLEAN-TEXT extraction, the first transform "
    "of a real pretraining pipeline (trafilatura/jusText shape): "
    "drop script/style blocks, break the page at block-level closing "
    "tags, strip remaining tags, decode entities, then keep only "
    "lines with >=5 words and link density under 0.2 (integer "
    "compare: links*5 < words) — nav bars, share buttons and footers "
    "are short and link-dense; body prose is long and link-free. "
    "Input pages are a deterministic HTML wrapping of documents.text "
    "that PLANTS every boilerplate class (nav/h1/share/footer/"
    "script/style + an &amp; entity in the body), built from one "
    "parts table shared by both dialects. Output includes the exact "
    "extracted STRING (hash-checked), line/word counts and the "
    "boilerplate word share. Shape: builtins-only narrow map "
    "(regexp_replace + split + HOF transform/filter/aggregate) — "
    "whole-stage codegen, no Python workers, no shuffle; at 100 TB "
    "this runs at scan speed as the head of the ingest funnel.",
    tags=("ext", "textstats", "markup"),
    late=True,
)
def x124_markup_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repartition: the heavy per-row regex chain would otherwise run
    # in as many tasks as the (single, local) input split — one
    # narrow shuffle of the pruned columns buys full-core width; at
    # 100 TB the same knob matches stage width to cluster cores when
    # input files are coarse.
    pages = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .select(
            "doc_id",
            synthetic_page(F.col("doc_id"), F.col("text")).alias("html"),
        )
    )
    return extract_clean_text(pages).drop("html")


# ---------------------------------------------------------------------------
# x126 — outlink extraction / link-graph degree stats over markup
# ---------------------------------------------------------------------------


@register(
    "x126_outlink_stats",
    f"""
    WITH pages AS (
        SELECT doc_id, {synthetic_page_sql()} AS html FROM documents
    ),
    {links_sql()}
    SELECT href,
           CAST(COUNT(*) AS BIGINT) AS n_refs,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM links
    GROUP BY href
    """,
    doc="EXT x126 — OUTLINK extraction + link-graph degree stats: all "
    "href targets pulled from the raw markup (regexp_extract_all — "
    "the crawl-frontier/domain-weighting input a web-scale corpus "
    "builds before curation: in-degree is the classic page-quality "
    "prior, and per-target doc counts drive domain caps). The "
    "synthetic pages carry both fixed chrome links and a per-doc "
    "/doc/<id%50> outlink, so degrees are non-uniform and the "
    "distinct-doc vs total-ref distinction is exercised. Shape: one "
    "narrow map (extract_all) + explode + hash-agg on the href key — "
    "at 100 TB the explode stays inside the scan task and the agg "
    "shuffles only (href, partial counts), the map-side-combine "
    "ideal.",
    tags=("ext", "markup", "graph"),
    late=True,
)
def x126_outlink_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = _docs(spark, sf_dir).select(
        "doc_id",
        synthetic_page(F.col("doc_id"), F.col("text")).alias("html"),
    )
    links = pages.select(
        "doc_id", F.explode(outlinks(F.col("html"))).alias("href")
    )
    return links.groupBy("href").agg(
        F.count("*").alias("n_refs"),
        F.countDistinct("doc_id").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# x127 — per-source boilerplate profile (extraction → curation rollup)
# ---------------------------------------------------------------------------


@register(
    "x127_boilerplate_profile",
    f"""
    WITH pages AS (
        SELECT doc_id, source, {synthetic_page_sql()} AS html
        FROM documents
    ),
    {extract_sql_ctes(carry="source")}
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN n_kept = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_empty,
           CAST(SUM(kept_words) AS BIGINT) AS kept_words,
           CAST(SUM(total_words) AS BIGINT) AS total_words,
           {r4sql("CASE WHEN SUM(total_words) > 0 THEN "
                  "CAST(SUM(total_words) - SUM(kept_words) AS DOUBLE)"
                  " / SUM(total_words) ELSE 0.0 END")}
               AS boiler_word_share
    FROM extracted
    GROUP BY source
    """,
    doc="EXT x127 — per-SOURCE boilerplate profile: x124's extraction "
    "rolled up by corpus source — docs, empty-extraction count, "
    "kept/total words and the boilerplate word share — the review a "
    "curation team runs to decide which sources need a different "
    "extraction recipe or get dropped (a source whose pages are "
    "mostly chrome yields few tokens per fetched byte). The share "
    "is derived from INTEGER word sums (one division at the end), "
    "so cross-engine float summation order cannot move it. Shape: "
    "extraction is a narrow map with `source` carried through, then "
    "one hash-agg on a low-cardinality key — no join (the carry "
    "avoids re-reading documents), no window.",
    tags=("ext", "markup", "textstats"),
    late=True,
)
def x127_boilerplate_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    # repartition before the regex-heavy extraction (see x124's note)
    pages = (
        _docs(spark, sf_dir)
        .select("doc_id", "source", "text")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .select(
            "doc_id",
            "source",
            synthetic_page(F.col("doc_id"), F.col("text")).alias("html"),
        )
    )
    ext = extract_clean_text(pages)
    return ext.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum((F.col("n_kept") == 0).cast("int"))
        .cast("bigint")
        .alias("n_empty"),
        F.sum("kept_words").alias("kept_words"),
        F.sum("total_words").alias("total_words"),
        # zero-guard (mirrors x124's CASE): a source whose every page
        # extracts zero words must not divide by zero on either engine
        r4(
            F.when(
                F.sum("total_words") > 0,
                (F.sum("total_words") - F.sum("kept_words"))
                .cast("double")
                / F.sum("total_words"),
            ).otherwise(0.0)
        ).alias("boiler_word_share"),
    )


# ---------------------------------------------------------------------------
# x132 — outlink policy screen (URL-pattern curation gate)
# ---------------------------------------------------------------------------

# Path patterns a curation policy downweights: auth/account chrome and
# tracking fragments tell you a link is site furniture, not content.
_X132_DENY = ("/login", "/signup", "/account", "#")


@register(
    "x132_link_policy_screen",
    f"""
    WITH pages AS (
        SELECT doc_id, {synthetic_page_sql()} AS html FROM documents
    ),
    {links_sql()},
    flagged AS (
        SELECT doc_id, href,
               ({" OR ".join(f"href LIKE '{p}%'" for p in _X132_DENY)})
                   AS denied
        FROM links
    )
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_links,
           CAST(SUM(CASE WHEN denied THEN 1 ELSE 0 END) AS BIGINT)
               AS n_denied,
           {r4sql("CAST(SUM(CASE WHEN denied THEN 1 ELSE 0 END) AS DOUBLE)"
                  " / COUNT(*)")} AS denied_share,
           CAST(SUM(CASE WHEN href LIKE '/doc/%' THEN 1 ELSE 0 END)
                AS BIGINT) AS n_content
    FROM flagged
    GROUP BY doc_id
    """,
    doc="EXT x132 — OUTLINK POLICY screen, the RefinedWeb-style URL "
    "curation gate run on x126's extraction: per document, how many "
    "outlinks exist, how many hit the deny patterns (auth/account "
    "chrome, fragment-only links), the denied share, and how many "
    "point at content (/doc/...) — the per-page furniture-vs-content "
    "signal that feeds crawl prioritization and page-quality priors. "
    "Integer counts + one final division (r4-canonical), LIKE "
    "prefix patterns identical in both dialects. Shape: narrow map "
    "+ explode + one hash-agg on doc_id — scan-speed at any corpus "
    "size.",
    tags=("ext", "markup", "filter"),
    late=True,
)
def x132_link_policy_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = _docs(spark, sf_dir).select(
        "doc_id",
        synthetic_page(F.col("doc_id"), F.col("text")).alias("html"),
    )
    links = pages.select(
        "doc_id", F.explode(outlinks(F.col("html"))).alias("href")
    )
    denied = None
    for p in _X132_DENY:
        cond = F.col("href").startswith(p)
        denied = cond if denied is None else (denied | cond)
    return links.groupBy("doc_id").agg(
        F.count("*").alias("n_links"),
        F.sum(denied.cast("int")).cast("bigint").alias("n_denied"),
        r4(
            F.sum(denied.cast("int")).cast("double") / F.count("*")
        ).alias("denied_share"),
        F.sum(F.col("href").startswith("/doc/").cast("int"))
        .cast("bigint")
        .alias("n_content"),
    )


# ---------------------------------------------------------------------------
# x138 — extraction → quality-gate funnel (end-to-end ingest composition)
# ---------------------------------------------------------------------------


@register(
    "x138_extraction_funnel",
    f"""
    WITH pages AS (
        SELECT doc_id, source, {synthetic_page_sql()} AS html
        FROM documents
    ),
    {extract_sql_ctes(carry="source")},
    gated AS (
        SELECT doc_id, source, kept_words,
               CASE WHEN n_kept = 0 THEN 'no_content'
                    WHEN kept_words < 10 THEN 'too_short'
                    WHEN boilerplate_word_share > 0.9 THEN 'mostly_chrome'
                    ELSE 'keep' END AS verdict
        FROM extracted
    )
    SELECT source, verdict,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(kept_words) AS BIGINT) AS clean_tokens
    FROM gated
    GROUP BY source, verdict
    """,
    doc="EXT x138 — the INGEST FUNNEL end-to-end: raw page → markup "
    "extraction (x124's rules, source carried through) → quality "
    "gate on the EXTRACTED text (no-content / too-short / "
    "mostly-chrome / keep, x18's first-failed-rule shape) → "
    "per-source verdict counts and surviving clean-token volume. "
    "This is the number a corpus team actually reports per crawl "
    "batch: how many fetched pages became usable training tokens, "
    "by source and drop reason — and it PROVES the extraction and "
    "gating operators compose in one plan (single narrow map chain "
    "+ one hash-agg; the oracle composes the same CTEs). Gate "
    "thresholds are integer/ratio compares on r4-canonical values, "
    "so both engines agree exactly.",
    tags=("ext", "markup", "filter", "pipeline"),
    late=True,
)
def x138_extraction_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = (
        _docs(spark, sf_dir)
        .select("doc_id", "source", "text")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .select(
            "doc_id",
            "source",
            synthetic_page(F.col("doc_id"), F.col("text")).alias("html"),
        )
    )
    ext = extract_clean_text(pages)
    gated = ext.select(
        "doc_id",
        "source",
        "kept_words",
        F.when(F.col("n_kept") == 0, "no_content")
        .when(F.col("kept_words") < 10, "too_short")
        .when(F.col("boilerplate_word_share") > 0.9, "mostly_chrome")
        .otherwise("keep")
        .alias("verdict"),
    )
    return gated.groupBy("source", "verdict").agg(
        F.count("*").alias("n_docs"),
        F.sum("kept_words").cast("bigint").alias("clean_tokens"),
    )
