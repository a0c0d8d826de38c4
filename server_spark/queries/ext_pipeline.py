"""EXT pipeline family: splits, quality gates, sampling, packing,
mixing, batching, multimodal plumbing, UDTF chunking (SURVEY.md §7.4
— the corpus-assembly steps around the dedup/text operators).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from server_spark import tables
from server_spark.barrier import barrier, lazy_barrier
from server_spark.parity import r4, r4sql
from server_spark.queries.ext_common import (
    HASH_SPLIT_SQL,
    _docs,
    hash_split_col,
)
from server_spark.registry import auctions_sql, register
from server_spark.textstats import analysis as tx

# ---------------------------------------------------------------------------
# x17 — deterministic hash split; x18 — quality filter pipeline
# ---------------------------------------------------------------------------


@register(
    "x17_hash_split",
    f"""
    SELECT doc_id,
           substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hash_bucket,
           {HASH_SPLIT_SQL} AS split
    FROM documents
    """,
    doc="EXT x17 — deterministic train/val/test split: md5-prefix "
    "bucketing (~80/10/10 via lexicographic hex thresholds). Pure "
    "narrow map, reproducible across engines/runs/cluster sizes — the "
    "property a training pipeline needs from a split (no sampling "
    "state, membership is a function of the id alone).",
    tags=("ext", "split"),
    late=True,
)
def x17_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    h2 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2)
    return _docs(spark, sf_dir).select(
        "doc_id",
        h2.alias("hash_bucket"),
        hash_split_col().alias("split"),
    )


@register(
    "x18_quality_filter",
    r"""
    WITH m AS (
        SELECT doc_id,
               len(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tokens,
               CAST(LENGTH(regexp_replace(LOWER(text), '[^a-z]', '', 'g'))
                    AS DOUBLE) / NULLIF(LENGTH(text), 0) AS alpha_ratio
        FROM documents
    )
    SELECT doc_id, n_tokens, alpha_ratio,
           CASE WHEN n_tokens < 10 THEN 'too_short'
                WHEN n_tokens > 5000 THEN 'too_long'
                WHEN alpha_ratio < 0.55 THEN 'low_alpha'
                ELSE 'keep' END AS verdict,
           (n_tokens >= 10 AND n_tokens <= 5000 AND alpha_ratio >= 0.55)
               AS keep
    FROM m
    """,
    doc="EXT x18 — C4/Gopher-style quality FILTER pipeline: the x4 "
    "metrics composed into a keep/drop verdict with the first failed "
    "rule as the reason — the actual gate a pretraining corpus build "
    "applies, as one codegen narrow map.",
    tags=("ext", "textstats", "filter"),
    late=True,
)
def x18_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = F.col("text")
    n_tokens = tx.token_count()
    # try_divide ↔ NULLIF in the oracle: an empty doc yields NULL
    # alpha_ratio (verdict falls through to 'keep'-chain NULL handling)
    # instead of aborting the scan under ANSI mode
    alpha_ratio = F.try_divide(
        F.length(F.regexp_replace(F.lower(t), r"[^a-z]", "")).cast("double"),
        F.length(t),
    )
    m = _docs(spark, sf_dir).select(
        "doc_id", n_tokens.alias("n_tokens"), alpha_ratio.alias("alpha_ratio")
    )
    return m.select(
        "doc_id",
        "n_tokens",
        "alpha_ratio",
        F.when(F.col("n_tokens") < 10, "too_short")
        .when(F.col("n_tokens") > 5000, "too_long")
        .when(F.col("alpha_ratio") < 0.55, "low_alpha")
        .otherwise("keep")
        .alias("verdict"),
        (
            (F.col("n_tokens") >= 10)
            & (F.col("n_tokens") <= 5000)
            & (F.col("alpha_ratio") >= 0.55)
        ).alias("keep"),
    )


# ---------------------------------------------------------------------------
# x19 — deterministic stratified sample; x20 — sequence packing
# ---------------------------------------------------------------------------

STRATUM_N = 50        # docs kept per language stratum
PACK_BUDGET = 2048    # token budget per packed training sequence


def packing_ctes() -> str:
    """SINGLE SOURCE OF TRUTH for x20's oracle-side packing rule
    (tokenizer, shard prefix, budget math), shared by the x20 producer
    and the x115 efficiency eval — mirroring the cdc_chunks_sql /
    _dense_daily_ctes pattern, so a change to the packing rule can
    never silently drift one oracle away from the other."""
    return rf"""toks AS (
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
               len(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tokens
        FROM documents
    ),
    packed AS (
        SELECT doc_id, shard, n_tokens,
               CAST((SUM(n_tokens) OVER w - n_tokens) // {PACK_BUDGET}
                    AS BIGINT) AS pack_id,
               CAST((SUM(n_tokens) OVER w - n_tokens) % {PACK_BUDGET}
                    AS BIGINT) AS pack_offset
        FROM toks
        WINDOW w AS (PARTITION BY shard ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING)
    )"""


@register(
    "x19_stratified_sample",
    f"""
    SELECT doc_id, lang, rn FROM (
        SELECT doc_id, lang,
               ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS rn
        FROM documents
    ) WHERE rn <= {STRATUM_N}
    """,
    doc="EXT x19 — stratified sampling, hash-rank form: first N per "
    "language by md5 order. Unlike rng sampling this is reproducible "
    "across engines, runs and cluster sizes, composes with "
    "incremental data (a doc's rank only changes if earlier-hashed "
    "docs arrive), and is one window per stratum — no sampling state.",
    tags=("ext", "sample"),
    late=True,
)
def x19_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "lang", F.row_number().over(w).alias("rn"))
        .filter(F.col("rn") <= STRATUM_N)
    )


@register(
    "x20_sequence_packing",
    f"""
    WITH {packing_ctes()}
    SELECT doc_id, shard, n_tokens, pack_id, pack_offset FROM packed
    """,
    doc="EXT x20 — sequence PACKING: greedy concat of documents into "
    "~token-budget training sequences via a running token count "
    "(pack id = starting offset ÷ budget). Sharded by an md5 prefix "
    "so the window never needs a global sort — each shard packs "
    "independently, which is exactly how a distributed packer runs at "
    "100 TB (pack within partitions, never across).",
    tags=("ext", "packing"),
    late=True,
)
def x20_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    toks = _docs(spark, sf_dir).select(
        "doc_id",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("shard"),
        tx.token_count().alias("n_tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    start = F.sum("n_tokens").over(w) - F.col("n_tokens")
    return toks.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(start / PACK_BUDGET).cast("long").alias("pack_id"),
        (start % PACK_BUDGET).cast("long").alias("pack_offset"),
    )


# ---------------------------------------------------------------------------
# x28 — source mixing budget (per-source token allocation)
# ---------------------------------------------------------------------------


@register(
    "x28_source_mix_budget",
    rf"""
    WITH per_source AS (
        SELECT source,
               COUNT(*) AS n_docs,
               CAST(SUM(len(string_split_regex(LOWER(TRIM(text)), '\s+'))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               COUNT(*) AS n_sources
        FROM per_source
    )
    SELECT s.source, s.n_docs, s.n_tokens,
           {r4sql("LEAST(CAST(2.0 AS DOUBLE),"
                  " (CAST(t.total_tokens AS DOUBLE) / t.n_sources)"
                  " / s.n_tokens)")} AS mix_weight,
           CAST(FLOOR(LEAST(CAST(2.0 AS DOUBLE),
                    (CAST(t.total_tokens AS DOUBLE) / t.n_sources)
                    / s.n_tokens) * s.n_tokens) AS BIGINT)
               AS budget_tokens
    FROM per_source s CROSS JOIN tot t
    """,
    doc="EXT x28 — dataset mixing: allocate a per-source token budget "
    "toward a uniform target share, capping oversampling at 2 "
    "epochs (the standard mixture-reweighting step before corpus "
    "assembly; pairs with the x19 stratified sampler that realizes "
    "the rates). One hash-agg over the corpus + a broadcast scalar "
    "join — the weight math runs on a few rows. The budget is "
    "floor(weight × tokens) in pure IEEE double arithmetic, "
    "identical across engines.",
    tags=("ext", "textstats", "sampling"),
    late=True,
)
def x28_source_mix_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    per_source = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(tx.token_count()).alias("n_tokens"),
        )
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    j = per_source.crossJoin(F.broadcast(tot))
    target = F.col("total_tokens").cast("double") / F.col("n_sources")
    weight = F.least(F.lit(2.0), target / F.col("n_tokens"))
    return j.select(
        "source",
        "n_docs",
        "n_tokens",
        r4(weight).alias("mix_weight"),
        F.floor(weight * F.col("n_tokens")).cast("long").alias("budget_tokens"),
    )


# ---------------------------------------------------------------------------
# x31 — length-bucketed inference batching (padding-waste minimizer)
# ---------------------------------------------------------------------------

BATCH_SIZE = 32


@register(
    "x31_length_batching",
    rf"""
    WITH lens AS (
        SELECT doc_id,
               len(string_split_regex(LOWER(TRIM(text)), '\s+')) AS n_tokens
        FROM documents
    ),
    ranked AS (
        SELECT doc_id, n_tokens,
               ROW_NUMBER() OVER (ORDER BY n_tokens, doc_id) AS rn
        FROM lens
    )
    SELECT CAST((rn - 1) // {BATCH_SIZE} AS BIGINT) AS batch_id,
           COUNT(*) AS n_docs,
           MAX(n_tokens) AS max_tokens,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens,
           CAST(COUNT(*) * MAX(n_tokens) - SUM(n_tokens) AS BIGINT)
               AS padded_waste
    FROM ranked
    GROUP BY 1
    """,
    doc="EXT x31 — dynamic batching for inference/training: documents "
    "sorted by token length and cut into fixed-size batches, so each "
    "batch pads only to ITS OWN max length — `padded_waste` counts "
    "the pad tokens a length-sorted batch still spends (vs. the "
    "corpus-max padding of naive batching). The global rank uses "
    "operators/ranking.global_row_number — range-partition by "
    "(n_tokens, doc_id), rank locally, shift by per-partition prefix "
    "counts — so no stage ever sorts more than one range slice (the "
    "naive ROW_NUMBER-over-everything window would funnel 100 TB "
    "through one task).",
    tags=("ext", "textstats", "batching"),
    late=True,
)
def x31_length_batching(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.operators.ranking import global_row_number

    lens = _docs(spark, sf_dir).select(
        "doc_id", tx.token_count().alias("n_tokens")
    )
    ranked = global_row_number(lens, ["n_tokens", "doc_id"], out_col="rn")
    return (
        ranked.groupBy(
            ((F.col("rn") - 1) / BATCH_SIZE)
            .cast("long")
            .alias("batch_id")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.max("n_tokens").alias("max_tokens"),
            F.sum("n_tokens").alias("sum_tokens"),
            (F.count("*") * F.max("n_tokens") - F.sum("n_tokens")).alias(
                "padded_waste"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Rows-only pipeline operators (UDF / UDTF / multimodal paths)
# ---------------------------------------------------------------------------


@register(
    "x12_multimodal_meta",
    None,  # mapInPandas decode stub
    doc="EXT x12 — multimodal binary-column plumbing: Arrow-batched "
    "mapInPandas metadata/decode extraction (decode stubbed; schema, "
    "batching and partitioning real).",
    tags=("ext", "multimodal", "rows-only"),
)
def x12_multimodal_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.multimodal.binary import extract_media_meta, synthetic_media

    return extract_media_meta(synthetic_media(_docs(spark, sf_dir)))


@register(
    "x13_udtf_chunks",
    r"""
    WITH words AS (
        SELECT doc_id,
               list_filter(string_split_regex(text, '\s+'),
                           w -> w <> '') AS ws
        FROM documents
        WHERE text IS NOT NULL
    ),
    chunks AS (
        SELECT doc_id,
               CAST(i AS INTEGER) AS chunk_idx,
               array_to_string(ws[(i*10+1):(i*10+10)], ' ') AS chunk_text,
               CAST(LEAST(10, len(ws) - i*10) AS INTEGER) AS n_words
        FROM words,
             LATERAL (SELECT UNNEST(
                 range(CAST(ceil(len(ws)/10.0) AS BIGINT))) AS i)
        WHERE len(ws) > 0
    )
    SELECT doc_id, chunk_idx, chunk_text, n_words FROM chunks
    """,
    doc="D7 — Python UDTF (Spark 3.5+/4 table function): split each "
    "document into fixed 10-word chunks with positions, the "
    "context-window chunking step of a training-data pipeline. "
    "Promoted from rows-only to a full hash oracle (r12): the chunk "
    "rule is pure word-slicing, so DuckDB reproduces it with list "
    "slicing + LATERAL range. Split-rule boundary: Python str.split "
    "is Unicode-whitespace, the oracle's regex \\s is ASCII — "
    "identical on this corpus (probed: single-space separated, no "
    "exotic whitespace), and the repo's shared split contract is the "
    "ASCII rule (textstats).",
    tags=("ext", "udtf"),
    late=True,
)
def x13_udtf_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_idx int, chunk_text string, n_words int")
    class ChunkDoc:
        # self-contained: workers may not have server_spark importable
        def eval(self, text: str, width: int):
            if text is None:
                return
            words = text.split()
            for i in range(0, len(words), width):
                chunk = words[i : i + width]
                yield i // width, " ".join(chunk), len(chunk)

    spark.udtf.register("chunk_doc", ChunkDoc)
    _docs(spark, sf_dir).createOrReplaceTempView("_docs_for_chunking")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_words
        FROM _docs_for_chunking d,
             LATERAL chunk_doc(d.text, 10) c
        """
    )


@register(
    "f3b_fuzzy_rank_udf",
    # Promoted from rows-only (r12): RankMatchFold = case-folded
    # subsequence gate (a LIKE pattern for an ASCII needle) +
    # Levenshtein rank — and DuckDB ships levenshtein() natively, so
    # the exact semantics ARE SQL-expressible after all. Integer
    # distance, unique (rank, name, item) total order.
    """
    SELECT item, item_name, rank FROM (
        SELECT p_partkey AS item, p_name AS item_name,
               CAST(levenshtein('widget', LOWER(p_name)) AS BIGINT)
                   AS rank
        FROM part
        WHERE LOWER(p_name) LIKE '%w%i%d%g%e%t%'
          AND LENGTH(p_name) >= 6
    )
    ORDER BY rank, item_name, item
    LIMIT 10
    """,
    doc="D2 — exact RankMatchFold fuzzy search parity (subsequence "
    "gate + Levenshtein rank) as an Arrow-batched pandas_udf; the "
    "pandas_udf subsequence check stays the Spark-side authority, "
    "the oracle replays the semantics relationally.",
    tags=("ext", "search"),
    late=True,
)
def f3b_fuzzy_rank_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.functions.text import fuzzy_search

    part = tables.load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("item"), F.col("p_name").alias("item_name")
    )
    return fuzzy_search(part, "item_name", "widget", k=10)


# ---------------------------------------------------------------------------
# x37 — sliding-window chunker (width + stride, oracle-checked)
# ---------------------------------------------------------------------------

CHUNK_W, CHUNK_S = 10, 5  # width 10 words, stride 5 (50% overlap)


@register(
    "x37_sliding_chunks",
    rf"""
    WITH w AS (
        SELECT doc_id,
               string_split_regex(LOWER(TRIM(text)), '\s+') AS words
        FROM documents
    ),
    starts AS (
        SELECT doc_id, words,
               UNNEST(generate_series(0,
                   GREATEST(len(words) - 1, 0), {CHUNK_S})) AS start
        FROM w
    )
    SELECT doc_id,
           CAST(start / {CHUNK_S} AS BIGINT) AS chunk_idx,
           array_to_string(list_slice(words, start + 1, start + {CHUNK_W}), ' ')
               AS chunk_text,
           LEAST({CHUNK_W}, len(words) - start) AS n_words
    FROM starts
    """,
    doc="EXT x37 — sliding-window CHUNKER with overlap: width-10 "
    "stride-5 word windows per document (the context-window split "
    "with 50% overlap that RAG/pretraining pipelines apply; x13 is "
    "the UDTF form of the non-overlapping case — this one is pure "
    "builtins and therefore fully value-verified). Narrow map + one "
    "explode of the start offsets; the words array is projected once "
    "(lambda-CSE rule).",
    tags=("ext", "chunking"),
    late=True,
)
def x37_sliding_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    words = _docs(spark, sf_dir).select(
        "doc_id",
        F.split(F.lower(F.trim(F.col("text"))), r"\s+").alias("words"),
    )
    starts = words.select(
        "doc_id",
        "words",
        F.explode(
            F.sequence(
                F.lit(0),
                F.greatest(F.size("words") - 1, F.lit(0)),
                F.lit(CHUNK_S),
            )
        ).alias("start"),
    )
    return starts.select(
        "doc_id",
        (F.col("start") / CHUNK_S).cast("long").alias("chunk_idx"),
        F.array_join(
            F.slice("words", F.col("start") + 1, F.lit(CHUNK_W)), " "
        ).alias("chunk_text"),
        F.least(F.lit(CHUNK_W), F.size("words") - F.col("start")).alias(
            "n_words"
        ),
    )


# ---------------------------------------------------------------------------
# x39 — realize the mixing budget (deterministic weighted sampling)
# ---------------------------------------------------------------------------


@register(
    "x39_mix_realize",
    rf"""
    WITH per_source AS (
        SELECT source,
               CAST(SUM(len(string_split_regex(LOWER(TRIM(text)), '\s+'))) AS BIGINT)
                   AS n_tokens
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
               COUNT(*) AS n_sources
        FROM per_source
    ),
    wts AS (
        SELECT s.source,
               LEAST(CAST(2.0 AS DOUBLE),
                     (CAST(t.total_tokens AS DOUBLE) / t.n_sources)
                     / s.n_tokens) AS w
        FROM per_source s CROSS JOIN tot t
    ),
    picked AS (
        SELECT d.doc_id, d.source,
               CAST(FLOOR(w.w) AS BIGINT)
               + CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)), 1, 8))::BIGINT
                           % 1000000 AS DOUBLE) / 1000000
                           < w.w - FLOOR(w.w)
                      THEN 1 ELSE 0 END AS n_copies
        FROM documents d JOIN wts w ON d.source = w.source
    )
    SELECT doc_id, source, n_copies
    FROM picked WHERE n_copies >= 1
    """,
    doc="EXT x39 — REALIZE the x28 mixing budget: per-source weight w "
    "(uniform-target, 2-epoch cap) becomes per-document copy counts — "
    "floor(w) whole epochs plus one more iff the doc's md5-uniform "
    "draw falls under the fractional remainder. Deterministic "
    "hash-Bernoulli (same property as the x19 sampler: reproducible "
    "across engines/runs/cluster sizes, no sampling state), and the "
    "u < frac comparison is between doubles computed by identical "
    "arithmetic on both sides. One agg + broadcast weights + narrow "
    "map; pairs with x20's packer downstream.",
    tags=("ext", "sampling"),
    late=True,
)
def x39_mix_realize(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    per_source = docs.groupBy("source").agg(
        F.sum(tx.token_count()).alias("n_tokens")
    )
    tot = per_source.agg(
        F.sum("n_tokens").alias("total_tokens"),
        F.count("*").alias("n_sources"),
    )
    target = F.col("total_tokens").cast("double") / F.col("n_sources")
    wts = (
        per_source.crossJoin(F.broadcast(tot))
        .select(
            "source",
            F.least(F.lit(2.0), target / F.col("n_tokens")).alias("w"),
        )
    )
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        % 1_000_000
    ).cast("double") / 1_000_000
    frac = F.col("w") - F.floor("w")
    n_copies = (F.floor("w").cast("bigint")
                + F.when(u < frac, 1).otherwise(0))
    return (
        docs.select("doc_id", "source")
        .join(F.broadcast(wts), "source")
        .select("doc_id", "source", n_copies.alias("n_copies"))
        .filter(F.col("n_copies") >= 1)
    )


# ---------------------------------------------------------------------------
# x48 — key-skew profiler (the shuffle-health diagnostic)
# ---------------------------------------------------------------------------

SKEW_TOP = 50


@register(
    "x48_key_skew_profile",
    auctions_sql(
        f"""
    , per AS (SELECT item, COUNT(*) AS n_rows FROM auctions GROUP BY item),
    tot AS (
        SELECT SUM(n_rows) AS total, AVG(n_rows) AS avg_n, MAX(n_rows) AS max_n
        FROM per
    )
    SELECT item, n_rows,
           {{SHARE}} AS share,
           {{SKEW}} AS skew_factor,
           rnk
    FROM (
        SELECT item, n_rows,
               ROW_NUMBER() OVER (ORDER BY n_rows DESC, item) AS rnk
        FROM per
    ) ranked CROSS JOIN tot
    WHERE rnk <= {SKEW_TOP}
    """
    ).format(
        SHARE=r4sql("CAST(n_rows AS DOUBLE) / total"),
        SKEW=r4sql("CAST(max_n AS DOUBLE) / avg_n"),
    ),
    doc="EXT x48 — key-skew profiler: per-key row counts, corpus "
    "share, and the global max/avg skew factor for the top hot keys "
    "of a prospective shuffle key. This is the diagnostic that decides "
    "salting / AQE-skew-join settings BEFORE a 100 TB shuffle ships: "
    "one hash-agg over the key (map-side combinable), a broadcast of "
    "the 3-number global stats back onto the ranked top slice — "
    "per-key work never materializes more than the distinct-key "
    "count, and the output is bounded at SKEW_TOP rows.",
    tags=("ext", "pipeline", "diagnostic"),
    late=True,
)
def x48_key_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.sources.synthetic import auctions

    per = (
        auctions(spark, sf_dir)
        .groupBy("item")
        .agg(F.count("*").alias("n_rows"))
    )
    tot = per.agg(
        F.sum("n_rows").alias("total"),
        F.avg("n_rows").alias("avg_n"),
        F.max("n_rows").alias("max_n"),
    )
    # orderBy+limit plans as TakeOrderedAndProject (distributed
    # partial top-N per partition, tiny final merge) — no global
    # single-partition window ever sees the full distinct-key set;
    # the rank window then runs over only the SKEW_TOP-row slice.
    top = per.orderBy(F.desc("n_rows"), F.col("item")).limit(SKEW_TOP)
    ranked = top.select(
        "item",
        "n_rows",
        F.row_number()
        .over(Window.orderBy(F.desc("n_rows"), F.col("item")))
        .alias("rnk"),
    )
    return ranked.crossJoin(F.broadcast(tot)).select(
        "item",
        "n_rows",
        r4(F.col("n_rows").cast("double") / F.col("total")).alias("share"),
        r4(F.col("max_n").cast("double") / F.col("avg_n")).alias(
            "skew_factor"
        ),
        "rnk",
    )


# ---------------------------------------------------------------------------
# x50 — weighted sample (Efraimidis–Spirakis, deterministic)
# ---------------------------------------------------------------------------

WSAMPLE_N = 100


@register(
    "x50_weighted_sample",
    f"""
    WITH u AS (
        SELECT doc_id, lang, n_chars,
               GREATEST(
                   CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8)
                        AS BIGINT) AS DOUBLE) / 4294967296.0,
                   1e-12) AS uval
        FROM documents
    )
    SELECT doc_id, lang, n_chars, rnk FROM (
        SELECT doc_id, lang, n_chars,
               ROW_NUMBER() OVER (
                   ORDER BY {r4sql("LN(uval) / n_chars * 1000000.0")}
                                DESC, doc_id
               ) AS rnk
        FROM u WHERE n_chars > 0
    ) WHERE rnk <= {WSAMPLE_N}
    """,
    doc="EXT x50 — weighted sampling without replacement "
    "(Efraimidis–Spirakis 2006): key_i = u_i^(1/w_i), keep the top N "
    "keys — inclusion probability proportional to weight (n_chars "
    "here: a curriculum that favors longer documents). The uniform is "
    "DERIVED from md5(doc_id) (first 8 hex chars / 2^32), so the "
    "sample is reproducible across engines, runs and cluster sizes — "
    "x19's determinism property extended to weighted draws, no "
    "sampling state, membership a function of (id, weight) alone. "
    "Equivalent ordering ln(u)/w descending avoids u^(1/w) underflow "
    "for large weights. Output is integer-only (ids, weights, ranks): "
    "the ln-keys never cross the oracle boundary, so libm last-ulp "
    "differences cannot flip the hash. Scale shape: orderBy+limit "
    "plans as TakeOrderedAndProject (per-partition partial top-N); "
    "the rank window runs over the N-row slice only.",
    tags=("ext", "sample"),
    late=True,
)
def x50_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = F.greatest(
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("double")
        / F.lit(4294967296.0),
        F.lit(1e-12),
    )
    # cut on the r4-CANONICAL scaled key with the doc_id tiebreak —
    # the raw libm ln-key differs between engines in the last ulp and
    # could order ranks 100/101 oppositely at the cut (x100's
    # a19/x95 argmax lesson, back-ported; r11 review finding). The
    # n_chars > 0 guard mirrors x100's.
    keyed = (
        _docs(spark, sf_dir)
        .filter(F.col("n_chars") > 0)
        .select(
            "doc_id",
            "lang",
            "n_chars",
            r4(F.log(u) / F.col("n_chars") * 1000000.0).alias("_k"),
        )
    )
    top = keyed.orderBy(F.desc("_k"), F.col("doc_id")).limit(WSAMPLE_N)
    return top.select(
        "doc_id",
        "lang",
        "n_chars",
        F.row_number()
        .over(Window.orderBy(F.desc("_k"), F.col("doc_id")))
        .alias("rnk"),
    )


# ---------------------------------------------------------------------------
# x56 — blocked entity resolution (fuzzy record linkage)
# ---------------------------------------------------------------------------

_ER_PROBE_CAP = 100   # probe set: catalog entries under this key
_ER_MAX_DIST = 12     # edit-distance acceptance threshold
_ER_TOPK = 3


@register(
    "x56_entity_resolution",
    f"""
    WITH names AS (
        SELECT p_partkey AS key, LOWER(p_name) AS name,
               SPLIT_PART(LOWER(p_name), ' ', 1) AS block
        FROM part
    ), probes AS (
        SELECT key AS probe_key, name AS probe_name, block
        FROM names WHERE key <= {_ER_PROBE_CAP}
    ), cand AS (
        SELECT p.probe_key, n.key AS match_key,
               LEVENSHTEIN(p.probe_name, n.name) AS dist
        FROM probes p JOIN names n USING (block)
        WHERE n.key <> p.probe_key
          AND LEVENSHTEIN(p.probe_name, n.name) <= {_ER_MAX_DIST}
    )
    SELECT probe_key, match_key, dist,
           CAST(ROW_NUMBER() OVER (
               PARTITION BY probe_key ORDER BY dist, match_key
           ) AS INT) AS rnk
    FROM cand
    QUALIFY rnk <= {_ER_TOPK}
    """,
    doc="x56 — entity resolution: link probe records to their "
    "nearest catalog names by edit distance, BLOCKED on the first "
    "name token so the pair space is per-block (Σ|block|²), never "
    "the full cross product — the standard record-linkage shape "
    "(block → compare → rank). The probe side broadcasts; per-probe "
    "top-k is a WindowGroupLimit, not a global sort. Same family as "
    "F3's fuzzy rank but set-to-set instead of one query string.",
    tags=("ext", "fuzzy", "join"),
    late=True,
)
def x56_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    names = tables.load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("key"),
        F.lower("p_name").alias("name"),
        F.split(F.lower("p_name"), " ")[0].alias("block"),
    )
    probes = names.filter(F.col("key") <= _ER_PROBE_CAP).select(
        F.col("key").alias("probe_key"),
        F.col("name").alias("probe_name"),
        "block",
    )
    cand = (
        names.join(F.broadcast(probes), "block")
        .filter(F.col("key") != F.col("probe_key"))
        .select(
            "probe_key",
            F.col("key").alias("match_key"),
            F.levenshtein("probe_name", "name").alias("dist"),
        )
        .filter(F.col("dist") <= _ER_MAX_DIST)
    )
    w = Window.partitionBy("probe_key").orderBy("dist", "match_key")
    return (
        cand.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= _ER_TOPK)
    )


@register(
    "x60_media_resize",
    None,  # binary thumbnails — rows-only (no honest SQL twin)
    doc="EXT x60 — multimodal resize/thumbnail pass, REAL for every "
    "mainstream format (r10, +progressive r11): per-doc payloads are "
    "minted INSIDE the "
    "executors as deterministic test-pattern images across six legs "
    "— PNG (cycling all five scanline filter types), BMP, GIF (real "
    "LZW), baseline JPEG (numpy Huffman+IDCT), progressive SOF2 JPEG "
    "(spectral selection + successive approximation), and "
    "undecodable text "
    "bytes — then FULLY pixel-decoded back by multimodal/image.py "
    "(no PIL anywhere), nearest-neighbor resampled and re-encoded as "
    "deterministic 24-bit BMP thumbnails. Undecodable payloads take "
    "the quarantine fold path (thumb_format='fold') — the "
    "decode-or-quarantine posture a 100 TB media scan needs. Shape: "
    "two narrow mapInPandas passes (mint, resize), Arrow-batched.",
    tags=("ext", "multimodal", "rows-only"),
    late=True,
)
def x60_media_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.multimodal.binary import resize_media
    from server_spark.multimodal.image import IMAGE_SRC

    img_src = IMAGE_SRC  # by value — workers may not import server_spark

    def mint(it):
        import pandas as pd

        import numpy as np

        ns: dict = {}
        exec(img_src, ns)
        synth, enc_png, enc_bmp, enc_gif, enc_jpg, enc_jpg_prog = (
            ns["synthetic_image"],
            ns["encode_png"],
            ns["encode_bmp"],
            ns["encode_gif"],
            ns["encode_jpeg"],
            ns["encode_jpeg_progressive"],
        )
        gray_pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)
        for pdf in it:
            payloads = []
            for did, text in zip(pdf["doc_id"], pdf["text"]):
                mid = int(did)
                img = synth(mid)
                leg = mid % 6
                if leg == 0:
                    payloads.append(
                        enc_png(
                            img,
                            row_filters=[
                                (y + mid) % 5
                                for y in range(img.shape[0])
                            ],
                        )
                    )
                elif leg == 1:
                    payloads.append(enc_bmp(img))
                elif leg == 2:  # GIF: gray palette over the B channel
                    payloads.append(enc_gif([img[:, :, 2]], gray_pal))
                elif leg == 3:
                    payloads.append(enc_jpg(img, quant=4))
                elif leg == 4:  # progressive (SOF2) JPEG — decoded
                    # for real since r11, same quant as the baseline
                    # leg so both reconstruct identical coefficients
                    payloads.append(
                        enc_jpg_prog(img, quant=4, subsample=(mid % 2 == 0))
                    )
                else:  # undecodable → quarantine/fold leg
                    payloads.append(str(text).encode("utf-8"))
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"].astype("int64"),
                    "payload": payloads,
                }
            )

    # Hash-repartition BEFORE the Python-heavy mint/decode stages:
    # the local documents file is one input split, which would pin
    # all per-image work to a single task. One narrow shuffle of the
    # pruned (doc_id, text) columns buys full-core parallelism; at
    # 100 TB, where input splits already provide parallelism, this is
    # the same knob used to match Python-stage width to cluster cores.
    media = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .mapInPandas(mint, "media_id long, payload binary")
    )
    return resize_media(media, 16, 16)


@register(
    "x61_frame_sample",
    None,  # one-to-many binary explosion — rows-only
    doc="EXT x61 — multimodal frame sampling: every Nth fixed-size "
    "frame chunk per payload, exploded INSIDE the Arrow batch "
    "(demux stubbed as fixed-size chunking; the one-to-many "
    "explosion plumbing a video pipeline needs is real).",
    tags=("ext", "multimodal", "rows-only"),
    late=True,
)
def x61_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.multimodal.binary import sample_frames, synthetic_media

    return sample_frames(
        synthetic_media(_docs(spark, sf_dir)), frame_size=64, every_n=4
    )


# ---------------------------------------------------------------------------
# x100 — weighted sampling without replacement (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------

_X100_K = 50  # sample size


@register(
    "x100_weighted_sample",
    f"""
    WITH keyed AS (
        SELECT doc_id, source, n_chars,
               LN((('0x' || substr(md5(CAST(doc_id AS STRING)), 1, 8))::BIGINT
                   + 0.5) / 4294967296.0) / n_chars AS raw_key
        FROM documents
        WHERE n_chars > 0
    )
    SELECT doc_id, source, n_chars,
           {r4sql("raw_key * 1000000.0")} AS sort_key
    FROM keyed
    ORDER BY {r4sql("raw_key * 1000000.0")} DESC, doc_id
    LIMIT {_X100_K}
    """,
    doc="EXT x100 — WEIGHTED sampling WITHOUT replacement "
    "(Efraimidis–Spirakis A-ES): each document gets the key "
    "u^(1/w) with u uniform from its md5 and w = n_chars; the "
    f"top-{_X100_K} keys ARE a weighted sample without replacement — "
    "the length-proportional draw a token-budgeted pilot corpus "
    "wants (uniform doc sampling under-represents long documents' "
    "tokens; x78's cluster-balanced draw is uniform WITHIN strata, "
    "this weights globally). One narrow map + a distributed top-K: "
    "A-ES is THE distributed form of weighted sampling — no "
    "cumulative-weight prefix scan (the sequential textbook "
    "algorithm), no coordination; per-partition top-K then a "
    "driver-side K-merge, exactly Spark's TakeOrderedAndProject. "
    "Determinism: u is md5-derived (engine-portable hex→int), "
    "monotone ln(u)/w ordering is equivalent to u^(1/w); selection "
    "cuts on the r4-CANONICAL scaled key (ties broken by doc_id) so "
    "both engines pick the identical set even at a boundary (a19/"
    "x95 argmax lesson; ×10⁶ scaling keeps 4-decimal canonical "
    "resolution meaningful on keys of magnitude ~1e-3).",
    tags=("ext", "pipeline", "sample"),
    late=True,
)
def x100_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    u = (
        F.conv(
            F.substring(F.md5(F.col("doc_id").cast("string")), 1, 8), 16, 10
        ).cast("long")
        + 0.5
    ) / 4294967296.0
    sort_key = r4(F.log(u) / F.col("n_chars") * 1000000.0)
    return (
        _docs(spark, sf_dir)
        .filter(F.col("n_chars") > 0)
        .select(
            "doc_id", "source", "n_chars", sort_key.alias("sort_key")
        )
        .orderBy(F.col("sort_key").desc(), "doc_id")
        .limit(_X100_K)
    )


# ---------------------------------------------------------------------------
# x101 — mixture-rate solver (token-budget sampling rates per source)
# ---------------------------------------------------------------------------


@register(
    "x101_mixture_rates",
    rf"""
    WITH avail AS (
        SELECT source,
               SUM(len(string_split_regex(LOWER(TRIM(text)), '\s+')))
                   AS avail_tokens
        FROM documents GROUP BY 1
    ),
    sized AS (
        SELECT source, avail_tokens, COUNT(*) OVER () AS n_sources
        FROM avail
    ),
    solved AS (
        SELECT source, avail_tokens, n_sources,
               MIN(avail_tokens * n_sources) OVER () AS budget_tokens
        FROM sized
    )
    SELECT source, avail_tokens,
           {r4sql("1.0 / n_sources")} AS target_share,
           budget_tokens,
           {r4sql("budget_tokens * 1.0 / (n_sources * avail_tokens)")}
               AS sample_rate,
           (avail_tokens * n_sources = budget_tokens) AS is_binding
    FROM solved
    ORDER BY source
    """,
    doc="EXT x101 — MIXTURE-RATE SOLVER: given the available "
    "whitespace-token mass per source (x7's counter) and a uniform "
    "target mixture, the largest single-epoch token budget and the "
    "per-source sampling rate that realizes it — the arithmetic "
    "behind every 'train on S sources at weights w' config: budget "
    "B = min_s(avail_s / share_s) (any larger budget forces the "
    "binding source past one epoch), rate_s = share_s·B/avail_s ≤ 1 "
    "with equality exactly at the binding source. x94 measures the "
    "effective source count of the mixture you HAVE; x101 computes "
    "the rates for the mixture you WANT (the pair a curriculum "
    "designer iterates between; x100 then draws the per-source "
    "sample at the solved rate). Determinism: token counts and the "
    "uniform-share budget avail·|S| are exact BIGINTs end-to-end — "
    "min/compare on ints, the two ratios r4-dressed at the "
    "boundary; the binding flag is an INTEGER equality, no float "
    "cut needed. Shape: one per-source hash-agg; the solver is a "
    "|sources|-row window fold (catalog dimension).",
    tags=("ext", "pipeline", "mixing"),
    late=True,
)
def x101_mixture_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    avail = (
        _docs(spark, sf_dir)
        .groupBy("source")
        .agg(F.sum(tx.token_count()).alias("avail_tokens"))
    )
    wall = Window.partitionBy()
    sized = avail.select(
        "source", "avail_tokens",
        F.count("*").over(wall).alias("n_sources"),
    )
    solved = sized.select(
        "source", "avail_tokens", "n_sources",
        F.min(F.col("avail_tokens") * F.col("n_sources"))
        .over(wall)
        .alias("budget_tokens"),
    )
    return solved.select(
        "source", "avail_tokens",
        r4(1.0 / F.col("n_sources")).alias("target_share"),
        "budget_tokens",
        r4(
            F.col("budget_tokens")
            * 1.0
            / (F.col("n_sources") * F.col("avail_tokens"))
        ).alias("sample_rate"),
        (
            F.col("avail_tokens") * F.col("n_sources")
            == F.col("budget_tokens")
        ).alias("is_binding"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# x112 — quality-filter attribution (which rule does the work?)
# ---------------------------------------------------------------------------

@register(
    "x112_filter_attribution",
    r"""
    WITH m AS (
        SELECT doc_id, n_chars,
               len(string_split_regex(LOWER(TRIM(text)), '\s+'))
                   AS n_tokens,
               len(list_distinct(
                   string_split_regex(LOWER(TRIM(text)), '\s+')))
                   AS n_distinct,
               CAST(LENGTH(regexp_replace(LOWER(text), '[^a-z]', '',
                    'g')) AS DOUBLE) / LENGTH(text) AS alpha_ratio
        FROM documents
        WHERE text IS NOT NULL AND LENGTH(text) > 0
    ),
    flags AS (
        SELECT doc_id,
               CAST(n_tokens < 40 AS INT) AS f_too_short,
               CAST(n_tokens > 300 AS INT) AS f_too_long,
               CAST(alpha_ratio < 0.55 AS INT) AS f_low_alpha,
               CAST(2 * n_distinct < n_tokens AS INT) AS f_repetitive,
               CAST(n_chars < 200 AS INT) AS f_tiny,
               (CAST(n_tokens < 40 AS INT) + CAST(n_tokens > 300 AS INT) + CAST(alpha_ratio < 0.55 AS INT) + CAST(2 * n_distinct < n_tokens AS INT) + CAST(n_chars < 200 AS INT)) AS n_fail
        FROM m
    )
    SELECT 'too_short' AS rule, SUM(f_too_short) AS n_failing,
           SUM(CASE WHEN f_too_short = 1 AND n_fail = 1 THEN 1 ELSE 0 END) AS n_unique_failing,
           COUNT(*) AS n_docs,
           CAST(CAST(ROUND(CAST(CAST((SUM(f_too_short) * 1.0 / COUNT(*)) AS STRING) AS DECIMAL(38,10)), 4) AS STRING) AS DOUBLE) AS fail_share
    FROM flags
    UNION ALL
    SELECT 'too_long' AS rule, SUM(f_too_long) AS n_failing,
           SUM(CASE WHEN f_too_long = 1 AND n_fail = 1 THEN 1 ELSE 0 END) AS n_unique_failing,
           COUNT(*) AS n_docs,
           CAST(CAST(ROUND(CAST(CAST((SUM(f_too_long) * 1.0 / COUNT(*)) AS STRING) AS DECIMAL(38,10)), 4) AS STRING) AS DOUBLE) AS fail_share
    FROM flags
    UNION ALL
    SELECT 'low_alpha' AS rule, SUM(f_low_alpha) AS n_failing,
           SUM(CASE WHEN f_low_alpha = 1 AND n_fail = 1 THEN 1 ELSE 0 END) AS n_unique_failing,
           COUNT(*) AS n_docs,
           CAST(CAST(ROUND(CAST(CAST((SUM(f_low_alpha) * 1.0 / COUNT(*)) AS STRING) AS DECIMAL(38,10)), 4) AS STRING) AS DOUBLE) AS fail_share
    FROM flags
    UNION ALL
    SELECT 'repetitive' AS rule, SUM(f_repetitive) AS n_failing,
           SUM(CASE WHEN f_repetitive = 1 AND n_fail = 1 THEN 1 ELSE 0 END) AS n_unique_failing,
           COUNT(*) AS n_docs,
           CAST(CAST(ROUND(CAST(CAST((SUM(f_repetitive) * 1.0 / COUNT(*)) AS STRING) AS DECIMAL(38,10)), 4) AS STRING) AS DOUBLE) AS fail_share
    FROM flags
    UNION ALL
    SELECT 'tiny' AS rule, SUM(f_tiny) AS n_failing,
           SUM(CASE WHEN f_tiny = 1 AND n_fail = 1 THEN 1 ELSE 0 END) AS n_unique_failing,
           COUNT(*) AS n_docs,
           CAST(CAST(ROUND(CAST(CAST((SUM(f_tiny) * 1.0 / COUNT(*)) AS STRING) AS DECIMAL(38,10)), 4) AS STRING) AS DOUBLE) AS fail_share
    FROM flags
    ORDER BY rule
    """,
    doc="EXT x112 — FILTER ATTRIBUTION over five independent quality "
    "rules: per rule, how many docs fail it at all and how many fail "
    "it UNIQUELY (no other rule would catch them) — the ablation "
    "view behind every filter-stack review: a rule with zero unique "
    "failures is redundant (drop it, nothing changes); a rule whose "
    "failures are mostly unique is carrying real coverage, and "
    "'recoverable' = its unique count is exactly how many docs "
    "come back if the rule is relaxed. x18 applies the stack "
    "(first-fail verdicts); this EVALUATES it (every rule on every "
    "doc). Shape: one narrow metric map, one flags projection, and "
    "k tiny conditional-aggregate branches over it — column pruning "
    "keeps each branch to its own flag; all counts exact ints.",
    tags=("ext", "textstats", "filter", "eval"),
    late=True,
)
def x112_filter_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    alpha_ratio = (
        F.length(
            F.regexp_replace(F.lower(F.col("text")), r"[^a-z]", "")
        ).cast("double")
        / F.length(F.col("text"))
    )
    # NULL/empty text guard on BOTH engines: Spark's x/0 yields NULL
    # (the rule would silently drop out of n_fail) while DuckDB's
    # float 0/0 is version-dependent — excluding the rows up front
    # keeps the attribution well-defined and the parity exact
    m = docs.filter(
        F.col("text").isNotNull() & (F.length("text") > 0)
    ).select(
        "doc_id",
        "n_chars",
        F.size(toks).alias("n_tokens"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        alpha_ratio.alias("alpha_ratio"),
    )
    rules = {
        "too_short": F.col("n_tokens") < 40,
        "too_long": F.col("n_tokens") > 300,
        "low_alpha": F.col("alpha_ratio") < 0.55,
        "repetitive": 2 * F.col("n_distinct") < F.col("n_tokens"),
        "tiny": F.col("n_chars") < 200,
    }
    flags = m.select(
        "doc_id",
        *[cond.cast("int").alias(f"f_{name}") for name, cond in rules.items()],
    ).withColumn(
        "n_fail", sum(F.col(f"f_{n}") for n in rules)
    ).transform(lazy_barrier)  # one metric pass feeds every rule branch
    out = None
    for name in rules:
        branch = flags.agg(
            F.lit(name).alias("rule"),
            F.sum(F.col(f"f_{name}")).alias("n_failing"),
            F.sum(
                F.when(
                    (F.col(f"f_{name}") == 1) & (F.col("n_fail") == 1), 1
                ).otherwise(0)
            ).alias("n_unique_failing"),
            F.count("*").alias("n_docs"),
        )
        out = branch if out is None else out.unionByName(branch)
    return out.select(
        "rule",
        "n_failing",
        "n_unique_failing",
        "n_docs",
        r4(F.col("n_failing") * 1.0 / F.col("n_docs")).alias("fail_share"),
    ).orderBy("rule")


# ---------------------------------------------------------------------------
# x115 — packing-efficiency eval over x20's greedy packer
# ---------------------------------------------------------------------------


@register(
    "x115_packing_efficiency",
    rf"""
    WITH {packing_ctes()},
    complete AS (
        SELECT p.* FROM packed p
        JOIN (SELECT shard, MAX(pack_id) AS last_pack
              FROM packed GROUP BY shard) lp
          ON p.shard = lp.shard AND p.pack_id < lp.last_pack
    )
    SELECT shard,
           CAST(COUNT(DISTINCT pack_id) AS BIGINT) AS n_packs,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           {r4sql("CAST(COUNT(*) AS DOUBLE) / COUNT(DISTINCT pack_id)")}
               AS avg_docs_per_pack,
           CAST(SUM(CASE WHEN pack_offset + n_tokens > {PACK_BUDGET}
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_crossing,
           {r4sql("CAST(SUM(CASE WHEN pack_offset + n_tokens > "
                  f"{PACK_BUDGET} THEN 1 ELSE 0 END) AS DOUBLE)"
                  " / COUNT(*)")} AS crossing_share,
           {r4sql("CAST(SUM(GREATEST(CAST(0 AS BIGINT), "
                  f"pack_offset + n_tokens - {PACK_BUDGET}))"
                  " AS DOUBLE) / SUM(n_tokens)")} AS frag_token_share
    FROM complete
    GROUP BY shard
    ORDER BY shard
    """,
    doc="EXT x115 — PACKING-EFFICIENCY eval over x20's greedy packer: "
    "per md5 shard, how many complete training sequences the packer "
    "minted, how many documents each holds, what share of documents "
    "CROSS a pack boundary (their attention context is split — the "
    "quality cost of contiguous packing vs best-fit), and the "
    "fragmented-token share (tokens landing past their pack's "
    "boundary). x20 PRODUCES the layout; this EVALUATES it — the "
    "review a data team runs before choosing budget size or switching "
    "to first-fit-decreasing (the doc-per-pack and crossing numbers "
    "are exactly the two sides of that trade). Each shard's LAST, "
    "still-open pack is excluded so rates describe finished "
    "sequences only. Shape: x20's per-shard running-sum window (never "
    "a global sort), one max-per-shard join bounded by 16 shards, one "
    "hash-agg; all counts exact integers.",
    tags=("ext", "packing", "eval"),
    late=True,
)
def x115_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    packed = x20_sequence_packing(spark, sf_dir)
    last = packed.groupBy("shard").agg(F.max("pack_id").alias("last_pack"))
    complete = packed.join(F.broadcast(last), "shard").filter(
        F.col("pack_id") < F.col("last_pack")
    )
    over = F.col("pack_offset") + F.col("n_tokens") - PACK_BUDGET
    crossing = (over > 0).cast("int")
    return (
        complete.groupBy("shard")
        .agg(
            F.countDistinct("pack_id").alias("n_packs"),
            F.count("*").alias("n_docs"),
            r4(
                F.count("*").cast("double")
                / F.countDistinct("pack_id")
            ).alias("avg_docs_per_pack"),
            F.sum(crossing).cast("bigint").alias("n_crossing"),
            r4(
                F.sum(crossing).cast("double") / F.count("*")
            ).alias("crossing_share"),
            r4(
                F.sum(F.greatest(F.lit(0).cast("bigint"), over))
                .cast("double")
                / F.sum("n_tokens")
            ).alias("frag_token_share"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# x120 — REAL audio decode + quality rollup (WAV PCM, no stub)
# ---------------------------------------------------------------------------


@register(
    "x120_audio_features",
    None,  # binary PCM decode — rows-only (no honest SQL twin)
    doc="EXT x120 — REAL multimodal audio pass: deterministic PCM16 "
    "WAV clips are synthesized per doc INSIDE the executors "
    "(multimodal/audio.synthetic_wav — RIFF header + int16 sine, "
    "pure stdlib+numpy), then FULLY DECODED back by the RIFF chunk "
    "walk in decode_wav_features and rolled up per frequency class: "
    "clip count, mean RMS/ZCR/duration and decode-failure count — "
    "the audio-QA gate (loudness / pitch / silence screen) a speech "
    "corpus applies before transcription. Unlike the x60/x61 image "
    "legs (pixel decode needs libjpeg, absent here), the audio leg "
    "is end-to-end REAL: bytes in, physics out (the tests assert "
    "sine RMS = A/√2 and ZCR = 2f/rate, not plumbing shape). Shape: "
    "one narrow mapInPandas to mint blobs, one to decode (Arrow "
    "batches, bounded memory), one hash-agg — scales as a map over "
    "partitions with no shuffle until the tiny rollup.",
    tags=("ext", "multimodal", "rows-only"),
    late=True,
)
def x120_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.multimodal.audio import decode_wav_features

    def mint(it):
        # synthetic_wav inlined by value via the module import INSIDE
        # the closure (worker cwd may not import server_spark)
        import pandas as pd

        def blob(mid: int) -> bytes:
            import numpy as np

            rate, secs = 8000, 0.05
            freq = 220.0 * (1 + mid % 5)
            n = int(secs * rate)
            t = np.arange(n) / rate
            mono = (0.5 * np.sin(2 * np.pi * freq * t) * 32767).astype(
                "<i2"
            )
            frames = mono.tobytes()
            return (
                b"RIFF" + (36 + len(frames)).to_bytes(4, "little")
                + b"WAVE" + b"fmt " + (16).to_bytes(4, "little")
                + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
                + rate.to_bytes(4, "little")
                + (rate * 2).to_bytes(4, "little")
                + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
                + b"data" + len(frames).to_bytes(4, "little") + frames
            )

        for pdf in it:
            yield pd.DataFrame(
                {
                    "media_id": pdf["doc_id"],
                    "content": [blob(int(i)) for i in pdf["doc_id"]],
                }
            )

    media = _docs(spark, sf_dir).select("doc_id").mapInPandas(
        mint, "media_id long, content binary"
    )
    feats = decode_wav_features(media)
    return (
        feats.groupBy((F.col("media_id") % 5).alias("freq_class"))
        .agg(
            F.count("*").alias("n_clips"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_failed"),
            r4(F.avg("rms")).alias("mean_rms"),
            r4(F.avg("zcr")).alias("mean_zcr"),
            r4(F.avg("duration_s")).alias("mean_duration_s"),
        )
        .orderBy("freq_class")
    )


# ---------------------------------------------------------------------------
# x125 — REAL image decode + per-leg pixel-stat rollup (PNG/BMP, no stub)
# ---------------------------------------------------------------------------


@register(
    "x125_image_features",
    None,  # binary pixel decode — rows-only (no honest SQL twin)
    doc="EXT x125 — REAL multimodal image pass, the pixel twin of "
    "x120's audio leg: deterministic PNG (all five scanline filter "
    "types) and BMP test patterns are minted per doc INSIDE the "
    "executors, then FULLY pixel-decoded back by multimodal/image.py "
    "(stdlib zlib inflate + filter reconstruction / BGR row walk — "
    "no PIL) into per-image channel statistics (mean R/G/B, "
    "brightness, gray contrast), rolled up per payload leg "
    "(png / bmp / undecodable-text) — the brightness/contrast "
    "screen an image corpus applies before expensive captioning, "
    "plus the decode-failure rate that drives quarantine routing. "
    "Tests assert the MATH (gradient channel means in closed form), "
    "not just plumbing shape. Shape: one mapInPandas to mint+decode "
    "(Arrow batches, bounded memory), one tiny hash-agg.",
    tags=("ext", "multimodal", "rows-only"),
    late=True,
)
def x125_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.multimodal.image import IMAGE_SRC

    img_src = IMAGE_SRC  # by value — workers may not import server_spark

    FEATURES = (
        "media_id long, leg string, ok boolean, fmt string, "
        "width int, height int, mean_r double, mean_g double, "
        "mean_b double, brightness double, contrast double"
    )

    def mint_decode(it):
        import numpy as np
        import pandas as pd

        ns: dict = {}
        exec(img_src, ns)
        synth, enc_png, enc_bmp, decode_image = (
            ns["synthetic_image"],
            ns["encode_png"],
            ns["encode_bmp"],
            ns["decode_image"],
        )

        def one(mid: int, text: str) -> dict:
            img = synth(mid)
            if mid % 3 == 0:
                leg, payload = "png", enc_png(
                    img,
                    row_filters=[(y + mid) % 5 for y in range(img.shape[0])],
                )
            elif mid % 3 == 1:
                leg, payload = "bmp", enc_bmp(img)
            else:
                leg, payload = "text", str(text).encode("utf-8")
            decoded = decode_image(payload)
            if decoded is None:
                return {
                    "media_id": mid, "leg": leg, "ok": False,
                    "fmt": None, "width": None, "height": None,
                    "mean_r": None, "mean_g": None, "mean_b": None,
                    "brightness": None, "contrast": None,
                }
            fmt, px = decoded
            f = px.astype(np.float64)
            gray = f.mean(axis=2)
            return {
                "media_id": mid,
                "leg": leg,
                "ok": True,
                "fmt": fmt,
                "width": int(px.shape[1]),
                "height": int(px.shape[0]),
                "mean_r": float(f[:, :, 0].mean()),
                "mean_g": float(f[:, :, 1].mean()),
                "mean_b": float(f[:, :, 2].mean()),
                "brightness": float(f.mean()),
                "contrast": float(gray.std()),
            }

        cols = [c.split(" ")[0] for c in FEATURES.split(", ")]
        for pdf in it:
            rows = [
                one(int(i), t)
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(rows, columns=cols)

    # repartition: decouple the Python decode stage from input-split
    # granularity (see x60's note — one local file = one task otherwise)
    feats = (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .mapInPandas(mint_decode, FEATURES)
    )
    return (
        feats.groupBy("leg")
        .agg(
            F.count("*").alias("n_images"),
            F.sum(F.when(~F.col("ok"), 1).otherwise(0)).alias("n_failed"),
            r4(F.avg("mean_r")).alias("avg_r"),
            r4(F.avg("mean_g")).alias("avg_g"),
            r4(F.avg("mean_b")).alias("avg_b"),
            r4(F.avg("brightness")).alias("avg_brightness"),
            r4(F.avg("contrast")).alias("avg_contrast"),
        )
        .orderBy("leg")
    )


# ---------------------------------------------------------------------------
# x128 — perceptual-hash (dHash) image near-dup, banded on Hamming space
# ---------------------------------------------------------------------------

_X128_BASES = 20     # distinct base images minted across the corpus
_X128_HAMMING = 10   # near-dup threshold (of 64 dHash bits)


@register(
    "x128_image_phash_neardup",
    None,  # pixel decode + Hamming LSH — rows-only (no honest SQL twin)
    doc="EXT x128 — IMAGE near-duplicate detection via perceptual "
    "hash (dHash), now possible because the pixel decode is real: "
    "per doc, a seeded pseudo-random base image (doc_id % 20) with a "
    "per-doc integer brightness scale is minted and PNG-encoded "
    "executor-side, pixel-DECODED back (multimodal/image.py), "
    "gray-downsampled to 9x8 and dHashed (adjacent-pixel gradient "
    "sign bits — invariant to monotone brightness changes up to "
    "rounding, which is the point of a perceptual hash: byte-level "
    "sha CANNOT find these dups). Candidate pairs come from 4x16-bit "
    "HASH BANDS over the DISTINCT hash values (r11: perceptual "
    "hashes are many-to-one, so value-level banding keeps the LSH "
    "input diversity-sized while identical-hash clusters expand via "
    "streaming explodes — never an all-pairs crossJoin, never "
    "O(cluster^2) single-row arrays; a<=3-bit corruption leaves >=1 "
    "band intact by pigeonhole), then exact bit_count(xor) "
    "verification at the threshold. The per-image transform chain "
    "is exactly what image corpora dedup on at 100 TB scale; shape: "
    "one mapInPandas (mint+decode+hash), band explode, ONE bucket "
    "shuffle, JVM-side bit_count verify.",
    tags=("ext", "multimodal", "dedup", "rows-only"),
    late=True,
)
def x128_image_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.dedup import minhash as mh
    from server_spark.multimodal.image import IMAGE_SRC

    img_src = IMAGE_SRC

    def mint_hash(it):
        import numpy as np
        import pandas as pd

        ns: dict = {}
        exec(img_src, ns)
        enc_png, decode_image, nn_resize = (
            ns["encode_png"],
            ns["decode_image"],
            ns["nn_resize"],
        )

        def dhash(mid: int) -> int:
            base = int(mid) % _X128_BASES
            rng = np.random.RandomState(base)  # seeded → deterministic
            img = rng.randint(0, 256, size=(16, 24, 3), dtype=np.int32)
            # brightness class keyed mod 7 (coprime to the base mod
            # 20, so every base class spans all brightness variants —
            # mod 5 would be CONSTANT within a base class and the
            # "variants" would be byte-identical)
            scale = 100 - 4 * (int(mid) % 7)
            img = ((img * scale) // 100).clip(0, 255).astype(np.uint8)
            # filter 0 mint: decode stays fully vectorized (inflate +
            # frombuffer). The sequential-filter reconstruction
            # branches are stressed by x60/x125 and the round-trip
            # tests; THIS query's subject is the hash pipeline.
            png = enc_png(img)
            _fmt, px = decode_image(png)  # the REAL decode round-trip
            gray = px.astype(np.float64).mean(axis=2)
            g = nn_resize(gray[:, :, None], 9, 8)[:, :, 0]
            bits = (g[:, :-1] > g[:, 1:]).flatten()  # 8x8 gradient signs
            h = 0
            for b in bits:
                h = (h << 1) | int(b)
            return h - (1 << 64) if h >= (1 << 63) else h  # two's compl.

        for pdf in it:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {"media_id": ids, "dhash": [dhash(i) for i in ids]}
            )

    # repartition: decouple the Python mint+decode stage from
    # input-split granularity (see x60's note)
    hashes = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .mapInPandas(mint_hash, "media_id long, dhash long")
    )
    # value-level banding (r11): identical-dhash clusters grow with
    # corpus size, so banding doc-level built O(cluster^2) pair arrays
    # inside single rows — the sf1.0 probe OOM'd the JVM. The shared
    # kernel bands the DISTINCT values (diversity-sized) and expands
    # members through streaming explodes; output set unchanged.
    return mh.hash_value_neardup_pairs(
        hashes, "dhash", id_col="media_id", max_hamming=_X128_HAMMING
    ).select(
        F.col("id_a").alias("media_a"),
        F.col("id_b").alias("media_b"),
        "hamming",
    )


# ---------------------------------------------------------------------------
# x129 — audio fingerprint (envelope dHash) near-dup, banded on Hamming
# ---------------------------------------------------------------------------

_X129_BASES = 20     # distinct base clips minted across the corpus
_X129_FRAMES = 64    # RMS envelope frames → 63 delta-sign bits
_X129_HAMMING = 10


@register(
    "x129_audio_fingerprint_neardup",
    None,  # PCM decode + Hamming LSH — rows-only (no honest SQL twin)
    doc="EXT x129 — AUDIO near-duplicate detection via an envelope "
    "fingerprint, the acoustic twin of x128's image dHash: per doc, "
    "an amplitude-modulated sine clip (modulation rate and carrier "
    "keyed off doc_id % 20, per-doc GAIN keyed off doc_id % 7) is "
    "minted as real PCM16 WAV bytes executor-side, RIFF-decoded back "
    "(multimodal/audio.parse_pcm16 — the same single-source chunk "
    "walk x120 uses), folded to a 64-frame RMS envelope, and hashed "
    "as the 63 envelope delta-sign bits — GAIN-INVARIANT by "
    "construction (scaling preserves RMS ordering; exactly the dup "
    "class — re-encoded/re-leveled copies — that byte hashing "
    "cannot see). Candidates via 4x16-bit hash bands over the DISTINCT "
    "fingerprint values (shared hash_value_neardup_pairs kernel, "
    "r11), exact bit_count(xor) verify. "
    "Shape: one mapInPandas (mint+decode+hash), band explode, one "
    "bucket shuffle, JVM-side verify.",
    tags=("ext", "multimodal", "dedup", "rows-only"),
    late=True,
)
def x129_audio_fingerprint_neardup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    from server_spark.dedup import minhash as mh
    from server_spark.multimodal.audio import AUDIO_SRC

    audio_src = AUDIO_SRC
    frames, bases = _X129_FRAMES, _X129_BASES

    def mint_hash(it):
        import numpy as np
        import pandas as pd

        ns: dict = {}
        exec(audio_src, ns)
        parse = ns["parse_pcm16"]

        def wav_bytes(mono: "np.ndarray", rate: int) -> bytes:
            pcm = (mono * 32767).astype("<i2").tobytes()
            return (
                b"RIFF" + (36 + len(pcm)).to_bytes(4, "little")
                + b"WAVE" + b"fmt " + (16).to_bytes(4, "little")
                + (1).to_bytes(2, "little") + (1).to_bytes(2, "little")
                + rate.to_bytes(4, "little")
                + (rate * 2).to_bytes(4, "little")
                + (2).to_bytes(2, "little") + (16).to_bytes(2, "little")
                + b"data" + len(pcm).to_bytes(4, "little") + pcm
            )

        def fingerprint(mid: int) -> int:
            base = int(mid) % bases
            rate, secs = 8000, 0.25
            t = np.arange(int(secs * rate)) / rate
            carrier = 440.0 + 10.0 * base
            fm = 2.0 + base  # unique modulation cycles per base
            gain = 0.25 + 0.1 * (int(mid) % 7)  # per-doc level
            # per-doc noise floor: variants of a base are NEAR dups
            # (a few envelope bits flip at modulation extrema), not
            # fingerprint-identical — the regime the Hamming
            # threshold exists for
            noise = 0.004 * np.random.RandomState(int(mid)).standard_normal(
                len(t)
            )
            mono = (
                gain
                * (0.5 + 0.45 * np.sin(2 * np.pi * fm * t + 0.3 * base))
                * np.sin(2 * np.pi * carrier * t)
                + noise
            ).clip(-0.999, 0.999)
            parsed = parse(wav_bytes(mono, rate))  # REAL decode round-trip
            _rate, _ch, x = parsed
            mono2 = x.mean(axis=1)
            edges = np.linspace(0, len(mono2), frames + 1).astype(int)
            env = np.array([
                np.sqrt((mono2[a:b] ** 2).mean()) if b > a else 0.0
                for a, b in zip(edges[:-1], edges[1:])
            ])
            bits = env[1:] > env[:-1]
            h = 0
            for bit in bits:
                h = (h << 1) | int(bit)
            return h  # 63 bits — always fits a signed long

        for pdf in it:
            ids = [int(i) for i in pdf["doc_id"]]
            yield pd.DataFrame(
                {"media_id": ids, "fp": [fingerprint(i) for i in ids]}
            )

    # repartition: decouple the Python mint+decode stage from
    # input-split granularity (see x60's note)
    hashes = (
        _docs(spark, sf_dir)
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .mapInPandas(mint_hash, "media_id long, fp long")
    )
    # value-level banding (r11): see x128 — gain-invariant fingerprints
    # are many-to-one, so the kernel bands distinct values and expands
    # members; output set unchanged, single-row state bounded.
    return mh.hash_value_neardup_pairs(
        hashes, "fp", id_col="media_id", max_hamming=_X129_HAMMING
    ).select(
        F.col("id_a").alias("media_a"),
        F.col("id_b").alias("media_b"),
        "hamming",
    )


# ---------------------------------------------------------------------------
# x130 — REAL video demux + scene-change detection (Y4M, no stub)
# ---------------------------------------------------------------------------

_X130_FRAMES = 8
_X130_CUT_THRESHOLD = 20.0


@register(
    "x130_scene_detect",
    None,  # binary video demux — rows-only (no honest SQL twin)
    doc="EXT x130 — REAL multimodal video pass, closing the last "
    "stubbed modality: per-doc YUV4MPEG2 clips (8 mono frames of a "
    "drifting gradient, with a hard scene cut planted at a "
    "doc-keyed frame for even doc_ids) are minted executor-side, "
    "then FULLY demuxed back by multimodal/video.parse_y4m (stream "
    "header parse + FRAME walk + luma planes — Y4M is the ffmpeg "
    "toolchain's uncompressed interchange format, stdlib-parseable "
    "like PCM WAV and PNG/BMP; only entropy-coded video needs a "
    "codec). Per clip: frame count, scene-cut count, first cut "
    "frame and motion-energy stats from true per-frame luma "
    "|delta| — the shot-segmentation / keyframe-selection pass a "
    "video corpus runs before sampling frames for captioning. "
    "Undecodable payloads (every 5th doc mints text bytes) take the "
    "quarantine row. Tests assert planted cuts are found at the "
    "exact frame. Shape: one mapInPandas (mint+demux+features), "
    "no shuffle until the final tiny rollup ordering.",
    tags=("ext", "multimodal", "rows-only"),
    late=True,
)
def x130_scene_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.multimodal.video import VIDEO_SRC

    video_src = VIDEO_SRC
    n_frames, thresh = _X130_FRAMES, _X130_CUT_THRESHOLD

    SCHEMA = (
        "media_id long, ok boolean, n_frames int, n_cuts int, "
        "first_cut int, max_energy double, mean_energy double"
    )

    def mint_demux(it):
        import numpy as np
        import pandas as pd

        ns: dict = {}
        exec(video_src, ns)
        parse_y4m, encode_y4m_mono, scene_cuts, synth_clip = (
            ns["parse_y4m"],
            ns["encode_y4m_mono"],
            ns["scene_cuts"],
            ns["synthetic_clip_frames"],
        )

        def payload(mid: int, text: str) -> bytes:
            if mid % 5 == 4:  # undecodable leg
                return str(text).encode("utf-8")
            return encode_y4m_mono(synth_clip(mid, n_frames))

        clip_feats = ns["clip_features"]

        def features(mid: int, text: str) -> dict:
            parsed = parse_y4m(payload(mid, text))
            if parsed is None:
                return {
                    "media_id": mid, "ok": False, "n_frames": None,
                    "n_cuts": None, "first_cut": None,
                    "max_energy": None, "mean_energy": None,
                }
            _w, _h, frames = parsed
            return {"media_id": mid, "ok": True} | clip_feats(
                frames, threshold=thresh
            )

        cols = [c.split(" ")[0] for c in SCHEMA.split(", ")]
        for pdf in it:
            rows = [
                features(int(i), t)
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(rows, columns=cols)

    # repartition: decouple the Python mint+demux stage from
    # input-split granularity (see x60's note)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .mapInPandas(mint_demux, SCHEMA)
    )


# ---------------------------------------------------------------------------
# x131 — keyframe thumbnail extraction (video demux → image encode)
# ---------------------------------------------------------------------------


@register(
    "x131_keyframe_thumbs",
    None,  # binary demux + image encode — rows-only
    doc="EXT x131 — KEYFRAME thumbnail extraction, the cross-modality "
    "composition a video corpus runs before captioning: demux each "
    "clip (multimodal/video.parse_y4m — same real Y4M walk as "
    "x130), pick the shot-representative frames (frame 0 plus every "
    "scene-cut frame, x130's detector), then route the chosen luma "
    "planes through the IMAGE leg (nn_resize + deterministic BMP "
    "encode from multimodal/image.py) into fixed-size thumbnail "
    "blobs. One-to-many INSIDE the Arrow batch (clip row → keyframe "
    "rows), memory bounded by one clip; the modality legs compose "
    "via their shared source-capture contracts, not a driver "
    "round-trip. Tests pin thumbnail bytes against a driver-side "
    "recompute and the keyframe set against x130's planted cuts.",
    tags=("ext", "multimodal", "rows-only"),
    late=True,
)
def x131_keyframe_thumbs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.multimodal.image import IMAGE_SRC
    from server_spark.multimodal.video import VIDEO_SRC

    video_src, img_src = VIDEO_SRC, IMAGE_SRC
    n_frames, thresh = _X130_FRAMES, _X130_CUT_THRESHOLD

    SCHEMA = (
        "media_id long, frame_no int, is_cut boolean, thumb binary, "
        "out_width int, out_height int"
    )

    def extract(it):
        import numpy as np
        import pandas as pd

        vns: dict = {}
        exec(video_src, vns)
        ins: dict = {}
        exec(img_src, ins)
        parse_y4m, encode_y4m_mono, scene_cuts, synth_clip = (
            vns["parse_y4m"], vns["encode_y4m_mono"], vns["scene_cuts"],
            vns["synthetic_clip_frames"],
        )
        nn_resize, encode_bmp = ins["nn_resize"], ins["encode_bmp"]

        def clip(mid: int) -> bytes:
            # same mint rule as x130 (sans the undecodable leg) — ONE
            # implementation, shipped in VIDEO_SRC
            return encode_y4m_mono(synth_clip(mid, n_frames))

        for pdf in it:
            out = []
            for mid in (int(i) for i in pdf["doc_id"]):
                parsed = parse_y4m(clip(mid))
                if parsed is None:
                    continue
                _w, _h, frames = parsed
                feats = scene_cuts(frames, threshold=thresh)
                keyframes = [0] + [
                    i for i, _m, _e, is_cut in feats if is_cut
                ]
                for fno in keyframes:
                    luma = frames[fno][:, :, None]  # (h, w, 1) → RGB
                    rgb = np.repeat(luma, 3, axis=2)
                    out.append(
                        (
                            mid,
                            fno,
                            fno != 0,
                            encode_bmp(nn_resize(rgb, 8, 8)),
                            8,
                            8,
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "media_id", "frame_no", "is_cut", "thumb",
                    "out_width", "out_height",
                ],
            )

    # repartition: decouple the Python demux/encode stage from
    # input-split granularity (see x60's note)
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .mapInPandas(extract, SCHEMA)
    )


# ---------------------------------------------------------------------------
# x135 — scene detection over REAL compressed video containers (GIF)
# ---------------------------------------------------------------------------


@register(
    "x135_gif_motion",
    None,  # LZW container decode — rows-only (no honest SQL twin)
    doc="EXT x135 — x130's scene detection re-run over a REAL "
    "COMPRESSED container: the same synthetic clips (shared "
    "synthetic_clip_frames mint) are packed as animated GIF89a "
    "(real LZW compression, multimodal/image.encode_gif), then "
    "fully decoded back — GIF-variant LZW with code-width growth "
    "and 4096-reset, color-table mapping, frame compositing "
    "(multimodal/image.decode_gif, anchored against real-world "
    "encoder output and the canonical 43-byte tracking pixel) — "
    "and the luma |delta| features recomputed. The point is "
    "FORMAT-INDEPENDENCE of the temporal features: the planted cut "
    "frame must match the uncompressed Y4M path bit-for-bit "
    "(pinned by test), proving the decode stack, not just the "
    "plumbing. Only entropy-coded video (H.264) remains "
    "env-blocked. Shape: one mapInPandas (mint+decode+features).",
    tags=("ext", "multimodal", "rows-only"),
    late=True,
)
def x135_gif_motion(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.multimodal.image import IMAGE_SRC
    from server_spark.multimodal.video import VIDEO_SRC

    img_src, video_src = IMAGE_SRC, VIDEO_SRC
    n_frames, thresh = _X130_FRAMES, _X130_CUT_THRESHOLD

    SCHEMA = (
        "media_id long, ok boolean, n_frames int, n_cuts int, "
        "first_cut int, max_energy double, mean_energy double"
    )

    def mint_decode(it):
        import numpy as np
        import pandas as pd

        ins: dict = {}
        exec(img_src, ins)
        vns: dict = {}
        exec(video_src, vns)
        encode_gif, decode_gif = ins["encode_gif"], ins["decode_gif"]
        scene_cuts, synth_clip = vns["scene_cuts"], vns["synthetic_clip_frames"]
        gray_pal = np.stack([np.arange(256, dtype=np.uint8)] * 3, axis=1)

        clip_feats = vns["clip_features"]

        def features(mid: int, text: str) -> dict:
            if mid % 5 == 4:  # undecodable leg (same split as x130)
                payload = str(text).encode("utf-8")
            else:
                payload = encode_gif(synth_clip(mid, n_frames), gray_pal)
            decoded = decode_gif(payload)
            if decoded is None:
                return {
                    "media_id": mid, "ok": False, "n_frames": None,
                    "n_cuts": None, "first_cut": None,
                    "max_energy": None, "mean_energy": None,
                }
            _w, _h, rgb_frames = decoded
            # gray palette → luma is any channel; the rollup itself is
            # the ONE shared clip_features (x130's math, verbatim)
            return {"media_id": mid, "ok": True} | clip_feats(
                [fr[:, :, 0] for fr in rgb_frames], threshold=thresh
            )

        cols = [c.split(" ")[0] for c in SCHEMA.split(", ")]
        for pdf in it:
            rows = [
                features(int(i), t)
                for i, t in zip(pdf["doc_id"], pdf["text"])
            ]
            yield pd.DataFrame(rows, columns=cols)

    # repartition: decouple the Python mint+decode stage from
    # input-split granularity (see x60's note)
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .mapInPandas(mint_decode, SCHEMA)
    )


# ---------------------------------------------------------------------------
# x136 — JPEG compression-quality screen (blockiness over REAL decode)
# ---------------------------------------------------------------------------


@register(
    "x136_jpeg_blockiness",
    None,  # entropy-coded decode — rows-only (no honest SQL twin)
    doc="EXT x136 — JPEG COMPRESSION-QUALITY screen, possible because "
    "baseline JPEG now decodes for real (multimodal/jpeg.py: pure "
    "numpy Huffman + dequant + IDCT + 4:2:0 upsample, anchored "
    "against real-encoder artifacts): per doc, a JPEG is minted at "
    "a doc-keyed quantization level (half the corpus lightly "
    "quantized, half over-compressed), FULLY decoded back, and "
    "scored with the classic no-reference blockiness estimator — "
    "mean |gradient| across 8-aligned block boundaries over the "
    "interior mean. Over-compressed images show boundary "
    "discontinuities (flattened DCT blocks); an image corpus drops "
    "or downweights them before training. The metric needs no "
    "pristine reference — exactly the field condition. Shape: one "
    "mapInPandas (mint+decode+score), tiny class rollup.",
    tags=("ext", "multimodal", "filter", "rows-only"),
    late=True,
)
def x136_jpeg_blockiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    from server_spark.multimodal.image import IMAGE_SRC

    img_src = IMAGE_SRC

    SCHEMA = (
        "media_id long, ok boolean, quality_class string, "
        "blockiness double, mean_luma double"
    )

    def mint_score(it):
        import numpy as np
        import pandas as pd

        ns: dict = {}
        exec(img_src, ns)
        synth, enc, dec = (
            ns["synthetic_image"], ns["encode_jpeg"], ns["decode_jpeg"]
        )

        def score(mid: int) -> dict:
            img = synth(mid)
            hi_q = mid % 2 == 0
            payload = enc(img, quant=2 if hi_q else 40)
            decoded = dec(payload)
            cls = "light" if hi_q else "crushed"
            if decoded is None:
                return {
                    "media_id": mid, "ok": False, "quality_class": cls,
                    "blockiness": None, "mean_luma": None,
                }
            gray = decoded.astype(np.float64).mean(axis=2)
            d = np.abs(np.diff(gray, axis=1))
            cols = np.arange(d.shape[1])
            at_b = d[:, (cols % 8) == 7].mean()
            interior = d[:, (cols % 8) != 7].mean()
            return {
                "media_id": mid,
                "ok": True,
                "quality_class": cls,
                "blockiness": float(at_b / (interior + 1e-9)),
                "mean_luma": float(gray.mean()),
            }

        cols = [c.split(" ")[0] for c in SCHEMA.split(", ")]
        for pdf in it:
            rows = [score(int(i)) for i in pdf["doc_id"]]
            yield pd.DataFrame(rows, columns=cols)

    # repartition: decouple the Python mint+decode stage from
    # input-split granularity (see x60's note)
    return (
        _docs(spark, sf_dir)
        .select("doc_id")
        .repartition(spark.sparkContext.defaultParallelism, F.col("doc_id"))
        .mapInPandas(mint_score, SCHEMA)
    )
