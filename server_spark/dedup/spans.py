"""Exact-substring (repeated-span) dedup over a document corpus (EXT).

The two halves of Lee et al. 2022 ("Deduplicating Training Data Makes
Language Models Better") re-expressed in DataFrame ops at word-k-gram
granularity:

1. :func:`repeated_span_inventory` — every rolling word-k-gram span
   occurring in >= ``min_docs`` distinct documents, with document
   frequency, total occurrences, and the canonical first document.
   This is the REMOVAL-TARGET LIST a scrub pass consumes.
2. :func:`span_scrub` — the TRANSFORM: every occurrence of a repeated
   span except the canonical first (min (doc_id, pos) — a
   deterministic total order) has its word positions marked covered;
   overlapping spans union naturally via position-covering; uncovered
   words reassemble in order into the scrubbed text.

Scale shape: span generation is a pure NARROW map over the split
array (the text is already one row — no per-doc window, no shuffle);
the inventory is one groupBy(span) with map-side combine; the
canonicalization window partitions by SPAN (each span's occurrence
list is tiny); the scrub is one anti-join on (doc_id, pos) plus one
per-doc reassembly agg. At 100 TB the span group key becomes
xxhash64(span) so the shuffle carries 8 bytes per occurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from server_spark.barrier import barrier, lazy_barrier

from server_spark.dedup.ngram import split_words
from server_spark.tables import fan_out

SPAN_WORDS = 6
SPAN_MIN_DOCS = 2


def _span_structs(words_col: str, n: int):
    """Array of (pos, span) structs: rolling word-n-grams with their
    1-based start positions, built by indexed assembly over a
    PROJECTED words-array column (lambda-CSE pitfall — see
    ngram.shingle_array)."""
    w = F.col(words_col)
    return F.when(
        F.size(w) >= n,
        F.transform(
            F.sequence(F.lit(0), F.size(w) - n),
            lambda i: F.struct(
                (i + 1).cast("int").alias("pos"),
                F.concat_ws(
                    " ",
                    *[
                        F.element_at(w, (i + j + 1).cast("int"))
                        for j in range(n)
                    ],
                ).alias("span"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<pos:int,span:string>>"))


def span_positions(
    docs: DataFrame,
    n: int = SPAN_WORDS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, pos, span) rows — one per rolling word-n-gram occurrence.

    Deliberately NOT fan_out'd (r14, measured): every consumer
    aggregates or joins these rows by span immediately, and the
    map-side combine of that shuffle does MORE collapsing when the
    narrow span map runs on fewer, larger partitions — x43 measured
    1.24 → 2.62 s with a fan-out exchange inserted here.
    _words_and_cov (the scrub family), whose downstream re-reads the
    words relation twice, IS fan_out'd."""
    with_arr = docs.select(
        F.col(id_col), split_words(text_col).alias("_w")
    )
    return with_arr.select(
        F.col(id_col), F.explode(_span_structs("_w", n)).alias("s")
    ).select(
        F.col(id_col),
        F.col("s.pos").alias("pos"),
        F.col("s.span").alias("span"),
    )


def repeated_span_inventory(
    docs: DataFrame,
    n: int = SPAN_WORDS,
    min_docs: int = SPAN_MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(span, n_docs, n_occurrences, first_doc_id) for every span in
    >= ``min_docs`` distinct documents."""
    sp = span_positions(docs, n, id_col, text_col)
    inv = sp.groupBy("span").agg(
        F.countDistinct(id_col).alias("n_docs"),
        F.count("*").alias("n_occurrences"),
        F.min(id_col).alias("first_doc_id"),
    )
    return inv.filter(F.col("n_docs") >= min_docs).select(
        "span", "n_docs", "n_occurrences", "first_doc_id"
    )


def _words_and_cov(
    docs: DataFrame,
    n: int,
    min_docs: int,
    id_col: str,
    text_col: str,
) -> tuple[DataFrame, DataFrame]:
    """Shared guts of the scrub family: (with_arr, words, cov) where
    ``with_arr`` is the tokenized (id, _w words-array) relation,
    ``words`` is one (id, pos, word) row per word and ``cov`` is the
    DISTINCT set of (cov_doc, cpos) word positions covered by a
    NON-CANONICAL occurrence of a cross-doc repeated span — i.e. the
    removal set.

    r15: ``with_arr`` is lazily CHECKPOINTED — it feeds the words
    explode, the span build, AND (via the returned handle) the
    caller's n_words projection, and without the cut each consumer
    re-ran the scan + split_words tokenization (the family's most
    expensive narrow map ran 3× per query; plans showed the docs
    parquet scan duplicated accordingly)."""
    with_arr = fan_out(docs).select(
        F.col(id_col), split_words(text_col).alias("_w")
    ).transform(lazy_barrier)
    words = with_arr.select(
        F.col(id_col), F.posexplode("_w").alias("pos0", "word")
    ).select(
        F.col(id_col), (F.col("pos0") + 1).cast("int").alias("pos"), "word"
    )
    sp = (
        with_arr.select(
            F.col(id_col), F.explode(_span_structs("_w", n)).alias("s")
        )
        .select(
            F.col(id_col),
            F.col("s.pos").alias("pos"),
            F.col("s.span").alias("span"),
        )
        # feeds the inventory AND the occ join, materialized eagerly
        # as in ext_dedup._gated_edges: with a lazy checkpoint here the
        # first consumer job to end truncated its lineage while the
        # other still ran, and x46 dropped SQL metric updates
        # (``non-existent accumulator``). with_arr stays lazy: making
        # it eager alone did not stop the drops.
        .transform(barrier)
    )
    inv = (
        sp.groupBy("span")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("span")
    )
    wspan = Window.partitionBy("span").orderBy(id_col, "pos")
    occ = sp.join(inv, "span").withColumn("rn", F.row_number().over(wspan))
    # distinct aliases: cov shares lineage with words, and ambiguous
    # self-join attributes are a silent-wrong-result hazard
    cov = (
        occ.filter(F.col("rn") > 1)
        .select(
            F.col(id_col).alias("cov_doc"),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + n - 1)
            ).alias("cpos"),
        )
        .distinct()
    )
    return with_arr, words, cov


def span_scrub(
    docs: DataFrame,
    n: int = SPAN_WORDS,
    min_docs: int = SPAN_MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, n_words, n_kept, n_removed, clean_hash) per document after
    removing every non-canonical occurrence of each repeated span.
    ``clean_hash`` is md5 of the space-joined kept words (md5('') for
    a fully-scrubbed doc)."""
    with_arr, words, cov = _words_and_cov(docs, n, min_docs, id_col, text_col)
    kept = words.join(
        cov,
        (words[id_col] == cov["cov_doc"]) & (words["pos"] == cov["cpos"]),
        "left_anti",
    )
    agg = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            )
        ).alias("clean_hash"),
    )
    # n_words off the SHARED tokenized relation (size of the split
    # array == size(split_words(text)) by construction) — was a third
    # scan + tokenize of the corpus
    base = with_arr.select(
        F.col(id_col),
        F.size("_w").alias("n_words"),
    )
    return base.join(agg, id_col, "left").select(
        F.col(id_col),
        "n_words",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_words") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce("clean_hash", F.md5(F.lit(""))).alias("clean_hash"),
    )


def maximal_removed_spans(
    docs: DataFrame,
    n: int = SPAN_WORDS,
    min_docs: int = SPAN_MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Per-document MAXIMAL removal spans: runs of consecutive covered
    word positions merged into one interval (gaps-and-islands over
    ``pos``), with the span text reassembled.

    This closes the Lee et al. 2022 fidelity gap the word-k-gram
    approximation leaves open: a long repeated region appears as many
    overlapping k-gram hits, which :func:`span_scrub` already removes
    as a unit via position covering, but the k-gram inventory reports
    them as independent n-word spans. Here adjacent/overlapping hits
    merge into ONE maximal span per doc — the paper's removal unit —
    with its true length surfaced.

    Shape: covered positions are the scrub's own removal set; islands
    come from one window partitioned by DOC (pos - row_number is
    constant within a run); one groupBy(doc, island) reassembles. All
    keys are high-cardinality (doc_id), so the shuffle scales with
    corpus size, never with a hot literal.

    Invariant vs the scrub (property-tested): per doc,
    Σ span_len == span_scrub().n_removed.
    """
    _arr, words, cov = _words_and_cov(docs, n, min_docs, id_col, text_col)
    wdoc = Window.partitionBy("cov_doc").orderBy("cpos")
    isl = cov.withColumn(
        "isl", F.col("cpos") - F.row_number().over(wdoc)
    )
    covw = isl.join(
        words,
        (isl["cov_doc"] == words[id_col]) & (isl["cpos"] == words["pos"]),
    ).select("cov_doc", "cpos", "isl", "word")
    return (
        covw.groupBy("cov_doc", "isl")
        .agg(
            F.min("cpos").alias("span_start"),
            F.max("cpos").alias("span_end"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("cpos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("span_text"),
        )
        .select(
            F.col("cov_doc").alias(id_col),
            "span_start",
            "span_end",
            (F.col("span_end") - F.col("span_start") + 1)
            .cast("long")
            .alias("span_len"),
            "span_text",
        )
    )


def incremental_span_scrub(
    base: DataFrame,
    batch: DataFrame,
    n: int = SPAN_WORDS,
    min_docs: int = SPAN_MIN_DOCS,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Scrub an ARRIVING batch against a STANDING corpus — the
    incremental form of :func:`span_scrub` (mirrors x38's asymmetric
    batch×base shape: per-increment cost scales with the batch, never
    the corpus).

    Rules: a batch span occurrence whose span already exists in the
    base is covered unconditionally (the base holds the canonical
    copy); spans NOT in the base but repeated across >= ``min_docs``
    batch docs keep their canonical first batch occurrence. Output has
    :func:`span_scrub`'s schema, for the batch docs only.

    At 100 TB the base inventory is a maintained DISTINCT-span table
    (the x43 artifact); the batch joins it on span — an equi-join
    whose shuffle carries the batch side, with the inventory bucketed
    by span hash.
    """
    # r15: base_inv feeds BOTH the semi- and the anti-join below; un-cut
    # it re-ran the whole base-side scan + tokenize + span build once
    # per consumer (plans showed the base scan duplicated). At 100 TB
    # this relation is the maintained x43 artifact anyway — locally the
    # lazy checkpoint stands in for that materialized table.
    base_inv = (
        span_positions(base, n, id_col, text_col)
        .select("span")
        .distinct()
        .transform(lazy_barrier)
    )
    # batch side tokenized ONCE (see _words_and_cov's r15 note)
    with_arr = batch.select(
        F.col(id_col), split_words(text_col).alias("_w")
    ).transform(lazy_barrier)
    words = with_arr.select(
        F.col(id_col), F.posexplode("_w").alias("pos0", "word")
    ).select(
        F.col(id_col), (F.col("pos0") + 1).cast("int").alias("pos"), "word"
    )
    sp = (
        with_arr.select(
            F.col(id_col), F.explode(_span_structs("_w", n)).alias("s")
        )
        .select(
            F.col(id_col),
            F.col("s.pos").alias("pos"),
            F.col("s.span").alias("span"),
        )
        .transform(lazy_barrier)  # feeds the base join AND the batch-repeat path
    )
    hit_base = sp.join(base_inv, "span", "left_semi").select(id_col, "pos")
    fresh = sp.join(base_inv, "span", "left_anti")
    fresh_inv = (
        fresh.groupBy("span")
        .agg(F.countDistinct(id_col).alias("nd"))
        .filter(F.col("nd") >= min_docs)
        .select("span")
    )
    wspan = Window.partitionBy("span").orderBy(id_col, "pos")
    batch_rep = (
        fresh.join(fresh_inv, "span")
        .withColumn("rn", F.row_number().over(wspan))
        .filter(F.col("rn") > 1)
        .select(id_col, "pos")
    )
    cov = (
        hit_base.unionByName(batch_rep)
        .select(
            F.col(id_col).alias("cov_doc"),
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + n - 1)
            ).alias("cpos"),
        )
        .distinct()
    )
    kept = words.join(
        cov,
        (words[id_col] == cov["cov_doc"]) & (words["pos"] == cov["cpos"]),
        "left_anti",
    )
    agg = kept.groupBy(id_col).agg(
        F.count("*").alias("n_kept"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            )
        ).alias("clean_hash"),
    )
    out = with_arr.select(
        F.col(id_col),
        F.size("_w").alias("n_words"),
    )
    return out.join(agg, id_col, "left").select(
        F.col(id_col),
        "n_words",
        F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
        (F.col("n_words") - F.coalesce("n_kept", F.lit(0)))
        .cast("long")
        .alias("n_removed"),
        F.coalesce("clean_hash", F.md5(F.lit(""))).alias("clean_hash"),
    )
