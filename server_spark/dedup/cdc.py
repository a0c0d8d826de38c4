"""Content-defined chunking (gear-CDC) over document text.

Boundaries fall where the rolling ``W``-gram hash ≡ 0 (mod
``DIVISOR``) — the Rabin/gear trick that makes chunk identity
SHIFT-INVARIANT: insert a sentence at the top of a mirrored document
and fixed-size chunks (x102) all change, but CDC boundaries
re-synchronize after one chunk, so the mirror still dedups. Shared by
the profile query (x117_cdc_chunks) and the decontamination query
(x121), so both compute the IDENTICAL chunk relation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from server_spark.dedup import minhash as mh

CDC_W = 4        # rolling gram width that decides boundaries
CDC_DIVISOR = 16  # boundary when gram-hash % divisor == 0 (E[len]≈16)


def cdc_chunk_table(docs: DataFrame) -> DataFrame:
    """(doc_id, source, chunk_idx, n_tokens, chunk_hash) — one row per
    CDC chunk of every document. ``docs`` needs (doc_id, source,
    text). One doc-keyed window pass stamps boundaries, a per-doc
    cumsum indexes chunks, one hash-agg builds chunk hashes (position-
    ordered concatenation, engine-stable)."""
    toks = (
        docs.select(
            "doc_id",
            "source",
            F.posexplode(
                F.split(F.lower(F.trim(F.col("text"))), r"\s+")
            ).alias("pos", "token"),
        )
        .filter(F.col("token") != "")
    )
    win = Window.partitionBy("doc_id").orderBy("pos")
    gram = F.concat_ws(
        " ",
        F.lag("token", 3).over(win),
        F.lag("token", 2).over(win),
        F.lag("token", 1).over(win),
        F.col("token"),
    )
    stamped = toks.select(
        "doc_id",
        "source",
        "pos",
        "token",
        F.when(
            F.lag("token", CDC_W - 1).over(win).isNotNull()
            & (mh.md5_value(gram) % CDC_DIVISOR == 0),
            1,
        )
        .otherwise(0)
        .alias("is_boundary"),
    )
    cum = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(
        Window.unboundedPreceding, -1
    )
    idx = stamped.select(
        "doc_id",
        "source",
        "pos",
        "token",
        F.coalesce(F.sum("is_boundary").over(cum), F.lit(0)).alias(
            "chunk_idx"
        ),
    )
    return idx.groupBy("doc_id", "source", "chunk_idx").agg(
        F.count("*").alias("n_tokens"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "token"))),
                    lambda s: s.token,
                ),
                " ",
            )
        ).alias("chunk_hash"),
    )


def cdc_chunks_sql() -> str:
    """DuckDB CTE chain ``toks, gram, idx, chunks`` over `documents`,
    mirroring :func:`cdc_chunk_table` — the SINGLE source of the
    oracle-side chunking rule (W, divisor, word split, ordered
    string_agg), shared by x117's profile and x121's decontamination
    twins so the rule can never drift between them. ``chunks`` ends
    with (doc_id, source, chunk_idx, n_tokens, hb, chunk_hash); hb is
    the x17 split hash prefix, harmless for consumers that ignore it.
    """
    from server_spark.dedup.minhash import md5_value_sql

    gram_hash = md5_value_sql(
        "LAG(token, 3) OVER win || ' ' || "
        "LAG(token, 2) OVER win || ' ' || "
        "LAG(token, 1) OVER win || ' ' || token"
    )
    return rf"""toks AS (
        SELECT doc_id, source, pos, token FROM (
            SELECT doc_id, source,
                   generate_subscripts(l, 1) AS pos,
                   UNNEST(l) AS token
            FROM (SELECT doc_id, source,
                         string_split_regex(LOWER(TRIM(text)), '\s+') AS l
                  FROM documents)
        ) WHERE token <> ''
    ),
    gram AS (
        SELECT doc_id, source, pos, token,
               CASE WHEN LAG(token, {CDC_W - 1}) OVER win IS NOT NULL
                    AND ({gram_hash}) % {CDC_DIVISOR} = 0
                    THEN 1 ELSE 0 END AS is_boundary
        FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
    ),
    idx AS (
        SELECT doc_id, source, pos, token,
               COALESCE(SUM(is_boundary) OVER (
                   PARTITION BY doc_id ORDER BY pos
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
               ), 0) AS chunk_idx
        FROM gram
    ),
    chunks AS (
        SELECT doc_id, source, chunk_idx,
               COUNT(*) AS n_tokens,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS hb,
               md5(string_agg(token, ' ' ORDER BY pos)) AS chunk_hash
        FROM idx GROUP BY 1, 2, 3
    )"""
