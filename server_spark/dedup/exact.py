"""Exact deduplication (EXT — SURVEY.md §7.4).

Classic training-data exact dedup: hash the normalized text, group by
the hash, elect a canonical document per group. One shuffle on the
hash; at 100 TB the hash groupBy is embarrassingly parallel and
skew-free (sha256 keys are uniform), so this scales linearly — the
only knob is `spark.sql.shuffle.partitions` / AQE.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def normalized_text(col: str = "text") -> F.Column:
    """Canonical text normalization: trim + lowercase + collapse
    internal whitespace runs (robust to formatting-only dup variants)."""
    return F.regexp_replace(F.lower(F.trim(F.col(col))), r"\s+", " ")


def text_hash(col: str = "text") -> F.Column:
    return F.sha2(normalized_text(col), 256)


def exact_dedup_groups(docs: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """One row per distinct content hash: canonical id (min id — the
    deterministic survivor), duplicate count."""
    return (
        docs.select(F.col(id_col), text_hash().alias("content_hash"))
        .groupBy("content_hash")
        .agg(
            F.min(id_col).alias("canonical_doc_id"),
            F.count("*").alias("n_docs"),
        )
    )
