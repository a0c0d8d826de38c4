"""SimHash near-duplicate fingerprinting (EXT).

64-bit SimHash: hash each token to 64 bits, sum signed bit
contributions across tokens, take the sign per bit. Near-dups have
small Hamming distance between fingerprints. Everything stays in
JVM built-ins: xxhash64 for token hashes, bit arithmetic via shifts —
no Python UDF, so at 100 TB this is a pure narrow map over documents.

Engine-specific hash (Spark xxhash64) → rows-only for the oracle;
semantics asserted in unit tests (identical docs → identical
fingerprint; near-identical docs → small Hamming distance).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def simhash64(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """One (id, simhash) row per document."""
    tokens = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.trim(F.col(text_col))), r"\s+")).alias("tok"),
    ).withColumn("h", F.xxhash64("tok"))
    # per (doc, bit): contribution ±1 depending on the token-hash bit.
    # All three 64-wide expression blocks are assembled as SQL strings
    # (one F.expr parse each), not nested Column operators — the
    # operator form costs ~5 py4j round trips per node and these loops
    # alone were ~2 s of DRIVER time per x9 build (r15; see
    # cosine.dot_fixed). Parsed trees are identical (CASE WHEN ⇔
    # when/otherwise, & ⇔ bitwiseAND, left-assoc |).
    contribs = tokens.select(
        id_col,
        *[
            F.expr(
                f"CASE WHEN (shiftright(h, {i}) & 1) = 1 "
                f"THEN 1 ELSE -1 END AS b{i}"
            )
            for i in range(64)
        ],
    )
    sums = contribs.groupBy(id_col).agg(
        *[F.expr(f"sum(b{i}) AS b{i}") for i in range(64)]
    )
    bit_terms = [
        f"(CASE WHEN b{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        if i < 63
        # bit 63 would overflow a signed long via (1<<63); use shiftleft
        else "(CASE WHEN b63 > 0 THEN shiftleft(CAST(1 AS BIGINT), 63) ELSE 0 END)"
        for i in range(64)
    ]
    fingerprint = F.expr(
        "CAST(0 AS BIGINT) | " + " | ".join(bit_terms)
    )
    return sums.select(F.col(id_col), fingerprint.alias("simhash"))
