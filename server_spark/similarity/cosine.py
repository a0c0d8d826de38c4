"""Similarity search over embedding columns (EXT).

Brute-force cosine top-k is the correctness baseline: dot products via
`zip_with` + `aggregate` (JVM higher-order functions, Arrow-free, no
Python in the hot path), ranking via per-query windows. The scale path
is random-hyperplane LSH bucketing: sign-bit signatures turn the
all-pairs search into an equi-join on buckets, probing only collision
candidates — at 1B vectors the cross product is infeasible, the
bucketed join is a shuffle on (bucket) with tunable recall via
signature bits / probe tables.

Scores are ranked on canonically-rounded values with vec_id tiebreaks
so result sets are deterministic and engine-comparable (parity.r4).
"""

from __future__ import annotations

import inspect

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from server_spark.barrier import lazy_barrier

from server_spark.parity import r4

# Dimensionality of the synthetic `embeddings.embedding` column
# (TESTDATA.md); callers that score other corpora pass dim explicitly.
EMB_DIM = 64


def dot(a: str | Column, b: str | Column) -> Column:
    """Σ aᵢ·bᵢ in double, sequential fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def norm(a: str | Column) -> Column:
    return F.sqrt(
        F.aggregate(
            F.transform(a, lambda x: x.cast("double") * x.cast("double")),
            F.lit(0.0),
            lambda acc, v: acc + v,
        )
    )


def cosine(a: str | Column, b: str | Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


_IDENT = __import__("re").compile(r"[A-Za-z_][A-Za-z0-9_]*")


def dot_fixed(a: str | Column, b: str | Column, dim: int) -> Column:
    """Σ aᵢ·bᵢ as an unrolled ``dim``-term expression. Unlike the
    `aggregate` fold (interpreted per element), this stays inside
    whole-stage codegen — ~20× faster on all-pairs scoring. Left-assoc
    addition in index order ⇒ bit-identical to the sequential fold and
    to the oracle's ordered SUM.

    r15 (guide §7.3 — driver/planning time is serial overhead at any
    scale): the tree is assembled as ONE ``F.expr`` SQL string when
    both inputs are plain column names. The Column-operator form made
    ~6·dim py4j round trips (element_at, cast, *, + each cross the
    gateway) — measured 0.79 s PER CALL at dim=64, which dominated the
    build time of every similarity query (x35 calls it three times,
    x41 twice). The SQL parser produces the IDENTICAL Catalyst tree:
    ``+`` is left-associative in the grammar, terms stay in index
    order, and the casts are spelled the same — verified equal sums
    and hash-green parity. Column inputs (or exotic names) keep the
    operator form."""
    if (
        isinstance(a, str)
        and isinstance(b, str)
        and _IDENT.fullmatch(a)
        and _IDENT.fullmatch(b)
    ):
        return F.expr(
            " + ".join(
                f"(CAST(element_at({a}, {i + 1}) AS DOUBLE)"
                f" * CAST(element_at({b}, {i + 1}) AS DOUBLE))"
                for i in range(dim)
            )
        )
    terms = [
        F.element_at(a, i + 1).cast("double") * F.element_at(b, i + 1).cast("double")
        for i in range(dim)
    ]
    s = terms[0]
    for t in terms[1:]:
        s = s + t
    return s


def _rank_topk(
    scored: DataFrame, k: int, by: list[str], id_col: str, score_col: str = "score"
) -> DataFrame:
    """The final cut of every top-k method: ``rnk`` = row_number over
    ``by`` ordered by (score desc, id asc), kept while ``rnk <= k``
    (planned as a WindowGroupLimit ahead of the window)."""
    w = Window.partitionBy(*by).orderBy(
        F.col(score_col).desc(), F.col(id_col).asc()
    )
    return scored.withColumn("rnk", F.row_number().over(w)).filter(
        F.col("rnk") <= k
    )


def _exact_topk(
    cand: DataFrame, k: int, id_col: str, vec_col: str, qid_col: str,
    qvec_col: str, dim: int | None = None, by: list[str] | None = None,
) -> DataFrame:
    """The exact verify stage every candidate generator ends in.

    ``cand`` carries one row per (query, candidate) with both vectors
    and both norms (``_nrm`` corpus side, ``_qn`` query side); self
    pairs are dropped, each row is scored r4(dot / (nrm · qn)) — the
    unrolled ``dot_fixed`` when ``dim`` is given, else the ``dot``
    fold — and ranked per ``by`` (default the query id). Emits
    (*by, id, score, rnk)."""
    by = by or [qid_col]
    d = dot_fixed(vec_col, qvec_col, dim) if dim else dot(vec_col, qvec_col)
    scored = cand.filter(F.col(qid_col) != F.col(id_col)).select(
        *by, id_col, r4(d / (F.col("_nrm") * F.col("_qn"))).alias("score")
    )
    return _rank_topk(scored, k, by, id_col)


def brute_force_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
) -> DataFrame:
    """Top-k neighbors per query vector by cosine, excluding self.

    The query set is small → broadcast; the corpus is scanned once
    with its norms computed once (not once per query); rank on
    (rounded score desc, vec_id) for determinism.
    """
    corpus = embeddings.select(
        F.col(id_col), F.col(vec_col), norm(vec_col).alias("_nrm")
    )
    qs = queries.select(
        F.col(qid_col), F.col(qvec_col), norm(qvec_col).alias("_qn")
    )
    return _exact_topk(
        corpus.crossJoin(F.broadcast(qs)), k, id_col, vec_col, qid_col, qvec_col
    )


def neardup_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (a < b, score ≥ t).

    Norms are computed ONCE per vector before the pair join (the naive
    per-pair cosine recomputes both norms for every pair — 3× the
    flops); with ``dim`` given, the dot product is the unrolled codegen
    form. All-pairs is the exact baseline; LSH bucketing (lsh_topk's
    signature machinery) is the scale path.
    """
    base = embeddings.select(
        F.col(id_col), F.col(vec_col), norm(vec_col).alias("nrm")
    )
    a = base.select(
        F.col(id_col).alias("vec_a"), F.col(vec_col).alias("ea"),
        F.col("nrm").alias("na"),
    )
    b = base.select(
        F.col(id_col).alias("vec_b"), F.col(vec_col).alias("eb"),
        F.col("nrm").alias("nb"),
    )
    d = dot_fixed("ea", "eb", dim) if dim else dot("ea", "eb")
    return (
        a.join(b, F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a",
            "vec_b",
            r4(d / (F.col("na") * F.col("nb"))).alias("score"),
        )
        .filter(F.col("score") >= threshold)
    )


def _cell_pairs(rows_a, rows_b, diagonal: bool, threshold: float):
    """Score one (block, block) cell of the all-pairs grid as one numpy
    matmul: (a, b, score) arrays of the pairs at or above ``threshold``,
    normalised to a < b. Executors get it as source text
    (``_CELL_SRC``) so workers never import server_spark."""
    import numpy as np

    ids_a = np.array([r["id"] for r in rows_a], dtype=np.int64)
    mat_a = np.array([r["vec"] for r in rows_a], dtype=np.float64)
    ids_b = np.array([r["id"] for r in rows_b], dtype=np.int64)
    mat_b = np.array([r["vec"] for r in rows_b], dtype=np.float64)
    na = np.linalg.norm(mat_a, axis=1)
    nb = np.linalg.norm(mat_b, axis=1)
    s = (mat_a @ mat_b.T) / np.outer(na, nb)
    # canonical rounding: 1e-10 snap, then decimal HALF_UP to 4 places
    # — the exact numpy replica of parity.r4. Both steps HALF_UP
    # (sign*floor(abs*k+0.5)/k): np.round is half-to-even on the binary
    # double and can disagree with the DECIMAL(38,10) cast at a
    # midpoint, flipping threshold inclusion vs the oracle.
    s = np.sign(s) * np.floor(np.abs(s) * 1e10 + 0.5) / 1e10
    s = np.sign(s) * np.floor(np.abs(s) * 1e4 + 0.5) / 1e4
    keep = s >= threshold
    if diagonal:
        # diagonal cell: each unordered pair appears twice; an
        # off-diagonal cell holds every (a, b) pair exactly once
        keep &= ids_a[:, None] < ids_b[None, :]
    ia, ib = np.nonzero(keep)
    pa, pb = ids_a[ia], ids_b[ib]
    return np.minimum(pa, pb), np.maximum(pa, pb), s[ia, ib]


_CELL_SRC = inspect.getsource(_cell_pairs)


def derive_n_blocks(
    n_rows: int, rows_per_block: int, min_blocks: int = 8
) -> int:
    """Blocks needed so no packed block exceeds ``rows_per_block``
    vectors (id-hash packing is uniform, so block size concentrates
    tightly around n_rows / n_blocks). ``min_blocks`` floors the
    count so the (i ≤ j) cell grid keeps every core busy on small
    corpora — memory bounds pick the ceiling, parallelism the floor
    (8 blocks → 36 cells)."""
    import math

    return max(min_blocks, math.ceil(max(n_rows, 1) / rows_per_block))


def neardup_pairs_blocked(
    embeddings: DataFrame,
    threshold: float,
    rows_per_block: int = 4096,
    n_blocks: int | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """All-pairs cosine near-dup via BLOCK MATRIX product — the scale
    form of ``neardup_pairs``.

    Vectors are packed into blocks of ≤ ``rows_per_block`` rows; the
    (i ≤ j) block-pair grid is a tiny self-join of packed rows; each
    grid cell is scored as one numpy matmul inside mapInPandas
    (Arrow-batched, executor-side — the driver never sees a vector).
    Shuffle volume is n_blocks× the corpus (each block joins
    n_blocks/2 partners) and per-task memory is two blocks.

    The block COUNT is derived from the corpus count (one cheap
    metadata-ish job) so block SIZE stays constant as the corpus
    grows: at 4096 rows × 64 float dims a packed block is ~2 MB, far
    under both the 2 GiB Spark row cap and executor memory, whether
    the corpus is 2k or 2B vectors. ``n_blocks`` can still be forced
    for tests. Row-explosion of the naive pair join (O(N²) rows of
    array copies) never materializes.
    """
    import numpy as np
    import pandas as pd

    if n_blocks is None:
        n_blocks = derive_n_blocks(embeddings.count(), rows_per_block)

    e = embeddings.select(
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        # hash before pmod (the _grouped sibling's rule): raw id %
        # n_blocks correlates with id patterns — a strided/parity id
        # set empties half the residues and doubles real block sizes,
        # worst case packing the whole corpus into ONE block and
        # voiding the two-blocks-in-memory bound (r11 review finding).
        # The output pair set is invariant to packing: the block grid
        # covers all pairs under any assignment.
        F.pmod(F.xxhash64(F.col(id_col)), F.lit(n_blocks)).alias("blk"),
    )
    # packed feeds BOTH sides of the grid self-join — materialize once
    # (Catalyst does not ReusedExchange across the branches; without
    # this the pack agg runs twice)
    packed = e.groupBy("blk").agg(
        F.collect_list(F.struct("id", "vec")).alias("rows")
    ).transform(lazy_barrier)
    a = packed.select(F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a"))
    b = packed.select(F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b"))
    grid = a.join(b, F.col("blk_a") <= F.col("blk_b"))

    cell_src = _CELL_SRC  # by value: the closure must not import server_spark

    def score(batches):
        ns: dict = {}
        exec(cell_src, ns)
        cell = ns["_cell_pairs"]
        for pdf in batches:
            cells = [
                cell(r["rows_a"], r["rows_b"], r["blk_a"] == r["blk_b"], threshold)
                for _, r in pdf.iterrows()
            ]
            if cells:
                a, b, s = (np.concatenate(c) for c in zip(*cells))
                yield pd.DataFrame({"vec_a": a, "vec_b": b, "score": s})

    return grid.mapInPandas(score, "vec_a long, vec_b long, score double")


def neardup_pairs_blocked_grouped(
    embeddings: DataFrame,
    threshold: float,
    group_col: str,
    rows_per_block: int = 4096,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Within-group all-pairs cosine near-dup via block matmul — the
    SemDeDup inner loop at scale (pairs are scored ONLY inside a
    ``group_col`` cluster; cross-group pairs never exist).

    Per-group block counts derive from per-GROUP sizes (one hash-agg,
    broadcast back), so a skewed cluster gets more blocks instead of
    one oversized task: per-task memory stays two ≤``rows_per_block``
    blocks no matter how unbalanced the clustering. The cell grid
    equi-joins on the group id, so the shuffle key is (group), never
    a handful of hot literals, and the pair volume is Σ|cluster|² —
    the entire point of clustering before scoring. Output carries the
    group id as ``cluster_id``.
    """
    import numpy as np
    import pandas as pd

    sizes = embeddings.groupBy(group_col).agg(F.count("*").alias("_gn"))
    nb = F.greatest(
        F.lit(1), F.ceil(F.col("_gn") / F.lit(rows_per_block))
    ).cast("long")
    e = embeddings.join(F.broadcast(sizes), group_col).select(
        F.col(group_col).cast("long").alias("grp"),
        F.col(id_col).alias("id"),
        F.col(vec_col).alias("vec"),
        # hash before pmod: raw ids can correlate with the modulus
        # (parity/stride patterns leave residues empty and double real
        # block sizes, worst case one block per group), which would void
        # the two-blocks-in-memory bound below. xxhash64 decorrelates.
        F.pmod(F.xxhash64(F.col(id_col)), nb).alias("blk"),
    )
    # packed feeds BOTH sides of the grid self-join — materialize once
    # (see neardup_pairs_blocked; the whole clustering upstream would
    # otherwise run twice)
    packed = e.groupBy("grp", "blk").agg(
        F.collect_list(F.struct("id", "vec")).alias("rows")
    ).transform(lazy_barrier)
    a = packed.select(
        "grp", F.col("blk").alias("blk_a"), F.col("rows").alias("rows_a")
    )
    b = packed.select(
        "grp", F.col("blk").alias("blk_b"), F.col("rows").alias("rows_b")
    )
    grid = a.join(b, "grp").filter(F.col("blk_a") <= F.col("blk_b"))

    cell_src = _CELL_SRC  # by value: the closure must not import server_spark

    def score(batches):
        ns: dict = {}
        exec(cell_src, ns)
        cell = ns["_cell_pairs"]
        for pdf in batches:
            grps, cells = [], []
            for _, r in pdf.iterrows():
                cells.append(
                    cell(r["rows_a"], r["rows_b"], r["blk_a"] == r["blk_b"], threshold)
                )
                grps.append(np.full(len(cells[-1][0]), r["grp"], dtype=np.int64))
            if cells:
                a, b, s = (np.concatenate(c) for c in zip(*cells))
                yield pd.DataFrame(
                    {"cluster_id": np.concatenate(grps), "vec_a": a, "vec_b": b, "score": s}
                )

    return grid.mapInPandas(
        score, "cluster_id long, vec_a long, vec_b long, score double"
    )


def _with_signatures(
    df: DataFrame, vec_col: str, tables: list[list[list[float]]], out: str
) -> DataFrame:
    """Append an array column of per-table LSH bucket ids, computed as
    one numpy matmul over all tables' planes per Arrow batch (a narrow
    map — scan-speed at any corpus size)."""
    import numpy as np

    from pyspark.sql import types as T

    planes = [np.array(t, dtype=np.float64) for t in tables]
    weights = [1 << np.arange(p.shape[0], dtype=np.int64) for p in planes]
    schema = T.StructType(list(df.schema) + [T.StructField(out, T.ArrayType(T.LongType()))])

    def gen(batches):
        for pdf in batches:
            if len(pdf) == 0:  # zero-row Arrow batch (ivf/pq guard)
                continue
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            sigs = [((mat @ p.T) >= 0) @ w for p, w in zip(planes, weights)]
            pdf = pdf.copy()
            pdf[out] = list(np.stack(sigs, axis=1)) if sigs else [[]] * len(pdf)
            yield pdf

    return df.mapInPandas(gen, schema)


def lsh_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    tables: list[list[list[float]]],
    k: int = 10,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    dim: int | None = None,
) -> DataFrame:
    """Approximate top-k with multi-table LSH: a corpus vector is a
    candidate if it collides with the query in ANY table, then
    candidates are re-ranked by exact cosine.

    Signatures: one numpy pass (mapInPandas). Candidate generation:
    explode (table, bucket) and equi-join — no cross product ever
    materializes. The recall/cost dial at corpus scale: more tables →
    higher recall; more planes per table → smaller buckets.
    """
    e = _with_signatures(
        embeddings.select(id_col, vec_col).withColumn("_nrm", norm(vec_col)),
        vec_col, tables, "_sig",
    ).select(
        id_col, vec_col, "_nrm",
        F.posexplode("_sig").alias("_tbl", "_bucket"),
    )
    q = _with_signatures(
        queries.select(qid_col, qvec_col).withColumn("_qn", norm(qvec_col)),
        qvec_col, tables, "_sig",
    ).select(
        qid_col, qvec_col, "_qn",
        F.posexplode("_sig").alias("_tbl", "_bucket"),
    )
    cand = e.join(F.broadcast(q), ["_tbl", "_bucket"]).dropDuplicates(
        [qid_col, id_col]
    )
    return _exact_topk(cand, k, id_col, vec_col, qid_col, qvec_col, dim)


def norm_trim_flags(
    emb: DataFrame,
    dim: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    low_pct: int = 1,
    high_pct: int = 1,
) -> DataFrame:
    """Flag L2-norm outliers: (id, l2_norm, kept) where ``kept`` is
    False for vectors whose (4-decimal-rounded) norm group lies
    ENTIRELY inside the bottom ``low_pct``% / top ``high_pct``% of
    the corpus by rank. Straddling groups are kept, so a
    constant-norm corpus drops nothing.

    Scale shape: one hash-agg to a norm histogram, a cumulative
    window over DISTINCT ROUNDED norms only (cardinality bounded by
    the value range × 1e4, never the corpus), then a broadcast join
    back — no all-rows single-partition window.
    """
    norms = emb.select(
        F.col(id_col), r4(F.sqrt(dot_fixed(vec_col, vec_col, dim))).alias("l2_norm")
    )
    hist = norms.groupBy("l2_norm").agg(F.count("*").alias("n_vecs"))
    # pinned single group: bounded-relation global window (distinct
    # rounded norms, never the corpus) — silences the WindowExec
    # no-partition warning so logs at scale only flag real ones.
    from server_spark.operators.windows import pinned_single_group

    w = (
        Window.partitionBy(pinned_single_group("l2_norm"))
        .orderBy("l2_norm")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum", F.sum("n_vecs").over(w))
    tot = norms.agg(F.count("*").alias("n_total"))
    flagged = cum.crossJoin(F.broadcast(tot)).select(
        "l2_norm",
        (
            (F.col("cum") * 100 > F.col("n_total") * F.lit(low_pct))
            & (
                (F.col("cum") - F.col("n_vecs")) * 100
                < F.col("n_total") * F.lit(100 - high_pct)
            )
        ).alias("kept"),
    )
    return norms.join(F.broadcast(flagged), "l2_norm").select(
        id_col, "l2_norm", "kept"
    )
