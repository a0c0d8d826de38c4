"""MinHash + LSH near-duplicate detection (EXT) — the 100 TB dedup
scale path: signature computation is one hash-agg over the shingle
relation, banding turns the quadratic candidate search into an
equi-join on (band, band_hash).

``minhash_candidates``: universal-hash minhash entirely in JVM
built-ins — xxhash64 shingle hashing, k min-aggs in one shuffle,
banded equi-join, signature-agreement Jaccard estimate.

Engine-specific hashing → no DuckDB oracle (rows-only); correctness
is asserted in tests against exact Jaccard (dedup/ngram.py).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from server_spark.barrier import lazy_barrier

from server_spark.dedup.ngram import word_shingles

# Universal-hash family h(u) = (a·u + b) mod P over 32-bit shingle
# hashes. a < 2^31 and u < 2^32 keep a·u+b < 2^63 (no overflow in
# LongType); P is a prime > 2^32.
_P = 4294967311


def _coeffs(k: int, seed: int) -> list[tuple[int, int]]:
    rng = random.Random(seed)
    return [
        (rng.randrange(1, (1 << 31) - 1), rng.randrange(0, (1 << 31) - 1))
        for _ in range(k)
    ]


def minhash_signatures(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    seed: int = 42,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """k-permutation minhash signature per document: one wide groupBy
    (k min-aggregations, map-side combined, single shuffle)."""
    sh = word_shingles(docs, n=n, id_col=id_col, text_col=text_col)
    u = F.xxhash64("shingle").bitwiseAND(F.lit((1 << 32) - 1))
    base = sh.select(F.col(id_col), u.alias("u"))
    aggs = [
        F.min((F.col("u") * F.lit(a) + F.lit(b)) % _P).alias(f"h{i}")
        for i, (a, b) in enumerate(_coeffs(num_hashes, seed))
    ]
    return base.groupBy(id_col).agg(*aggs)


def minhash_candidates(
    docs: DataFrame,
    n: int = 3,
    num_hashes: int = 32,
    n_bands: int = 8,
    min_est: float = 0.0,
    seed: int = 42,
    id_col: str = "doc_id",
) -> DataFrame:
    """Candidate near-dup pairs (doc_a < doc_b, jaccard_est) via banded
    minhash LSH: pairs agreeing on ANY band of signature components
    become candidates; the estimate is the fraction of agreeing
    signature components."""
    rows_per_band = num_hashes // n_bands
    # The signature relation feeds both banded join branches AND both
    # per-side signature lookups (4 references, no exchange reuse) —
    # materialize the shingle+min-agg pipeline once.
    sig = minhash_signatures(
        docs, n=n, num_hashes=num_hashes, seed=seed, id_col=id_col
    ).transform(lazy_barrier)

    band_entries = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.xxhash64(
                    *[F.col(f"h{bi * rows_per_band + j}") for j in range(rows_per_band)]
                ).alias("bsig"),
            )
            for bi in range(n_bands)
        ]
    )
    banded = sig.select(F.col(id_col), F.explode(band_entries).alias("be")).select(
        id_col, "be.band", "be.bsig"
    )
    a = banded.select(F.col(id_col).alias("doc_a"), "band", "bsig")
    b = banded.select(F.col(id_col).alias("doc_b"), "band", "bsig")
    cand = (
        a.join(b, ["band", "bsig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    sa = sig.select(
        F.col(id_col).alias("doc_a"), *[F.col(f"h{i}").alias(f"a{i}") for i in range(num_hashes)]
    )
    sb = sig.select(
        F.col(id_col).alias("doc_b"), *[F.col(f"h{i}").alias(f"b{i}") for i in range(num_hashes)]
    )
    agree = sum(
        (F.col(f"a{i}") == F.col(f"b{i}")).cast("int") for i in range(num_hashes)
    )
    return (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            (agree / F.lit(num_hashes)).alias("jaccard_est"),
        )
        .filter(F.col("jaccard_est") >= min_est)
    )


# ---------------------------------------------------------------------------
# Engine-portable (md5-derived) MinHash — the ORACLE-CHECKABLE family.
# xxhash64 above is the fast production path but is Spark-specific;
# deriving the shingle's integer value from its md5 prefix gives
# bit-identical signatures in any engine with md5 (DuckDB, Trino, …),
# so LSH-gated pipelines can be value-verified end-to-end. Both sides
# of every builder below (Spark Column / SQL text) are generated from
# the same constants to stay in lockstep.
# ---------------------------------------------------------------------------

# Prime modulus for the universal-hash family; small enough that
# a·v+b stays well under 2^63 for 32-bit a and v.
MD5_P = 4_000_037


def md5_coeffs(k: int = 32, seed: int = 1234) -> list[tuple[int, int]]:
    """Seeded (a, b) pairs for h_i(v) = (a·v + b) mod MD5_P."""
    rng = random.Random(seed)
    return [
        (rng.randrange(1, MD5_P), rng.randrange(0, MD5_P)) for _ in range(k)
    ]


def md5_value(col) -> Column:
    """md5-prefix → 32-bit int: the first 8 md5 hex chars parsed in
    one base-16 conversion (identical across engines; collision odds
    negligible for shingle universes). The universal hashes reduce
    mod MD5_P themselves — (a·v) mod P ≡ (a·(v mod P)) mod P — so the
    raw value doubles as a compact VERIFICATION token (8-byte longs
    instead of shingle strings in the exact-Jaccard join)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def md5_value_sql(col: str) -> str:
    """DuckDB twin of :func:`md5_value` (identical arithmetic)."""
    return f"('0x' || substr(md5({col}), 1, 8))::BIGINT"


def md5_vals(
    shingles: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(id, v): each doc's shingles as portable 32-bit tokens — the
    shared input of signature building AND candidate verification."""
    return shingles.select(F.col(id_col), md5_value("shingle").alias("v"))


def md5_signatures_from_vals(
    vals: DataFrame,
    coeffs: list[tuple[int, int]],
    id_col: str = "doc_id",
) -> DataFrame:
    """(id, sig array) — ONE min-agg shuffle for all k signatures,
    packed into a single array column."""
    return vals.groupBy(id_col).agg(
        F.array(
            *[
                F.min((F.lit(a) * F.col("v") + F.lit(b)) % MD5_P)
                for a, b in coeffs
            ]
        ).alias("sig")
    )


def md5_signatures(
    shingles: DataFrame,
    coeffs: list[tuple[int, int]],
    id_col: str = "doc_id",
) -> DataFrame:
    return md5_signatures_from_vals(md5_vals(shingles, id_col), coeffs, id_col)


def md5_val_arrays(
    docs: DataFrame,
    n: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, vs): each doc's distinct shingle TOKEN SET as one
    array<long> row — shingling, hashing, and dedup all inside one
    narrow map (ngram.shingle_array → md5_value → array_distinct);
    zero shuffles. The shared input of array-native signature
    building and candidate verification."""
    from server_spark.dedup.ngram import shingle_array, split_words
    from server_spark.tables import fan_out

    # fan_out: per-shingle md5 + array_distinct is the heavy narrow
    # stage and usually sits directly on the scan (r14); inputs
    # already behind a shuffle/barrier pass through untouched
    return fan_out(docs).select(
        F.col(id_col), split_words(text_col).alias("_words")
    ).select(
        F.col(id_col),
        F.array_distinct(
            F.transform(shingle_array("_words", n), md5_value)
        ).alias("vs"),
    )


def md5_sig_array(
    arr_col: str | Column,
    coeffs: list[tuple[int, int]],
) -> Column:
    """array<long> minhash signature from a token-value array — k
    array_min(transform(...)) folds, all codegen, no aggregation.

    Assembled as ONE F.expr when the input is a plain column name
    (r15): the Column-operator form costs ~8 py4j round trips per
    coefficient of driver time; the parsed tree (SQL lambda ⇔ Python
    lambda) is identical."""
    if isinstance(arr_col, str) and arr_col.isidentifier():
        return F.expr(
            "array("
            + ", ".join(
                f"array_min(transform({arr_col},"
                f" v -> (({a} * v) + {b}) % {MD5_P}))"
                for a, b in coeffs
            )
            + ")"
        )
    col = F.col(arr_col) if isinstance(arr_col, str) else arr_col
    return F.array(
        *[
            F.array_min(
                F.transform(col, lambda v: (F.lit(a) * v + F.lit(b)) % MD5_P)
            )
            for a, b in coeffs
        ]
    )


def md5_sigs_sql(coeffs: list[tuple[int, int]]) -> str:
    """SQL select-list computing sig0..sig{k-1} from a CTE exposing
    (doc_id, v)."""
    return ", ".join(
        f"MIN(({a} * v + {b}) % {MD5_P}) AS sig{i}"
        for i, (a, b) in enumerate(coeffs)
    )


def banded_keys(
    sig: DataFrame,
    k: int,
    n_bands: int,
    id_col: str = "doc_id",
    extra: tuple[str, ...] = (),
) -> DataFrame:
    """(id, [extra...,] band_idx, band_key) rows from an (id, sig
    array) relation. r = k // n_bands; r = 1 keys are the raw longs
    (posexplode), r > 1 keys PACK adjacent component pairs into longs
    (r14, guide §2.3 "shuffle fewer bytes / narrower types"): every
    md5-family signature component lies in [0, MD5_P), so
    ``c_even * MD5_P + c_odd`` is injective and fits a long
    (MD5_P² ≈ 1.6e13 < 2^63) — the band key becomes one long (r = 2)
    or a struct of ⌈r/2⌉ longs (r = 4) instead of a pipe-joined
    string (~31 UTF-8 bytes at r = 4 vs 16 fixed-width bytes, and
    fixed-width hash/compare instead of byte-string work in every
    banding exchange). Candidate sets are bit-identical: packing is
    injective on the component tuples, so key equality ⇔
    component-tuple equality, exactly as with the string form.
    Callers must feed md5-family signatures (components < MD5_P);
    the xxhash64 production path has its own banding.
    ``extra`` names sig columns carried through unchanged (e.g. the
    doc's token-set size for downstream size-ratio pruning)."""
    rows = k // n_bands
    if rows == 1:
        # r=1 fast path: band key IS the signature component — long
        # join keys via posexplode, no struct/string assembly
        return sig.select(
            F.col(id_col),
            *extra,
            F.posexplode("sig").alias("band_idx", "band_key"),
        )

    def _packed(b: int) -> Column:
        comps = [F.col("sig")[b * rows + j] for j in range(rows)]
        packed = [
            comps[i] * MD5_P + comps[i + 1]
            if i + 1 < rows
            else comps[i]
            for i in range(0, rows, 2)
        ]
        if len(packed) == 1:
            return packed[0]
        return F.struct(
            *[p.alias(f"k{i}") for i, p in enumerate(packed)]
        )

    band_entries = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_idx"),
                _packed(b).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return sig.select(
        F.col(id_col), *extra, F.explode(band_entries).alias("be")
    ).select(id_col, *extra, "be.band_idx", "be.band_key")


def bucket_pairs(
    kv: DataFrame,
    keys: list[str],
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    payload: tuple[str, ...] = (),
    pair_filter=None,
    count_col: str | None = None,
) -> DataFrame:
    """Distinct ordered candidate pairs (doc_a < doc_b) from a
    (keys..., id) relation: group ids into buckets per key, drop
    buckets above ``max_bucket`` (the hot-bucket guard — a bucket of m
    ids yields m²/2 pairs, so one pathological boilerplate key
    otherwise dominates the whole job), then emit each bucket's
    ordered pairs as a narrow array expansion. ONE shuffle total — no
    kv self-join (which would shuffle the relation twice and re-key
    it). Shared by the banded-LSH, inverted-index (x75), and
    winnowing-print (x77) candidate generators.

    ``payload`` names extra per-id kv columns (functionally dependent
    on the id, e.g. the doc's distinct-shingle count) to carry through
    pair expansion as ``<col>_a`` / ``<col>_b`` — this is how verify
    stages get size-ratio prefilters WITHOUT re-joining a per-doc
    table onto the pair relation (two shuffles saved).

    ``pair_filter`` (a Column predicate over the emitted pair columns)
    is applied BEFORE the dedup ``distinct()`` so a selective
    prefilter also shrinks the distinct's shuffle, not just the
    downstream verify.

    ``count_col``: when set, return each pair ONCE with the NUMBER of
    buckets it co-occurred in under that column name (the inverted-
    index intersection count, x75's n_cold) instead of distinct pairs
    — same shuffle, a count agg instead of a dedup agg."""
    if payload:
        rec = F.struct(F.col(id_col).alias("_id"), *payload)
        buckets = kv.groupBy(*keys).agg(F.collect_list(rec).alias("_ids"))
    else:
        buckets = kv.groupBy(*keys).agg(F.collect_list(id_col).alias("_ids"))
    buckets = buckets.filter(F.size("_ids") >= 2)
    if max_bucket is not None:
        buckets = buckets.filter(F.size("_ids") <= max_bucket)
    # ordered (a < b) pairs per bucket, built narrowly from the sorted
    # member list: for each position i, pair ids[i] with every later
    # id. _ids is a projected column (lambda bodies block CSE on
    # expressions, but column references are free). With payload the
    # members are structs whose FIRST field is the id, so array_sort's
    # field-order comparison still sorts by id (ids are unique per
    # bucket — later fields never tie-break).
    buckets = buckets.select(F.array_sort("_ids").alias("_ids"))
    ids = F.col("_ids")
    n = F.size(ids)
    pair_arrays = F.flatten(
        F.transform(
            F.sequence(F.lit(0), n - 2),
            lambda i: F.transform(
                F.slice(ids, (i + 2).cast("int"), (n - i - 1).cast("int")),
                lambda x: F.struct(
                    F.element_at(ids, (i + 1).cast("int")).alias("_a"),
                    x.alias("_b"),
                ),
            ),
        )
    )
    pairs = buckets.select(F.explode(pair_arrays).alias("_p"))
    if payload:
        pairs = pairs.select(
            F.col("_p._a._id").alias("doc_a"),
            F.col("_p._b._id").alias("doc_b"),
            *[F.col(f"_p._a.{c}").alias(f"{c}_a") for c in payload],
            *[F.col(f"_p._b.{c}").alias(f"{c}_b") for c in payload],
        )
    else:
        pairs = pairs.select(
            F.col("_p._a").alias("doc_a"), F.col("_p._b").alias("doc_b")
        )
    if pair_filter is not None:
        pairs = pairs.filter(pair_filter)
    if count_col is not None:
        return pairs.groupBy(*pairs.columns).agg(
            F.count("*").alias(count_col)
        )
    return pairs.distinct()


def md5_banded_candidates(
    shingles: DataFrame | None,
    coeffs: list[tuple[int, int]],
    n_bands: int,
    id_col: str = "doc_id",
    max_bucket: int | None = None,
    vals: DataFrame | None = None,
    val_arrays: DataFrame | None = None,
    size_ratio_threshold: float | None = None,
) -> DataFrame:
    """LSH candidate pairs (doc_a < doc_b) from md5-minhash banding.

    rows_per_band = k // n_bands; choose the shape from the target
    Jaccard threshold via P(candidate) = 1 − (1 − s^r)^b — at the
    pipelines' t = 0.2 this needs r = 1 (b = k) for recall ≥ 99.9%;
    at production thresholds (t ≥ 0.7) r = 4 halves candidate volume.

    Pair generation is ONE shuffle: group band keys into buckets
    (collect the member-id list), then emit each bucket's ordered
    pairs as a narrow array expansion — no kv self-join (which would
    shuffle the banded relation twice and re-key it).

    ``max_bucket`` drops band buckets larger than the cap before pair
    expansion — the standard guard against hot buckets (a bucket of m
    docs yields m²/2 candidate rows; the cap bounds the worst bucket
    while losing only pairs that other, finer buckets still surface).
    With bucketing-by-groupBy the cap is a free size filter. Skew
    beyond the cap is AQE skew-join territory — see
    operators/joins.salted_join for the manual salting alternative.
    """
    k = len(coeffs)
    if val_arrays is not None and size_ratio_threshold is not None:
        # array-native path + size-ratio prune: the token-set SIZE
        # rides the banding and the pair expansion as payload, and
        # pairs whose sizes violate J <= min/max are dropped BEFORE
        # the distinct shuffle and the verify joins — exact bound,
        # zero recall cost at the declared threshold
        sig = val_arrays.select(
            F.col(id_col),
            F.size("vs").alias("_n"),
            md5_sig_array("vs", coeffs).alias("sig"),
        )
        kv = banded_keys(sig, k, n_bands, id_col, extra=("_n",))
        return bucket_pairs(
            kv,
            ["band_idx", "band_key"],
            id_col=id_col,
            max_bucket=max_bucket,
            payload=("_n",),
            pair_filter=(
                F.least("_n_a", "_n_b")
                >= size_ratio_threshold * F.greatest("_n_a", "_n_b")
            ),
        ).select("doc_a", "doc_b")
    if val_arrays is not None:
        # array-native path: signatures as narrow array folds — no
        # aggregation shuffle at all
        sig = val_arrays.select(
            F.col(id_col), md5_sig_array("vs", coeffs).alias("sig")
        )
    else:
        if vals is None:
            vals = md5_vals(shingles, id_col)
        sig = md5_signatures_from_vals(vals, coeffs, id_col)
    kv = banded_keys(sig, k, n_bands, id_col)
    return bucket_pairs(
        kv, ["band_idx", "band_key"], id_col=id_col, max_bucket=max_bucket
    )


def md5_banded_candidates_sql(
    coeffs: list[tuple[int, int]],
    n_bands: int,
    sh_cte: str = "sh",
    max_bucket: int | None = None,
) -> str:
    """CTE chain ``vals, sigs, bands, kv, cand`` mirroring
    :func:`md5_banded_candidates` over a shingle CTE named ``sh_cte``
    with columns (doc_id, shingle). Ends with ``cand(doc_a, doc_b)``."""
    bucket_gate = (
        f"""
    bsizes AS (
        SELECT band_idx, band_key FROM kv
        GROUP BY 1, 2 HAVING COUNT(*) <= {max_bucket}
    ),
    kvg AS (SELECT kv.* FROM kv JOIN bsizes USING (band_idx, band_key)),"""
        if max_bucket is not None
        else "\n    kvg AS (SELECT * FROM kv),"
    )
    return f"""{md5_kv_sql(coeffs, n_bands, sh_cte=sh_cte)}{bucket_gate}
    cand AS (
        SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        FROM kvg x JOIN kvg y
          ON x.band_idx = y.band_idx AND x.band_key = y.band_key
         AND x.doc_id < y.doc_id
    )"""


def md5_kv_sql(
    coeffs: list[tuple[int, int]],
    n_bands: int,
    sh_cte: str = "sh",
) -> str:
    """CTE chain ``vals, sigs, [bands,] kv`` over a shingle CTE —
    the banded-key half of the candidate builder, reusable for
    asymmetric (batch × base) candidate joins."""
    k = len(coeffs)
    rows = k // n_bands
    if rows == 1:
        # r=1 fast path: unpivot the signature columns directly —
        # band_idx labels differ from Spark's ints, but band ids only
        # ever compare WITHIN an engine, so candidates are identical
        kv_sql = f"""
    kv AS (
        SELECT doc_id, band_idx, band_key FROM sigs
        UNPIVOT (band_key FOR band_idx IN ({", ".join(f"sig{i}" for i in range(k))}))
    ),"""
    else:
        bands_sql = ", ".join(
            "concat_ws('|', "
            + ", ".join(f"sig{b * rows + r}" for r in range(rows))
            + f") AS band{b}"
            for b in range(n_bands)
        )
        band_cols = ", ".join(f"band{b}" for b in range(n_bands))
        kv_sql = f"""
    bands AS (SELECT doc_id, {bands_sql} FROM sigs),
    kv AS (
        SELECT doc_id, band_idx, band_key FROM bands
        UNPIVOT (band_key FOR band_idx IN ({band_cols}))
    ),"""
    return f"""
    vals AS (SELECT doc_id, {md5_value_sql('shingle')} AS v FROM {sh_cte}),
    sigs AS (SELECT doc_id, {md5_sigs_sql(coeffs)} FROM vals GROUP BY doc_id),{kv_sql}"""


def hash_value_neardup_pairs(
    hashes: DataFrame,
    hash_col: str,
    id_col: str = "media_id",
    n_bands: int = 4,
    band_bits: int = 16,
    max_hamming: int = 10,
) -> DataFrame:
    """Ordered id pairs (id_a < id_b, plus the Hamming distance of
    their 64-bit perceptual hashes) with distance <= ``max_hamming``,
    found via Hamming-band LSH — the shared kernel behind the x128
    image-dHash and x129 audio-fingerprint near-dup queries.

    RECALL CONTRACT (pigeonhole bound): a pair is GUARANTEED to be
    found only when its hashes differ in <= ``n_bands - 1`` bits —
    with fewer differing bits than bands, at least one band must
    match exactly. Pairs differing in ``n_bands`` .. ``max_hamming``
    bits are found only if their flips happen to cluster into few
    bands; flips spread across every band are missed. That is the
    standard banded-LSH trade: raising ``n_bands`` toward
    ``max_hamming + 1`` makes recall exhaustive but shrinks bands
    (``64 / n_bands`` bits → exponentially more bucket collisions
    and candidate pairs). The defaults (4x16-bit bands) guarantee
    Hamming <= 3 — the re-encode/resample variants perceptual hashing
    is used for — while ``max_hamming`` only bounds the exact verify.

    Scale design (r11 — the sf1.0 probe OOM'd the previous doc-level
    shape): perceptual hashes are MANY-TO-ONE — every re-encode /
    re-level / brightness variant of one asset lands on the same (or
    a near) hash value, so identical-hash clusters grow linearly with
    corpus size while the DISTINCT-value space grows only with
    content diversity. Banding at the doc level therefore built
    O(cluster²)-sized pair arrays inside single rows (a JVM-heap
    death at a few hundred docs per value). This kernel instead:

    1. collapses ids per distinct hash value (one linear groupBy);
    2. runs the Hamming-band LSH + exact bit_count verify over the
       DISTINCT VALUES ONLY (bucket_pairs input is diversity-sized,
       invariant to corpus growth);
    3. expands value pairs back to id pairs through two streaming
       explodes (per-row memory bounded by one cluster's member
       list), and emits same-value pairs (Hamming 0) directly.

    The output SET is identical to the doc-level formulation — same
    bands, same threshold — it is only built without quadratic
    single-row state. The exhaustive id-pair expansion remains the
    query's contract; a 100 TB deployment would usually stop at step
    2 + cluster membership (linear) rather than materialize every
    within-cluster pair."""
    # r15: `vals` is referenced FOUR times below (bands, both member
    # sides, the same-value expansion) and carries the caller's whole
    # upstream — for x128/x129 that upstream is the mapInPandas
    # mint+decode, which the un-cut plan duplicated per reference
    # (static plan showed the docs scan 8×). One lazy checkpoint runs
    # the Python decode once.
    vals = hashes.groupBy(hash_col).agg(
        F.collect_list(id_col).alias("_members")
    ).transform(lazy_barrier)
    mask = (1 << band_bits) - 1
    bands = vals.select(hash_col).select(
        hash_col,
        F.explode(
            F.array(*[F.lit(i) for i in range(n_bands)])
        ).alias("band_idx"),
    ).select(
        hash_col,
        "band_idx",
        F.expr(
            f"shiftrightunsigned({hash_col}, band_idx * {band_bits}) "
            f"& {mask}"
        ).alias("band_key"),
    )
    vpairs = (
        bucket_pairs(bands, ["band_idx", "band_key"], id_col=hash_col)
        .select(
            F.col("doc_a").alias("_va"),
            F.col("doc_b").alias("_vb"),
            F.bit_count(
                F.col("doc_a").bitwiseXOR(F.col("doc_b"))
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
    )
    ma = vals.select(
        F.col(hash_col).alias("_va"), F.col("_members").alias("_ma")
    )
    mb = vals.select(
        F.col(hash_col).alias("_vb"), F.col("_members").alias("_mb")
    )
    cross = (
        vpairs.join(ma, "_va")
        .join(mb, "_vb")
        .select("hamming", F.explode("_ma").alias("_ia"), "_mb")
        .select("hamming", "_ia", F.explode("_mb").alias("_ib"))
        .select(
            F.least("_ia", "_ib").alias("id_a"),
            F.greatest("_ia", "_ib").alias("id_b"),
            "hamming",
        )
    )
    same = (
        vals.select(F.explode("_members").alias("_ia"), "_members")
        .select("_ia", F.explode("_members").alias("_ib"))
        .filter(F.col("_ia") < F.col("_ib"))
        .select(
            F.col("_ia").alias("id_a"),
            F.col("_ib").alias("id_b"),
            F.lit(0).cast("int").alias("hamming"),
        )
    )
    return same.unionByName(cross)
