"""IVF (inverted-file) approximate nearest-neighbor search (EXT).

The classic two-level ANN index (FAISS nlist/nprobe) re-expressed in
Spark, split the way a production index is operated:

1. **build_index (offline, once)** — train the coarse quantizer on a
   BOUNDED SAMPLE of the corpus (Lloyd iterations over an in-memory
   numpy matrix — exactly how FAISS trains: the quantizer is model
   state of n_clusters × dim floats, never corpus-sized), then assign
   every corpus vector to its nearest centroid with ONE Arrow-batched
   numpy pass (narrow map: cluster id + norm computed together). The
   assignment is cached/persistable — at 100 TB it is a parquet table
   partitioned by cluster, rebuilt only when the corpus drifts.
2. **search (per query batch)** — each query probes its ``n_probe``
   nearest centroids (numpy over the broadcast centroid matrix — no
   n_clusters×dim literal blow-up in the Catalyst plan), candidates
   come from an equi-join on cluster id, and only those are reranked
   with the codegen-unrolled exact cosine (``dot_fixed``) against
   norms computed once at build time.

Recall/cost dial: n_probe/n_clusters. At 1B vectors each query touches
~corpus × n_probe / n_clusters vectors; everything else is broadcast.
"""

from __future__ import annotations

import os
import shutil
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from server_spark.similarity.cosine import _exact_topk

# Quantizer training never needs more than this many sample vectors
# (FAISS guidance: ~39×nlist points suffice; 64k is generous for any
# nlist we'd run). Keeps the driver-side training matrix bounded no
# matter the corpus size.
MAX_TRAIN_SAMPLE = 65536


def bounded_training_sample(
    df: DataFrame, cols: list[str], n: int, key_cols: list[str] | None = None
):
    """Deterministic, ingestion-order-independent bounded sample.

    ``limit(n)`` reads partitions in order, so a corpus whose layout is
    correlated with content (time-partitioned ingest, sorted exports)
    hands the quantizer a biased training matrix. Ordering by
    ``xxhash64`` of a key first gives a uniform pseudo-random draw that
    is still deterministic, and ``orderBy().limit(n)`` compiles to
    TakeOrderedAndProject — per-partition top-n + one driver merge, NO
    full sort shuffle — so the cost stays one scan regardless of corpus
    size. Returns a DataFrame of ``cols`` to ``.collect()``."""
    key = [F.col(c) for c in (key_cols or cols)]
    return (
        df.select(*{*cols, *(key_cols or cols)})
        .orderBy(F.xxhash64(*key).asc())
        .limit(n)
        .select(*cols)
    )


@dataclass
class IvfIndex:
    """Model state (centroids) + the cluster-assigned corpus."""

    centroids: np.ndarray  # (n_clusters, dim) float64
    assigned: DataFrame    # id, vec, _nrm, cluster
    dim: int
    id_col: str
    vec_col: str
    n_assign: int = 2      # boundary-replication factor of `assigned`


def _kmeans_fit(
    mat: np.ndarray, n_clusters: int, seed: int, n_iter: int = 15
) -> np.ndarray:
    """Seeded Lloyd iterations with k-means++ init on the in-memory
    training sample. Coarse-quantizer quality only moves the
    recall/cost dial; ++ init + a dozen iterations matches what a
    distributed fit buys at a fraction of the cost (and is
    deterministic for a fixed seed)."""
    rng = np.random.default_rng(seed)
    n = mat.shape[0]
    k = min(n_clusters, n)
    sq = (mat * mat).sum(axis=1)

    # k-means++ seeding: next center drawn ∝ distance² to nearest chosen
    centers = [mat[rng.integers(0, n)]]
    d2min = np.full(n, np.inf)
    for _ in range(1, k):
        c = centers[-1]
        d2min = np.minimum(d2min, sq - 2.0 * (mat @ c) + (c * c).sum())
        probs = np.maximum(d2min, 0)
        total = probs.sum()
        if total <= 0:
            centers.append(mat[rng.integers(0, n)])
            continue
        centers.append(mat[rng.choice(n, p=probs / total)])
    centroids = np.array(centers)

    for _ in range(n_iter):
        d2 = sq[:, None] - 2.0 * (mat @ centroids.T) + (centroids * centroids).sum(axis=1)[None, :]
        assign = d2.argmin(axis=1)
        for c in range(k):
            members = mat[assign == c]
            if len(members):
                centroids[c] = members.mean(axis=0)
            else:  # empty cluster → reseed on a random point
                centroids[c] = mat[rng.integers(0, n)]
    return centroids


def build_index(
    embeddings: DataFrame,
    n_clusters: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cache: bool = True,
    n_assign: int = 2,
) -> IvfIndex:
    """Train the quantizer on a sample and assign the full corpus.

    Training collects at most ``MAX_TRAIN_SAMPLE`` vectors (a bounded
    model-fitting sample — NOT a corpus collect); assignment + norm is
    one numpy mapInPandas over the corpus, cached for reuse across
    searches.

    ``n_assign`` replicates each vector into its n nearest inverted
    lists (boundary replication): vectors near a Voronoi edge are the
    classic IVF recall leak, and listing them on both sides buys back
    most of it for n× storage — the standard remedy when the corpus
    has weak cluster structure. Storage/recall dial alongside
    n_probe."""
    # Bounded training collect in ONE job (no count() pre-pass),
    # hash-ordered so ingestion-order-correlated layouts don't bias
    # the quantizer (see bounded_training_sample).
    train = np.array(
        [
            row[0]
            for row in bounded_training_sample(
                embeddings, [vec_col], MAX_TRAIN_SAMPLE, key_cols=[id_col]
            ).collect()
        ],
        dtype=np.float64,
    )
    # Empty corpus → empty index (0 centroids, empty assignment with
    # the right schema): every downstream search composes to an empty
    # result through the normal lazy plan instead of a numpy axis
    # error at build time.
    if train.size == 0:
        centroids = np.zeros((0, 0))
    else:
        centroids = _kmeans_fit(train, n_clusters, seed)

    csq = (centroids * centroids).sum(axis=1)
    cT = centroids.T
    n_assign = min(n_assign, len(centroids))
    schema = T.StructType(
        [
            embeddings.schema[id_col],
            embeddings.schema[vec_col],
            T.StructField("_nrm", T.DoubleType()),
            T.StructField("cluster", T.IntegerType()),
        ]
    )

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(mat) == 0:
                continue
            d2 = (mat * mat).sum(axis=1)[:, None] - 2.0 * (mat @ cT) + csq[None, :]
            near = np.argsort(d2, axis=1)[:, :n_assign].astype(np.int32)
            nrms = np.linalg.norm(mat, axis=1)
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].values, n_assign),
                    vec_col: np.repeat(pdf[vec_col].values, n_assign),
                    "_nrm": np.repeat(nrms, n_assign),
                    "cluster": near.reshape(-1),
                }
            )

    assigned = embeddings.select(id_col, vec_col).mapInPandas(assign, schema)
    if cache:
        assigned = assigned.cache()
    dim = centroids.shape[1] if len(centroids) else 0
    return IvfIndex(centroids, assigned, dim, id_col, vec_col, n_assign)


def _query_probes(
    index: IvfIndex, queries: DataFrame, n_probe: int, qvec_col: str
) -> DataFrame:
    """Append + explode the n_probe nearest centroid ids per query —
    numpy over the broadcast centroid matrix (no per-centroid
    expression literals: plan size is independent of n_clusters)."""
    centroids, cT = index.centroids, index.centroids.T
    csq = (centroids * centroids).sum(axis=1)
    n_probe = min(n_probe, len(centroids))
    schema = T.StructType(
        list(queries.schema)
        + [
            T.StructField("_qn", T.DoubleType()),
            T.StructField("_probes", T.ArrayType(T.IntegerType())),
        ]
    )

    if len(centroids) == 0:  # empty index → no probes, empty search
        empty = queries.sparkSession.createDataFrame([], schema)
        return empty.select(
            *queries.columns, "_qn", F.explode("_probes").alias("cluster")
        )

    def probes(batches):
        for pdf in batches:
            mat = np.array(list(pdf[qvec_col]), dtype=np.float64)
            if len(mat) == 0:
                continue
            d2 = (mat * mat).sum(axis=1)[:, None] - 2.0 * (mat @ cT) + csq[None, :]
            near = np.argsort(d2, axis=1)[:, :n_probe].astype(np.int32)
            pdf = pdf.copy()
            pdf["_qn"] = np.linalg.norm(mat, axis=1)
            pdf["_probes"] = list(near)
            yield pdf

    return (
        queries.mapInPandas(probes, schema)
        .select(*queries.columns, "_qn", F.explode("_probes").alias("cluster"))
    )


def search(
    index: IvfIndex,
    queries: DataFrame,
    k: int = 10,
    n_probe: int = 4,
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
) -> DataFrame:
    """Approximate top-k: equi-join the probed clusters, exact-cosine
    rerank ONLY the candidates (codegen-unrolled dot, build-time corpus
    norms — no interpreted fold, no norm recomputation)."""
    if index.dim == 0:  # empty index → empty result, schema stable
        return queries.sparkSession.createDataFrame(
            [], f"{qid_col} long, {index.id_col} long, score double, rnk int"
        )
    probes = _query_probes(index, queries, n_probe, qvec_col)
    # boundary-replicated vectors can match a query in several probed
    # lists — score each candidate once
    cand = index.assigned.join(F.broadcast(probes), "cluster").dropDuplicates(
        [qid_col, index.id_col]
    )
    return _exact_topk(
        cand, k, index.id_col, index.vec_col, qid_col, qvec_col, index.dim
    )


# Registry/bench entry point: the index is built once per (corpus,
# params) and PERSISTED — an ANN index is offline-built state (FAISS
# writes an index file; at 100 TB the assignment is a parquet table
# partitioned by cluster and the centroids a tiny sidecar), so steady-
# state searches never pay the build. Two layers: an in-process dict,
# and an on-disk copy (centroids .npy + assignment parquet) so fresh
# processes reload instead of retraining. Deterministic key → safe to
# rebuild from scratch any time the files are gone.
_INDEX_CACHE: dict[tuple, IvfIndex] = {}


def _index_path(key: tuple) -> str:
    import hashlib
    import tempfile

    digest = hashlib.md5(repr(key).encode()).hexdigest()[:16]
    return os.path.join(tempfile.gettempdir(), "server_spark_ivf", digest)


def _load_or_build(spark, key: tuple, sidecar: str, table: str, build):
    """(array, DataFrame) of offline-built index state, persisted under
    ``_index_path(key)`` as a ``.npy`` sidecar plus a parquet table.
    Reloads (cached) when the sidecar is there; otherwise ``build()``s
    and writes a ``tmp.<pid>`` copy that is renamed into place, so a
    concurrent builder that lost the race just drops its copy.
    Persistence is an optimization: any load or write failure falls
    back to the in-memory result."""
    path = _index_path(key)
    sidecar_file = os.path.join(path, sidecar)
    try:
        if os.path.exists(sidecar_file):
            arr = np.load(sidecar_file)
            return arr, spark.read.parquet(os.path.join(path, table)).cache()
    except Exception:
        pass  # unreadable/partial state → rebuild below
    arr, df = build()
    try:
        tmp = f"{path}.tmp.{os.getpid()}"
        df.write.mode("overwrite").parquet(os.path.join(tmp, table))
        np.save(os.path.join(tmp, sidecar), arr)
        if not os.path.exists(sidecar_file):
            os.replace(tmp, path)
        else:  # another process won the race
            shutil.rmtree(tmp, ignore_errors=True)
    except Exception:
        pass
    return arr, df


def cached_index(
    embeddings: DataFrame,
    cache_key: str,
    n_clusters: int = 16,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_assign: int = 2,
) -> IvfIndex:
    # "hsamp2": sampler-version tag — the hash-ordered training sample
    # changed the centroids for a given corpus, so older persisted
    # indexes (keyed without the tag) must not be reloaded.
    key = (cache_key, n_clusters, seed, id_col, vec_col, n_assign, "hsamp2")
    if key not in _INDEX_CACHE:

        def build():
            index = build_index(
                embeddings, n_clusters, seed, id_col, vec_col, n_assign=n_assign
            )
            return index.centroids, index.assigned

        centroids, assigned = _load_or_build(
            embeddings.sparkSession, key, "centroids.npy", "assigned", build
        )
        dim = centroids.shape[1] if len(centroids) else 0
        _INDEX_CACHE[key] = IvfIndex(
            centroids, assigned, dim, id_col, vec_col, n_assign
        )
    return _INDEX_CACHE[key]


def ivf_topk(
    embeddings: DataFrame,
    queries: DataFrame,
    k: int = 10,
    n_clusters: int = 16,
    n_probe: int = 4,
    seed: int = 7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qid_col: str = "query_id",
    qvec_col: str = "query_vec",
    cache_key: str | None = None,
) -> DataFrame:
    """Build (or fetch) the index and search it — the one-call form
    used by tests and the registry."""
    if cache_key is not None:
        index = cached_index(
            embeddings, cache_key, n_clusters, seed, id_col, vec_col
        )
    else:
        index = build_index(
            embeddings, n_clusters, seed, id_col, vec_col, cache=False
        )
    return search(index, queries, k=k, n_probe=n_probe, qid_col=qid_col, qvec_col=qvec_col)


def assign_batch(
    index: IvfIndex,
    batch: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign an ARRIVING batch to the STANDING index — the
    maintenance half of a served ANN index (FAISS `add` after
    `train`): centroids stay FIXED, each new vector gets its inverted
    list + norm in one Arrow-batched narrow pass, and the output
    unions straight into ``index.assigned`` (same schema). Alongside
    the assignment, ``d2_ratio`` = (distance² to the assigned
    centroid) / (mean distance² of the BUILD corpus) is the drift
    signal: a batch whose median ratio drifts ≫1 no longer matches
    the trained quantizer and should trigger a rebuild — the
    incremental posture of x38/x45 applied to index maintenance.
    Per-increment cost scales with the batch; the corpus is never
    rescanned."""
    cents = index.centroids
    cT, csq = cents.T, (cents * cents).sum(axis=1)
    schema = T.StructType(
        [
            batch.schema[id_col],
            batch.schema[vec_col],
            T.StructField("_nrm", T.DoubleType()),
            T.StructField("cluster", T.IntegerType()),
            T.StructField("_d2", T.DoubleType()),
        ]
    )
    if len(cents) == 0:  # empty index → nothing to assign to
        return batch.sparkSession.createDataFrame([], schema)

    def assign(batches):
        import pandas as pd

        for pdf in batches:
            mat = np.array(list(pdf[vec_col]), dtype=np.float64)
            if len(mat) == 0:
                continue
            d2 = (
                (mat * mat).sum(axis=1)[:, None] - 2.0 * (mat @ cT) + csq[None, :]
            )
            best = d2.argmin(axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].values,
                    vec_col: pdf[vec_col].values,
                    "_nrm": np.linalg.norm(mat, axis=1),
                    "cluster": best.astype(np.int32),
                    "_d2": np.maximum(
                        d2[np.arange(len(best)), best], 0.0
                    ),
                }
            )

    return batch.select(id_col, vec_col).mapInPandas(assign, schema)
