"""Approximate nearest-neighbor search — the 100 TB scale path for the
reference's top-k vector query (``QA_using_pinecone.py:31-48``).

Exact brute-force cosine (``operators.topk.topk_cosine``) is the
baseline and stays the correctness oracle. At corpus scale the scan
must touch a small fraction of vectors; two standard index layouts:

- **LSH (random hyperplane)**: per table t, signature = sign bits of
  ``planes_t @ vec`` packed into an int. Vectors colliding with the
  query signature in ≥1 table are candidates; candidates are rescored
  with exact cosine. Multiprobe widens each table's probe set to all
  signatures within hamming distance 1 — recall climbs without more
  tables. On disk the index is parquet partitioned by (table, sig):
  a query prunes to L × (1 + bits) partitions regardless of corpus
  size.
- **IVF (inverted file)**: k-means coarse quantizer (pyspark.ml,
  seeded); every vector is assigned to its nearest centroid; a query
  probes the ``nprobe`` nearest centroid cells and rescans only those.
  Partitioned-by-cluster parquet gives the same pruning property.

Signatures and assignments are computed with Arrow-batched pandas
UDFs (one numpy matmul per batch — the measured fast path for wide
vectors, see SURVEY §4.2); candidate pruning and rescoring stay in
native Spark expressions.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator, Sequence

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from .topk import topk_cosine

__all__ = [
    "make_planes",
    "lsh_signatures",
    "query_signatures",
    "lsh_topk",
    "ivf_fit_centroids",
    "ivf_assign",
    "ivf_assign_multi",
    "ivf_topk",
    "pq_train",
    "pq_encode",
    "pq_topk",
    "ivfpq_build",
    "ivfpq_encode",
    "sq8_train",
    "sq8_encode",
    "sq8_scores",
    "sq8_topk",
    "ivfpq_topk",
    "ivfpq_topk_batch",
]


def make_planes(dim: int, *, num_tables: int = 8, bits: int = 10, seed: int = 42) -> np.ndarray:
    """Deterministic gaussian hyperplanes, shape (num_tables, bits, dim)."""
    rng = np.random.RandomState(seed)
    return rng.standard_normal((num_tables, bits, dim))


def _pack_signatures(mat: np.ndarray, planes: np.ndarray) -> np.ndarray:
    """(n, dim) vectors → (n, num_tables) packed sign-bit signatures."""
    weights = (1 << np.arange(planes.shape[1], dtype=np.int64))  # (bits,)
    out = np.empty((mat.shape[0], planes.shape[0]), dtype=np.int64)
    for t in range(planes.shape[0]):
        bits = (mat @ planes[t].T) > 0  # (n, bits)
        out[:, t] = bits @ weights
    return out


def lsh_signatures(
    df: DataFrame,
    planes: np.ndarray,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds (table, sig) — one output row per input row per table."""
    num_tables = planes.shape[0]

    @F.pandas_udf(ArrayType(LongType()))
    def _sigs(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batches:
            mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            if mat.size == 0:
                yield pd.Series([], dtype=object)
                continue
            packed = _pack_signatures(mat, planes)
            yield pd.Series(list(packed))

    sigs = df.withColumn("_sigs", _sigs(F.col(vec_col)))
    return (
        sigs.select(
            "*",
            F.posexplode("_sigs").alias("table", "sig"),
        )
        .drop("_sigs")
        .withColumn("table", F.col("table").cast("int"))
    )


def query_signatures(
    qvec: Sequence[float], planes: np.ndarray, *, multiprobe: int = 1
) -> list[tuple[int, int]]:
    """(table, sig) probe set for a query vector; multiprobe=1 adds all
    hamming-1 neighbors of each table's signature (bits × tables extra
    buckets — constant, independent of corpus size)."""
    packed = _pack_signatures(
        np.asarray(qvec, dtype=np.float64)[None, :], planes
    )[0]
    bits = planes.shape[1]
    probes = []
    for t, s in enumerate(packed):
        probes.append((t, int(s)))
        if multiprobe >= 1:
            probes.extend((t, int(s) ^ (1 << b)) for b in range(bits))
    return probes


def lsh_topk(
    emb: DataFrame,
    qvec: Sequence[float],
    k: int,
    planes: np.ndarray,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    multiprobe: int = 1,
    filter_expr=None,
) -> DataFrame:
    """Approximate top-k: probe LSH buckets, rescore exactly.

    ``emb`` may be the raw vector table (signatures computed on the
    fly) or a pre-signed table already carrying (table, sig) — the
    persisted layout. The probe filter is a literal IN list over
    (table, sig), so a partitioned index prunes at planning time.
    """
    signed = (
        emb
        if {"table", "sig"} <= set(emb.columns)
        else lsh_signatures(emb, planes, vec_col=vec_col)
    )
    probes = query_signatures(qvec, planes, multiprobe=multiprobe)
    probe_key = F.concat_ws(":", F.col("table"), F.col("sig"))
    probe_lits = [f"{t}:{s}" for t, s in probes]
    cands = (
        signed.filter(probe_key.isin(probe_lits))
        .drop("table", "sig")
        .dropDuplicates([id_col])
    )
    if filter_expr is not None:
        cands = cands.filter(filter_expr)
    return topk_cosine(cands, qvec, k, vec_col=vec_col)


# ----------------------------------------------------------------------
# IVF
# ----------------------------------------------------------------------


def ivf_fit_centroids(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
    nlist: int = 16,
    seed: int = 42,
    max_iter: int = 20,
    sample_cap: int = 100_000,
) -> np.ndarray:
    """Coarse quantizer: seeded k-means over a bounded vector sample.

    The quantizer is fit on ≤ ``sample_cap`` vectors pulled to the
    driver (seeded, deterministic) and iterated with vectorized
    Lloyd's + k-means++ init in numpy — the standard IVF recipe (a
    coarse quantizer needs a representative sample, not the corpus;
    FAISS trains on ~256 vectors/centroid). At 100 TB the sample is
    the only driver-sized piece; assignment (``ivf_assign``) stays
    fully distributed. One Arrow transfer + a few ms of numpy replaces
    a 20-iteration distributed k-means job per build.
    """
    mat = _sample_matrix(emb, vec_col, sample_cap, seed)
    return _kmeans(mat, nlist, np.random.RandomState(seed), max_iter)


def _sample_matrix(
    emb: DataFrame, vec_col: str, sample_cap: int, seed: int
) -> np.ndarray:
    """Bounded, seeded driver-side sample of the vector column (the one
    driver-sized piece of every index build here)."""
    total = emb.count()
    sampled = emb.select(vec_col)
    if total > sample_cap:
        sampled = sampled.sample(fraction=min(1.0, 1.2 * sample_cap / total), seed=seed)
        sampled = sampled.limit(sample_cap)
    pdf = sampled.toPandas()
    return np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])


def _kmeans(
    mat: np.ndarray, k: int, rng, max_iter: int, *, init="kmeans++"
) -> np.ndarray:
    """Vectorized Lloyd's (shared by the IVF coarse quantizer and the
    per-subspace PQ codebooks). ``init='kmeans++'`` is the quality
    default for a coarse quantizer (few, load-bearing centroids);
    ``'sample'`` (Forgy) skips the k sequential seeding steps — at PQ
    codebook size (k=256 × m subspaces) the seeding loop costs more
    than all Lloyd iterations and the iterations converge fine from a
    random distinct sample. An ndarray ``init`` WARM-STARTS Lloyd from
    existing centroids (the partial-retrain path: the previous
    quantizer anchors regions the new fit sample doesn't cover)."""
    if isinstance(init, np.ndarray):
        if init.shape != (k, mat.shape[1]):
            raise ValueError(
                f"warm-start centroids shape {init.shape} != "
                f"({k}, {mat.shape[1]})"
            )
        cents = init.astype(np.float64, copy=True)
    elif init == "sample":
        cents = mat[rng.choice(len(mat), size=min(k, len(mat)), replace=False)]
        if len(cents) < k:  # ksub capped by sample size upstream
            cents = np.vstack([cents, cents[: k - len(cents)]])
        cents = cents.astype(np.float64, copy=True)
    else:
        # k-means++ init
        cents = np.empty((k, mat.shape[1]))
        cents[0] = mat[rng.randint(len(mat))]
        d2 = ((mat - cents[0]) ** 2).sum(axis=1)
        for i in range(1, k):
            probs = (
                d2 / d2.sum() if d2.sum() > 0 else np.full(len(mat), 1.0 / len(mat))
            )
            cents[i] = mat[rng.choice(len(mat), p=probs)]
            d2 = np.minimum(d2, ((mat - cents[i]) ** 2).sum(axis=1))
    # Lloyd's iterations (argmin via the ||c||² - 2x·c expansion). The
    # per-cluster means are scatter-add + bincount — a k-length python
    # loop of boolean masks costs more than the distance matmul once k
    # reaches PQ codebook size (256).
    for _ in range(max_iter):
        d = (cents * cents).sum(axis=1)[None, :] - 2.0 * (mat @ cents.T)
        assign = np.argmin(d, axis=1)
        sums = np.zeros((k, mat.shape[1]))
        np.add.at(sums, assign, mat)
        counts = np.bincount(assign, minlength=k)
        new = np.where(
            counts[:, None] > 0,
            sums / np.maximum(counts, 1)[:, None],
            cents,
        )
        if np.allclose(new, cents):
            break
        cents = new
    return cents


def ivf_assign(
    emb: DataFrame,
    centroids: np.ndarray,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds ``cluster`` = argmin L2 distance to centroids (pandas UDF,
    one matmul per Arrow batch). Persist partitioned by cluster for
    planning-time pruning."""

    @F.pandas_udf(IntegerType())
    def _assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        c = centroids
        c_norm2 = (c * c).sum(axis=1)  # (nlist,)
        for vecs in batches:
            mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            if mat.size == 0:
                yield pd.Series([], dtype="int32")
                continue
            # argmin ||x-c||² = argmin (||c||² - 2 x·c)
            d = c_norm2[None, :] - 2.0 * (mat @ c.T)
            yield pd.Series(np.argmin(d, axis=1).astype("int32"))

    return emb.withColumn("cluster", _assign(F.col(vec_col)))


def ivf_assign_multi(
    emb: DataFrame,
    centroids: np.ndarray,
    *,
    vec_col: str = "embedding",
    probes: int = 2,
) -> DataFrame:
    """Adds ``clusters`` = the ``probes`` nearest centroid ids (array).

    Multi-assignment is the standard recall fix for *pairwise* IVF use:
    two vectors straddling a Voronoi boundary still share ≥1 cell when
    each is posted to its top-2 cells. One matmul per Arrow batch; the
    caller explodes the array (probes× row growth, not n×)."""
    p = min(probes, len(centroids))

    @F.pandas_udf(ArrayType(IntegerType()))
    def _assign(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        c = centroids
        c_norm2 = (c * c).sum(axis=1)
        for vecs in batches:
            mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            if mat.size == 0:
                yield pd.Series([], dtype=object)
                continue
            d = c_norm2[None, :] - 2.0 * (mat @ c.T)
            near = np.argpartition(d, p - 1, axis=1)[:, :p].astype("int32")
            yield pd.Series(list(near))

    return emb.withColumn("clusters", _assign(F.col(vec_col)))


def ivf_topk(
    assigned: DataFrame,
    centroids: np.ndarray,
    qvec: Sequence[float],
    k: int,
    *,
    vec_col: str = "embedding",
    nprobe: int = 4,
    filter_expr=None,
) -> DataFrame:
    """Approximate top-k: scan only the nprobe nearest centroid cells."""
    q = np.asarray(qvec, dtype=np.float64)
    d = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probe = [int(c) for c in np.argsort(d)[:nprobe]]
    cands = assigned.filter(F.col("cluster").isin(probe)).drop("cluster")
    if filter_expr is not None:
        cands = cands.filter(filter_expr)
    return topk_cosine(cands, qvec, k, vec_col=vec_col)


# ----------------------------------------------------------------------
# Rank step shared by the code-scored top-ks (PQ, IVFPQ, SQ8): each
# scores its codes its own way, then ranks the scored rows here.
# ----------------------------------------------------------------------


def _shortlist_size(k: int, shortlist: int | None) -> int:
    """Rows the approximate pass hands the exact re-rank: generous by
    default, since a true neighbor outside the shortlist is lost."""
    return shortlist or max(10 * k, 100)


def _rank(
    scored: DataFrame,
    qvec: Sequence[float],
    k: int,
    *,
    emb: DataFrame | None,
    id_col: str,
    vec_col: str,
    shortlist: int | None,
) -> DataFrame:
    """Top ``k`` of ``scored`` by (score desc, id asc). With ``emb``,
    the approximate order only picks a shortlist of ids, and an exact
    cosine re-rank of their originals in ``emb`` picks the final ``k``
    (FAISS ``refine``)."""
    order = (F.desc("score"), F.asc(id_col))
    if emb is None:
        return scored.orderBy(*order).limit(k)
    short = (
        scored.orderBy(*order).limit(_shortlist_size(k, shortlist)).select(id_col)
    )
    return topk_cosine(
        emb.join(short, id_col, "left_semi"), qvec, k, vec_col=vec_col
    )


# ----------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011) — the MEMORY-bound ANN layout. LSH and
# IVF prune which vectors a query touches; PQ shrinks what each touched
# vector costs: the vector is split into m subvectors, each quantized
# to one of ksub per-subspace centroids, so a 1536-d float vector
# (6 KB) becomes m one-byte codes (m=96 → 64× compression). Scoring is
# asymmetric distance computation (ADC): the query precomputes one
# (m × ksub) lookup table of partial dot products, and each stored
# vector's approximate score is m table lookups — no float vector is
# ever read at scan time. At 100 TB that is the difference between an
# index that fits in cluster memory and one that lives on disk.
# ----------------------------------------------------------------------


def pq_train(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    max_iter: int = 15,
    sample_cap: int = 100_000,
) -> np.ndarray:
    """Per-subspace codebooks, shape ``(m, ksub, dim // m)`` with
    ``ksub = min(2**nbits, sample size)``. Same bounded-driver-sample
    recipe as ``ivf_fit_centroids``: codebooks need a representative
    sample, not the corpus; encoding stays fully distributed. ``dim``
    must divide evenly by ``m``."""
    mat = _sample_matrix(emb, vec_col, sample_cap, seed)
    return _pq_codebooks(mat, m, nbits, np.random.RandomState(seed), max_iter)


def _pq_codebooks(
    mat: np.ndarray,
    m: int,
    nbits: int,
    rng,
    max_iter: int,
    init_codebooks: np.ndarray | None = None,
) -> np.ndarray:
    dim = mat.shape[1]
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    dsub = dim // m
    ksub = min(1 << nbits, len(mat))
    return np.stack(
        [
            _kmeans(
                mat[:, i * dsub : (i + 1) * dsub],
                ksub,
                rng,
                max_iter,
                init=(
                    init_codebooks[i][:ksub]
                    if init_codebooks is not None
                    else "sample"
                ),
            )
            for i in range(m)
        ]
    )


def pq_encode(
    emb: DataFrame,
    codebooks: np.ndarray,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds ``codes`` = the m per-subspace nearest-centroid indices
    (``array<int>``; values < ksub ≤ 256). One matmul per subspace per
    Arrow batch — encoding is embarrassingly parallel and never
    shuffles; persist ``(id, codes)`` and drop the float vectors."""
    cb = codebooks
    m, _, dsub = cb.shape
    cb_n2 = (cb * cb).sum(axis=2)  # (m, ksub)

    @F.pandas_udf(ArrayType(IntegerType()))
    def _encode(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
        for vecs in batches:
            if not len(vecs):
                yield pd.Series([], dtype=object)
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            codes = np.empty((len(mat), m), dtype=np.int32)
            for i in range(m):
                sub = mat[:, i * dsub : (i + 1) * dsub]
                d = cb_n2[i][None, :] - 2.0 * (sub @ cb[i].T)
                codes[:, i] = np.argmin(d, axis=1)
            yield pd.Series(list(codes))

    return emb.withColumn("codes", _encode(F.col(vec_col)))


def pq_topk(
    codes: DataFrame,
    codebooks: np.ndarray,
    qvec: Sequence[float],
    k: int,
    *,
    emb: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k over PQ codes via ADC.

    The query builds two (m × ksub) tables driver-side — partial dot
    products against each centroid and centroid squared norms — and a
    pandas UDF scores each stored vector as m lookups:
    ``cos ≈ Σᵢ dot[i,cᵢ] / (|q| · sqrt(Σᵢ n2[i,cᵢ]))`` (the norm is
    quantized with the same codebooks, so no float vector is read).

    With ``emb`` given, the ADC pass only SHORTLISTS (default
    ``max(10k, 100)`` rows via TakeOrdered) and the final ``k`` come
    from an exact cosine re-rank of the shortlisted originals — the
    FAISS ``IVFPQ + refine`` shape: ADC errors only cost recall if a
    true neighbor falls outside the (cheap, generous) shortlist."""
    cb = codebooks
    m, _, dsub = cb.shape
    q = np.asarray(qvec, dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError(f"query dim {q.shape[0]} != codebook dim {m * dsub}")
    qn = float(np.sqrt((q * q).sum()))
    lut_dot = np.stack(
        [cb[i] @ q[i * dsub : (i + 1) * dsub] for i in range(m)]
    )  # (m, ksub)
    lut_n2 = (cb * cb).sum(axis=2)  # (m, ksub)
    midx = np.arange(m)

    @F.pandas_udf("double")
    def _adc(code_col: pd.Series) -> pd.Series:
        if not len(code_col):
            return pd.Series([], dtype=float)
        mat = np.array([np.asarray(c, dtype=np.int64) for c in code_col])
        dots = lut_dot[midx[None, :], mat].sum(axis=1)
        n2 = lut_n2[midx[None, :], mat].sum(axis=1)
        denom = qn * np.sqrt(np.maximum(n2, 1e-300))
        return pd.Series(np.where(denom > 0, dots / denom, 0.0))

    scored = codes.withColumn("score", _adc(F.col("codes")))
    ranked = _rank(
        scored, qvec, k, emb=emb, id_col=id_col, vec_col=vec_col, shortlist=shortlist
    )
    return ranked if emb is not None else ranked.drop("codes")


# ----------------------------------------------------------------------
# IVF+PQ (FAISS ``IVFPQ``): the two layouts composed — IVF cells prune
# WHICH vectors a query touches (planning-time partition pruning when
# the encoded table is persisted partitionBy cluster), PQ codes shrink
# what each touched vector COSTS (m bytes + 1 norm float, never the
# raw vector). Codes quantize the RESIDUAL x − c(x): residuals cluster
# tightly around 0, so the same codebook budget spends its resolution
# where the data actually is (the core IVFADC observation, Jégou et
# al. 2011 §IV). The exact per-vector norm is stored at encode time —
# one float — so ADC cosine needs no norm quantization and the only
# per-cell query state is the scalar q·c.
# ----------------------------------------------------------------------


def ivfpq_build(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
    nlist: int = 16,
    m: int = 8,
    nbits: int = 8,
    seed: int = 42,
    coarse_iter: int = 20,
    pq_iter: int = 15,
    sample_cap: int = 100_000,
    return_sample: bool = False,
    warm_start: tuple[np.ndarray, np.ndarray] | None = None,
):
    """(centroids ``(nlist, dim)``, codebooks ``(m, ksub, dim//m)``)
    fit on ONE bounded driver sample: coarse k-means first, then
    per-subspace codebooks over the sample's residuals — matching what
    ``ivfpq_encode`` will quantize. Encoding stays fully distributed.
    ``return_sample=True`` appends the fit sample matrix to the tuple
    so callers that also need a corpus-spread sample (e.g. the synced
    index's drift baseline) reuse THIS scan instead of paying a second
    O(corpus) sampling pass.

    ``warm_start=(prev_centroids, prev_codebooks)`` seeds both Lloyd
    fits from an existing quantizer instead of kmeans++/Forgy — the
    partial-retrain contract: ``emb`` is then only the DRIFTED slice
    (a title-pruned scan, O(drifted) IO), and the previous quantizer's
    centroids anchor the regions that slice doesn't cover, so the
    refit both absorbs the new distribution and stays serviceable for
    later refreshes/compaction of undrifted titles."""
    mat = _sample_matrix(emb, vec_col, sample_cap, seed)
    rng = np.random.RandomState(seed)
    init_c, init_cb = warm_start if warm_start is not None else (None, None)
    centroids = _kmeans(
        mat, nlist, rng, coarse_iter,
        init=init_c if init_c is not None else "kmeans++",
    )
    d = (centroids * centroids).sum(axis=1)[None, :] - 2.0 * (mat @ centroids.T)
    resid = mat - centroids[np.argmin(d, axis=1)]
    codebooks = _pq_codebooks(resid, m, nbits, rng, pq_iter, init_codebooks=init_cb)
    if return_sample:
        return centroids, codebooks, mat
    return centroids, codebooks


def ivfpq_encode(
    emb: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    *,
    vec_col: str = "embedding",
    posts: int = 1,
) -> DataFrame:
    """Adds ``cluster`` (coarse cell), ``codes`` (m residual PQ codes
    vs that cell's centroid), and ``norm`` (exact |x|, the one stored
    float that makes ADC cosine need no norm quantization).

    ``posts > 1`` posts each vector to its ``posts`` nearest cells with
    a per-cell residual encoding (``posts``× rows) — the same
    recall/storage trade as ``ivf_assign_multi``, and cheaper here
    because the duplicated payload is m bytes of codes, not the vector.
    One matmul chain per Arrow batch; no shuffle. Persist partitioned
    by ``cluster`` for planning-time probe pruning."""
    cb = codebooks
    m, _, dsub = cb.shape
    c = centroids
    if c.shape[1] != m * dsub:
        raise ValueError(f"centroid dim {c.shape[1]} != codebook dim {m * dsub}")
    p = min(posts, len(c))
    c_n2 = (c * c).sum(axis=1)
    cb_n2 = (cb * cb).sum(axis=2)  # (m, ksub)
    out_type = StructType(
        [
            StructField("clusters", ArrayType(IntegerType())),
            StructField("codes", ArrayType(ArrayType(IntegerType()))),
            StructField("norm", DoubleType()),
        ]
    )

    @F.pandas_udf(out_type)
    def _enc(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for vecs in batches:
            if not len(vecs):
                yield pd.DataFrame(
                    {
                        "clusters": pd.Series([], dtype=object),
                        "codes": pd.Series([], dtype=object),
                        "norm": pd.Series([], dtype=float),
                    }
                )
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            d = c_n2[None, :] - 2.0 * (mat @ c.T)
            near = np.argsort(d, axis=1)[:, :p].astype("int32")  # (n, p)
            per_post = []
            for j in range(p):
                resid = mat - c[near[:, j]]
                codes_j = np.empty((len(mat), m), dtype=np.int32)
                for i in range(m):
                    sub = resid[:, i * dsub : (i + 1) * dsub]
                    dd = cb_n2[i][None, :] - 2.0 * (sub @ cb[i].T)
                    codes_j[:, i] = np.argmin(dd, axis=1)
                per_post.append(codes_j)
            yield pd.DataFrame(
                {
                    "clusters": list(near),
                    "codes": [
                        [per_post[j][r] for j in range(p)] for r in range(len(mat))
                    ],
                    "norm": np.sqrt((mat * mat).sum(axis=1)),
                }
            )

    enc = emb.withColumn("_e", _enc(F.col(vec_col)))
    zipped = enc.select(
        "*",
        F.col("_e.norm").alias("norm"),
        F.explode(
            F.arrays_zip(
                F.col("_e.clusters").alias("cluster"),
                F.col("_e.codes").alias("codes"),
            )
        ).alias("_p"),
    )
    return zipped.select(
        "*", F.col("_p.cluster").alias("cluster"), F.col("_p.codes").alias("codes")
    ).drop("_e", "_p")


def _ivfpq_scored(
    encoded: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    qvec: Sequence[float],
    *,
    nprobe: int,
) -> DataFrame:
    """Score step of :func:`ivfpq_topk` under ONE quantizer: the rows
    of the ``nprobe`` nearest cells, with their ADC cosine ``score``."""
    cb = codebooks
    m, _, dsub = cb.shape
    q = np.asarray(qvec, dtype=np.float64)
    if q.shape[0] != m * dsub:
        raise ValueError(f"query dim {q.shape[0]} != codebook dim {m * dsub}")
    qn = float(np.sqrt((q * q).sum()))
    dcell = ((centroids - q[None, :]) ** 2).sum(axis=1)
    probe = [int(cix) for cix in np.argsort(dcell)[:nprobe]]
    qc = centroids @ q  # (nlist,) per-cell dot offsets
    lut = np.stack([cb[i] @ q[i * dsub : (i + 1) * dsub] for i in range(m)])
    midx = np.arange(m)

    @F.pandas_udf("double")
    def _adc(cl: pd.Series, code_col: pd.Series, norm: pd.Series) -> pd.Series:
        if not len(cl):
            return pd.Series([], dtype=float)
        codes = np.array([np.asarray(cc, dtype=np.int64) for cc in code_col])
        dots = qc[cl.to_numpy(dtype=np.int64)] + lut[midx[None, :], codes].sum(axis=1)
        n = norm.to_numpy(dtype=np.float64)
        denom = qn * np.maximum(n, 1e-300)
        return pd.Series(np.where(n > 0, dots / denom, 0.0))

    return encoded.filter(F.col("cluster").isin(probe)).withColumn(
        "score", _adc(F.col("cluster"), F.col("codes"), F.col("norm"))
    )


def _ivfpq_topk_groups(
    groups: Sequence[tuple],
    qvec: Sequence[float],
    k: int,
    *,
    nprobe: int,
    emb: DataFrame | None,
    id_col: str,
    vec_col: str,
    shortlist: int | None,
) -> DataFrame:
    """:func:`ivfpq_topk` over ``groups`` of ``(centroids, codebooks,
    encoded)``: codes tables each encoded under its own quantizer (a
    synced index between a partial retrain and the next compact). Each
    group is scored under its own codebooks, the scored rows union, and
    one rank follows: an id's best ADC score wins, then :func:`_rank`.
    Scores compare across groups because every LUT approximates the
    same cosine; one group is the plain single-table plan."""
    scored = reduce(
        DataFrame.unionByName,
        [
            _ivfpq_scored(encoded, centroids, codebooks, qvec, nprobe=nprobe)
            for centroids, codebooks, encoded in groups
        ],
    )
    best = scored.groupBy(id_col).agg(F.max("score").alias("score"))
    return _rank(
        best, qvec, k, emb=emb, id_col=id_col, vec_col=vec_col, shortlist=shortlist
    )


def ivfpq_topk(
    encoded: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    qvec: Sequence[float],
    k: int,
    *,
    nprobe: int = 4,
    emb: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k over an IVFPQ table: scan only the
    ``nprobe`` nearest cells, score codes by ADC. The residual LUT is
    shared across cells (codebooks are global); the only per-cell
    query state is the scalar q·c, so
    ``cos ≈ (q·c + Σᵢ lut[i, codeᵢ]) / (|q| · norm)`` with the STORED
    exact norm in the denominator.

    Multi-posted tables (``posts > 1``) are handled deterministically:
    each id's best ADC score wins (map-side-combinable max, keyed only
    within the probed cells).

    With ``emb`` given, ADC only shortlists and the final ``k`` come
    from an exact cosine re-rank — FAISS ``IVFPQ + refine``."""
    return _ivfpq_topk_groups(
        [(centroids, codebooks, encoded)], qvec, k, nprobe=nprobe, emb=emb,
        id_col=id_col, vec_col=vec_col, shortlist=shortlist,
    )


def _ivfpq_scored_batch(
    encoded: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    qids: np.ndarray,
    qmat: np.ndarray,
    *,
    nprobe: int,
    keep: int,
    q_id_col: str,
    qid_ddl: str,
    id_col: str,
) -> DataFrame:
    """Score step of :func:`ivfpq_topk_batch` under ONE quantizer:
    ``(q_id_col, id_col, score)`` candidates from one ``mapInPandas``
    pass over the union of the queries' probed cells, each code row
    scored against exactly the queries probing its cell. Per slab,
    cell and query only the top ``keep`` scores survive, plus boundary
    ties (see :func:`ivfpq_topk_batch`)."""
    cb = codebooks
    m, _, dsub = cb.shape
    if qmat.shape[1] != m * dsub:
        raise ValueError(f"query dim {qmat.shape[1]} != codebook dim {m * dsub}")
    qn = np.sqrt((qmat * qmat).sum(axis=1))
    # per-query probe sets -> cluster -> [query rows probing it]
    d2 = ((qmat[:, None, :] - centroids[None, :, :]) ** 2).sum(axis=2)
    probes = np.argsort(d2, axis=1)[:, :nprobe]  # (Q, nprobe)
    probe_cols: dict[int, np.ndarray] = {}
    for j in range(len(qmat)):
        for c in probes[j]:
            probe_cols.setdefault(int(c), []).append(j)
    probe_cols = {c: np.asarray(js, dtype=np.int64) for c, js in probe_cols.items()}
    qc = qmat @ centroids.T  # (Q, nlist)
    lut = np.stack(
        [cb[i] @ qmat[:, i * dsub : (i + 1) * dsub].T for i in range(m)]
    )  # (m, ksub, Q)
    bc = encoded.sparkSession.sparkContext.broadcast(
        {"lut": lut, "qc": qc, "qn": qn, "qids": qids, "probe_cols": probe_cols}
    )
    id_ddl = encoded.schema[id_col].dataType.simpleString()
    out_schema = f"{q_id_col} {qid_ddl}, {id_col} {id_ddl}, score double"

    def _score(batches):
        B = bc.value
        lut_, qc_, qn_, qids_ = B["lut"], B["qc"], B["qn"], B["qids"]
        cols = B["probe_cols"]
        for pdf in batches:
            if not len(pdf):
                continue
            out = []
            for c, grp in pdf.groupby("cluster", sort=False):
                S = cols.get(int(c))
                if S is None or not len(grp):
                    continue
                codes = np.array(
                    [np.asarray(x, dtype=np.int64) for x in grp["codes"]]
                )  # (r, m)
                r = len(codes)
                dots = qc_[S, int(c)][None, :].repeat(r, axis=0)
                for i in range(lut_.shape[0]):
                    dots += lut_[i][codes[:, i][:, None], S[None, :]]
                norm = grp["norm"].to_numpy(dtype=np.float64)
                denom = qn_[S][None, :] * np.maximum(norm, 1e-300)[:, None]
                scores = np.where(norm[:, None] > 0, dots / denom, 0.0)
                ids = grp[id_col].to_numpy()
                for jj in range(len(S)):
                    col = scores[:, jj]
                    if r > keep:
                        # keep top `keep` PLUS boundary ties: the global
                        # (score desc, id asc) order resolves them
                        thresh = np.partition(col, r - keep)[r - keep]
                        kept = col >= thresh
                    else:
                        kept = slice(None)
                    kid, ks = ids[kept], col[kept]
                    out.append(
                        pd.DataFrame(
                            {
                                q_id_col: np.full(len(ks), qids_[S[jj]]),
                                id_col: kid,
                                "score": ks,
                            }
                        )
                    )
            if out:
                yield pd.concat(out, ignore_index=True)

    return (
        encoded.filter(F.col("cluster").isin(sorted(probe_cols)))
        .select(id_col, "cluster", "codes", "norm")
        .mapInPandas(_score, schema=out_schema)
    )


def _ivfpq_topk_batch_groups(
    groups: Sequence[tuple],
    queries: DataFrame,
    k: int,
    *,
    nprobe: int,
    emb: DataFrame | None,
    q_id_col: str,
    q_vec_col: str,
    id_col: str,
    vec_col: str,
    shortlist: int | None,
    max_queries: int,
) -> DataFrame:
    """:func:`ivfpq_topk_batch` over ``groups`` of ``(centroids,
    codebooks, encoded)`` (see :func:`_ivfpq_topk_groups`): the batch
    is collected and checked once, each group is scored under its own
    codebooks, the candidates union, and one per-query rank follows."""
    from pyspark.sql.window import Window

    from ..functions.similarity import cosine_sim

    qpdf = queries.select(q_id_col, q_vec_col).limit(max_queries + 1).toPandas()
    if len(qpdf) > max_queries:
        raise ValueError(
            f"batch has more than max_queries={max_queries} rows; raise the "
            "bound or split the batch (driver memory holds one LUT per query)"
        )
    if not len(qpdf):
        # shape the empty result like the NON-empty path would: the
        # rerank variant carries emb's columns (an accelerated
        # ask_batch on zero questions must not change schema by
        # cardinality — confirmed round-6 review crash)
        qid_field = StructField(q_id_col, queries.schema[q_id_col].dataType)
        score_field = StructField("score", DoubleType())
        encoded = groups[0][2]
        if emb is not None:
            # non-empty rerank order: the equi-join puts the key FIRST
            # (emb.join(short, id_col) -> id_col, other emb cols, qid,
            # score) — mirror that here so column order does not vary
            # by cardinality even when id_col is not emb's first column
            rest = [
                f for f in emb.drop(vec_col).schema.fields if f.name != id_col
            ]
            fields = (
                [StructField(id_col, emb.schema[id_col].dataType)]
                + rest
                + [qid_field, score_field]
            )
        else:
            # non-empty ADC order: qid, id, score
            fields = [
                qid_field,
                StructField(id_col, encoded.schema[id_col].dataType),
                score_field,
            ]
        return encoded.sparkSession.createDataFrame([], StructType(fields))
    if qpdf[q_id_col].duplicated().any():
        # two queries under one qid would interleave their candidates
        # into one garbage ranking — fail loudly instead
        dup = qpdf[q_id_col][qpdf[q_id_col].duplicated()].iloc[0]
        raise ValueError(f"duplicate {q_id_col} in batch (e.g. {dup!r})")
    qmat = np.array([np.asarray(v, dtype=np.float64) for v in qpdf[q_vec_col]])
    qids = qpdf[q_id_col].to_numpy()
    s_keep = k if emb is None else _shortlist_size(k, shortlist)
    qid_ddl = queries.schema[q_id_col].dataType.simpleString()
    cands = reduce(
        DataFrame.unionByName,
        [
            _ivfpq_scored_batch(
                encoded, centroids, codebooks, qids, qmat,
                nprobe=nprobe, keep=s_keep, q_id_col=q_id_col,
                qid_ddl=qid_ddl, id_col=id_col,
            )
            for centroids, codebooks, encoded in groups
        ],
    )
    # multi-posted ids: best ADC score wins (map-side-combinable max)
    best = cands.groupBy(q_id_col, id_col).agg(F.max("score").alias("score"))
    w = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc(id_col))
    ranked = best.withColumn("__rn", F.row_number().over(w))
    if emb is None:
        return ranked.filter(F.col("__rn") <= k).drop("__rn")
    short = ranked.filter(F.col("__rn") <= s_keep).select(q_id_col, id_col)
    qf = F.broadcast(
        queries.select(
            F.col(q_id_col).alias("__qid"), F.col(q_vec_col).alias("__qvec")
        )
    )
    exact = (
        emb.join(short, id_col, "inner")
        .join(qf, F.col(q_id_col) == F.col("__qid"))
        .withColumn("score", cosine_sim(F.col(vec_col), F.col("__qvec")))
        .drop("__qid", "__qvec", vec_col)
    )
    we = Window.partitionBy(q_id_col).orderBy(F.desc("score"), F.asc(id_col))
    return (
        exact.withColumn("__rn", F.row_number().over(we))
        .filter(F.col("__rn") <= k)
        .drop("__rn")
    )


def ivfpq_topk_batch(
    encoded: DataFrame,
    centroids: np.ndarray,
    codebooks: np.ndarray,
    queries: DataFrame,
    k: int,
    *,
    nprobe: int = 4,
    emb: DataFrame | None = None,
    q_id_col: str = "qid",
    q_vec_col: str = "qvec",
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist: int | None = None,
    max_queries: int = 10_000,
) -> DataFrame:
    """Batch ADC top-k: answer MANY queries in ONE scan of the probed
    cells — the batch-serving shape that matters at 100 TB, where
    per-question :func:`ivfpq_topk` jobs would rescan the codes table
    per query. The whole query batch is collected driver-side (bounded
    by ``max_queries`` — a batch request is driver-sized by contract),
    its per-query LUTs/probe sets broadcast once, and one Arrow
    ``mapInPandas`` pass scores each probed code row against exactly
    the queries probing its cell (a per-cluster LUT-gather matmul,
    never rows x all-queries). Per-slab, per-query top candidates are
    cut locally (keeping boundary TIES, so the global id-tiebreak stays
    exact; within one cluster ids are unique, so a local cut can never
    starve the global distinct-id top-k even on multi-posted tables),
    then one groupBy-max dedups postings and a window ranks per query.

    ``emb`` switches to shortlist + EXACT re-rank: the shortlisted ids
    join the originals and the final score is the same JVM-side
    ``cosine_sim`` the exact :func:`~..operators.topk.knn_join` uses —
    with full probing the result is bit-identical to brute force (the
    gate oracle). Returns ``(q_id_col, <emb cols minus vector>, score)``
    with ``emb``, else ``(q_id_col, id_col, score)``.
    """
    return _ivfpq_topk_batch_groups(
        [(centroids, codebooks, encoded)], queries, k, nprobe=nprobe, emb=emb,
        q_id_col=q_id_col, q_vec_col=q_vec_col, id_col=id_col, vec_col=vec_col,
        shortlist=shortlist, max_queries=max_queries,
    )


# ----------------------------------------------------------------------
# Scalar quantization (FAISS ``SQ8``): each dimension quantized
# independently to one byte on a per-dimension [min, max] range fit on
# a bounded driver sample — 4x smaller than float32 with near-exact
# recall (no codebook, no residual: the decode is an affine map, so
# the query-side dot product against DECODED vectors is itself an
# affine function of the integer codes and never materializes floats:
# q . x~ = q . vmin + sum_i (q_i * step_i) * code_i).
# ----------------------------------------------------------------------


def sq8_train(
    emb: DataFrame,
    *,
    vec_col: str = "embedding",
    seed: int = 42,
    sample_cap: int = 100_000,
) -> tuple[np.ndarray, np.ndarray]:
    """(vmin, vmax) per-dimension ranges from ONE bounded driver
    sample (the PQ/IVF recipe). Values outside the sampled range clip
    at encode time — the standard SQ trade."""
    mat = _sample_matrix(emb, vec_col, sample_cap, seed)
    return mat.min(axis=0), mat.max(axis=0)


def sq8_encode(
    emb: DataFrame,
    vmin: np.ndarray,
    vmax: np.ndarray,
    *,
    vec_col: str = "embedding",
) -> DataFrame:
    """Adds ``codes`` (one int in [0, 255] per dimension) and ``norm``
    (exact |x|, stored so cosine needs no norm reconstruction). One
    numpy affine map per Arrow batch; no shuffle."""
    step = (vmax - vmin) / 255.0
    step = np.where(step > 0, step, 1.0)
    lo = vmin
    out_type = StructType(
        [
            StructField("codes", ArrayType(IntegerType())),
            StructField("norm", DoubleType()),
        ]
    )

    @F.pandas_udf(out_type)
    def _enc(batches: Iterator[pd.Series]) -> Iterator[pd.DataFrame]:
        for vecs in batches:
            if not len(vecs):
                yield pd.DataFrame(
                    {"codes": pd.Series([], dtype=object),
                     "norm": pd.Series([], dtype=float)})
                continue
            mat = np.array([np.asarray(v, dtype=np.float64) for v in vecs])
            # half-AWAY-from-zero, the same rounding rule SQL round()
            # uses — so the encoder and the sq8_fidelity oracle agree
            # by construction even on exact .5 quotients (np.rint's
            # half-to-even would diverge there)
            quot = (mat - lo) / step
            rounded = np.sign(quot) * np.floor(np.abs(quot) + 0.5)
            codes = np.clip(rounded, 0, 255).astype(np.int32)
            yield pd.DataFrame(
                {"codes": list(codes),
                 "norm": np.sqrt((mat * mat).sum(axis=1))})

    enc = emb.withColumn("_e", _enc(F.col(vec_col)))
    return enc.select(
        "*",
        F.col("_e.codes").alias("codes"),
        F.col("_e.norm").alias("norm"),
    ).drop("_e")


def sq8_scores(
    encoded: DataFrame,
    vmin: np.ndarray,
    vmax: np.ndarray,
    qvec: Sequence[float],
) -> DataFrame:
    """Adds the SQ8-ADC cosine ``score`` column: the decode is affine,
    so the score is ``(q.vmin + (q*step) . codes) / (|q| * norm)`` with
    the STORED exact norm — one numpy dot per Arrow batch, floats never
    reconstructed per element. Shared by :func:`sq8_topk` and the
    ``sq8_fidelity`` gate (which ranks ALL scores, not just top-k)."""
    q = np.asarray(qvec, dtype=np.float64)
    if q.shape[0] != vmin.shape[0]:
        raise ValueError(f"query dim {q.shape[0]} != range dim {vmin.shape[0]}")
    step = (vmax - vmin) / 255.0
    step = np.where(step > 0, step, 1.0)
    qs = q * step
    base = float(q @ vmin)
    qn = float(np.sqrt((q * q).sum()))

    @F.pandas_udf("double")
    def _score(code_col: pd.Series, norm: pd.Series) -> pd.Series:
        if not len(code_col):
            return pd.Series([], dtype=float)
        codes = np.array([np.asarray(c, dtype=np.float64) for c in code_col])
        dots = base + codes @ qs
        n = norm.to_numpy(dtype=np.float64)
        denom = qn * np.maximum(n, 1e-300)
        return pd.Series(np.where(n > 0, dots / denom, 0.0))

    return encoded.withColumn("score", _score(F.col("codes"), F.col("norm")))


def sq8_topk(
    encoded: DataFrame,
    vmin: np.ndarray,
    vmax: np.ndarray,
    qvec: Sequence[float],
    k: int,
    *,
    emb: DataFrame | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    shortlist: int | None = None,
) -> DataFrame:
    """Approximate cosine top-k over SQ8 codes (see :func:`sq8_scores`
    for the affine-decode scoring). With ``emb``, SQ8 shortlists and
    exact cosine re-ranks (FAISS ``SQ + refine``)."""
    scored = sq8_scores(encoded, vmin, vmax, qvec)
    ranked = _rank(
        scored, qvec, k, emb=emb, id_col=id_col, vec_col=vec_col, shortlist=shortlist
    )
    return ranked if emb is not None else ranked.drop("codes")

