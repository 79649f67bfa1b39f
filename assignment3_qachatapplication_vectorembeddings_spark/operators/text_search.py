"""Keyword (BM25) scoring and hybrid keyword+vector retrieval.

The reference answers questions with pure vector search
(``QA_using_pinecone.py:31-48``: embed the question, top-k cosine).
Production QA/retrieval systems pair that with a lexical ranker and
fuse the two lists; this module adds both as first-class distributed
operators:

- :func:`bm25_scores` — Okapi BM25 over a fixed query-term set,
  computed document-locally in one codegen pass (per-term
  ``size(split) - size(array_remove(...))`` counts, 1-row broadcast
  corpus statistics); no Python and no explode in the hot path.
- :func:`rrf_fuse` — reciprocal-rank fusion of two ranked lists
  (Cormack et al., SIGIR'09: score = Σ 1/(k0 + rank)).

Scale notes: term frequencies and doc lengths are computed
document-locally in one pass (no explode shuffle); the corpus-wide
statistics (N, avgdl, per-term df) reduce to ONE broadcast row.
Ranking for fusion uses an unpartitioned row_number — correct for the
bounded candidate lists retrieval produces (top-k per ranker), which
is how callers should feed it at 100 TB: rank shortlists, not corpora.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "tokens_expr",
    "doclen_expr",
    "bm25_scores",
    "release_caches",
    "rrf_fuse",
    "rank_by",
    "StaleIndexError",
]


class StaleIndexError(RuntimeError):
    """A persisted derived index was built from an older data snapshot
    than the one the caller is serving (see ``index_sync``)."""

# The materialized-intermediate registry lives in runtime.py (it is
# shared with the dedup checkpoints, not bm25-private); release_caches
# is re-exported here because existing runners import it from this
# module.
from ..runtime import register_materialized, release_caches  # noqa: F401


def tokens_expr(text: Column) -> Column:
    """Lowercased whitespace tokens, empties removed — the SAME
    expression the SQL oracles use (list_filter ∘ string_split_regex),
    so token counts agree byte-for-byte."""
    return F.filter(F.split(F.lower(text), r"\s+"), lambda x: x != "")


def doclen_expr(text: Column) -> Column:
    return F.size(tokens_expr(text))


def bm25_scores(
    docs: DataFrame,
    terms: Sequence[str],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k1: float = 1.2,
    b: float = 0.75,
) -> DataFrame:
    """Per-document Okapi BM25 score for a fixed bag of query terms.

    idf(t)  = ln(1 + (N − df + 0.5)/(df + 0.5))
    s(d, t) = idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))

    Returns (id_col, score) for documents matching ≥1 term.

    Zero wide shuffles: for a fixed (small) query-term bag, per-doc
    term frequencies are computed DOCUMENT-LOCALLY as
    ``size(filter(tokens, = term))`` — whole-stage codegen's
    subexpression elimination tokenizes each row once and shares the
    array across the per-term counts — so the only exchange is the
    1-row corpus-statistics aggregate (N, avgdl, per-term df), which
    broadcasts back over the scan. At 100 TB this is one pass over the
    corpus with a scalar all-reduce, vs. the classic explode →
    (doc, term) shuffle → 3-way rejoin plan.
    """
    # dedupe (first occurrence wins) and drop empties so a repeated or
    # degenerate query term can't double-count its contribution — same
    # behavior as the explode+isin formulation this replaced
    terms = list(dict.fromkeys(t for t in terms if t))
    if not terms:
        raise ValueError("bm25_scores requires at least one non-empty term")
    nterms = len(terms)
    # tf via size-minus-removed: pure codegen collection ops (no
    # higher-order lambdas, which run interpreted), and the raw split is
    # a common subexpression evaluated once per row. Empty tokens can't
    # match a real term, so only dl needs them removed.
    raw = F.split(F.lower(F.col(text_col)), r"\s+")
    per_doc = docs.select(
        F.col(id_col),
        F.size(F.array_remove(raw, "")).cast("double").alias("dl"),
        *[
            (F.size(raw) - F.size(F.array_remove(raw, t)))
            .cast("double")
            .alias(f"_tf{i}")
            for i, t in enumerate(terms)
        ],
    )
    # materialize ONCE: both the stats aggregate and the scoring pass
    # read this ~(8·(q+2) bytes)/doc table instead of re-tokenizing the
    # corpus (the whole win of the document-local plan is a single pass
    # over the raw text). LAZY persist, not localCheckpoint: building
    # the DataFrame must not launch a job (plan dumps/audits construct
    # without executing), and persisted partitions recompute from
    # lineage on executor loss instead of failing the query. The handle
    # is registered for release_caches() — persist pins CacheManager
    # blocks for the session lifetime otherwise.
    from pyspark import StorageLevel

    per_doc = per_doc.persist(StorageLevel.MEMORY_AND_DISK)
    register_materialized(per_doc)
    stats = per_doc.agg(
        F.count(F.lit(1)).cast("double").alias("n_docs"),
        F.avg("dl").alias("avgdl"),
        *[
            F.sum((F.col(f"_tf{i}") > 0).cast("double")).alias(f"_df{i}")
            for i in range(nterms)
        ],
    )

    def contrib(i: int) -> Column:
        tf, df = F.col(f"_tf{i}"), F.col(f"_df{i}")
        idf = F.log(1 + (F.col("n_docs") - df + 0.5) / (df + 0.5))
        score = idf * (
            tf * (k1 + 1) / (tf + k1 * (1 - b + b * F.col("dl") / F.col("avgdl")))
        )
        return F.when(tf > 0, score).otherwise(F.lit(0.0))

    score = contrib(0)
    for i in range(1, nterms):
        score = score + contrib(i)
    matched = F.col("_tf0") > 0
    for i in range(1, nterms):
        matched = matched | (F.col(f"_tf{i}") > 0)
    return (
        per_doc.crossJoin(F.broadcast(stats))
        .filter(matched)
        .select(F.col(id_col), score.alias("score"))
    )


def rrf_fuse(
    ranked_a: DataFrame,
    ranked_b: DataFrame,
    *,
    id_col: str = "doc_id",
    rank_col: str = "rank",
    k0: int = 60,
) -> DataFrame:
    """Reciprocal-rank fusion of two (id, rank) lists: items missing
    from one list simply contribute nothing from it (full outer join +
    coalesce), the standard RRF treatment of disjoint candidates."""
    a = ranked_a.select(F.col(id_col), F.col(rank_col).alias("rank_a"))
    b = ranked_b.select(F.col(id_col), F.col(rank_col).alias("rank_b"))
    return a.join(b, id_col, "full_outer").select(
        id_col,
        "rank_a",
        "rank_b",
        (
            F.coalesce(1.0 / (k0 + F.col("rank_a")), F.lit(0.0))
            + F.coalesce(1.0 / (k0 + F.col("rank_b")), F.lit(0.0))
        ).alias("rrf"),
    )


def rank_by(df: DataFrame, order: Sequence[Column], *, out: str = "rank") -> DataFrame:
    """Dense 1-based ranking by the given ordering. Unpartitioned
    window — feed it bounded candidate lists (see module docstring)."""
    return df.withColumn(out, F.row_number().over(Window.orderBy(*order)))


# --------------------------------------------------------------------------
# Shared with the persisted inverted index (``index_sync.SyncedTextIndex``),
# whose postings land partitioned by a stable hash bucket of the term.
# --------------------------------------------------------------------------


def _term_bucket(c: Column, n: int) -> Column:
    """Stable term bucket (xxhash64 — engine-internal layout, nothing
    cross-engine reads it; pmod keeps negatives in range)."""
    return F.pmod(F.xxhash64(c), F.lit(n))


#: bump when ``tokens_expr`` changes — queries against an index built
#: with a different tokenizer would silently mis-match terms.
TOKENIZER_VERSION = "whitespace-lower/v1"
