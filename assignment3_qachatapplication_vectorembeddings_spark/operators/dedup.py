"""Near-duplicate detection operators for large-scale corpus curation.

The reference deduplicates only by exact vector id (Pinecone upsert
replaces by id, ``airflow-pipeline/dags/pipeline2.py:130-146``); a
training-data pipeline at 100 TB needs real near-dup detection. Four
families, all expressed as shuffle-conscious DataFrame plans over a
``documents(doc_id, text)`` table:

1. **Exact** — md5 fingerprint of normalized text (see
   ``functions.textfns.exact_fingerprint``; corpus queries
   ``doc_fingerprint`` / ``dedup_exact_count``).
2. **n-gram Jaccard** — word-shingle inverted index self-join; exact
   set similarity. The candidate generator is the shingle join (docs
   sharing zero shingles never meet — no O(n²) cross product).
3. **MinHash + LSH** — K min-hashes per doc, banded into B bands of R
   rows; docs sharing a band signature become candidates; candidates
   are verified with exact Jaccard. This is the 100 TB path: cost is
   O(total shingles × K) + a join on (band, sig) buckets.
4. **SimHash** — tf-weighted 60-bit signature; pairs within hamming
   distance d found by pigeonhole banding (split into d+1 chunks; any
   pair with ≤d differing bits shares ≥1 exact chunk) — the banded
   join is *lossless*, so results equal the brute-force cross join
   without ever materializing it.

Hashing: MinHash and SimHash derive their token/shingle hashes from
an md5 hex prefix — bit-identical to the DuckDB oracle expressions
(``('0x' || substring(md5(s),1,15))::BIGINT`` for SimHash), which is
what the correctness gate runs. Internal join keys that no oracle
sees (shingle sets, verify intersections) use ``xxhash64``.

Scale notes (100 TB): shingle explosion is linear in corpus size and
shuffles once per groupBy; hot shingles (boilerplate) should be
dropped with ``max_doc_freq`` before the self-join — that bounds the
inverted-index skew; AQE skew-join handles the rest. Band-bucket
joins shuffle only (band, sig) keys — tiny compared to text.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "normalized_tokens",
    "shingle_table",
    "ngram_jaccard_pairs",
    "minhash_signatures",
    "minhash_band_buckets",
    "minhash_band_table",
    "minhash_lsh_pairs",
    "simhash_table",
    "simhash_pairs",
    "hashed_gram_table",
    "duplicate_span_table",
    "connected_components",
    "embedding_topk_pairs",
    "semdedup",
]


def normalized_tokens(text: Column) -> Column:
    """Whitespace tokens of lowercased, trimmed text (array<string>)."""
    return F.split(F.trim(F.lower(text)), r"\s+")


def _fan_out(docs: DataFrame, id_col: str) -> DataFrame:
    """Repartition documents by id before a CPU-heavy per-doc stage
    (shared widen-only logic: see ``operators.fanout.fan_out``)."""
    from .fanout import fan_out

    return fan_out(docs, id_col)


def shingle_table(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    fan_out: bool = True,
) -> DataFrame:
    """Distinct word n-gram shingles: (id_col, shingle).

    Documents with fewer than ``n`` tokens produce no rows (explode of
    an empty array), mirroring the SQL oracle's empty range.

    ``fan_out=False`` skips the input repartition — pass it when the
    caller's input already arrives through a shuffle (re-hashing it
    would be a pure-overhead exchange).
    """
    if fan_out:
        docs = _fan_out(docs, id_col)
    toks = docs.select(id_col, normalized_tokens(F.col(text_col)).alias("_toks"))
    gram = "concat(" + ", ' ', ".join(f"_toks[i+{j}]" for j in range(n)) + ")"
    shingles = F.expr(
        f"CASE WHEN size(_toks) >= {n} THEN "
        f"array_distinct(transform(sequence(0, size(_toks)-{n}), i -> {gram})) "
        "ELSE array() END"
    )
    return toks.select(id_col, F.explode(shingles).alias("shingle"))


def _pair_jaccard(sh: DataFrame, id_col: str) -> DataFrame:
    """(doc_a, doc_b, jaccard) for every pair sharing ≥1 shingle.

    The self-join and doc-frequency groupBy run on ``xxhash64(shingle)``
    (8-byte longs) instead of the raw shingle strings — at 100 TB the
    inverted-index shuffle moves fixed-width keys, not text. Row counts
    per doc are unchanged by the projection, and a false intersection
    needs two distinct shingles of one candidate pair to collide in
    64 bits (~2⁻⁶⁴ per pair, deterministic across runs), so the Jaccard
    values are those of the string join.
    """
    if dict(sh.dtypes)["shingle"] == "string":
        sh = sh.select(id_col, F.xxhash64("shingle").alias("shingle"))
    cnt = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n"))
    # per-doc counts use the FULL table, but the pair join only needs
    # shingles in ≥2 docs — df-1 shingles (the vast majority) can't form
    # a pair, so drop them before the self-join (result-identical; the
    # aggregation is cheaper than joining the unique tail)
    #
    # NB (round-10 negative, measured): cnt and the df>=2 set each feed
    # TWO consumers and LOOK cloned in the initial AQE plan (the
    # ngram_jaccard before-plan shows the doc-frequency exchange and
    # the per-doc-count exchange twice) — but the EXECUTED plan carries
    # 2 ReusedExchange nodes: AQE's runtime exchange reuse computes
    # each aggregation once and shares it. Eager-checkpointing both
    # (the rollup/dsir idiom) was A/B'd at sf0.1: med 1.49 → 1.61 s —
    # two extra job barriers for work that was never duplicated.
    # Reverted; don't re-add without checking executedPlan() for
    # ReusedExchange first.
    shared = sh.join(
        sh.groupBy("shingle")
        .agg(F.count(F.lit(1)).alias("df"))
        .filter(F.col("df") >= 2)
        .select("shingle"),
        "shingle",
        "left_semi",
    )
    a = shared.select(F.col(id_col).alias("doc_a"), "shingle")
    b = shared.select(F.col(id_col).alias("doc_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ca = cnt.select(F.col(id_col).alias("doc_a"), F.col("n").alias("na"))
    cb = cnt.select(F.col(id_col).alias("doc_b"), F.col("n").alias("nb"))
    return inter.join(ca, "doc_a").join(cb, "doc_b").select(
        "doc_a",
        "doc_b",
        (
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter"))
        ).alias("jaccard"),
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact near-dup pairs: word-n-gram Jaccard ≥ threshold.

    Plan: shingle explode → inverted-index self-join on shingle →
    per-pair intersection count → Jaccard from per-doc shingle counts.
    No cross product: pairs sharing no shingle never materialize.

    The shingle table feeds five plan branches (per-doc counts ×2,
    doc-frequency filter, both self-join sides) — checkpoint it once
    instead of re-tokenizing the corpus per branch.
    """
    sh = shingle_table(docs, id_col=id_col, text_col=text_col, n=n).localCheckpoint(
        eager=True
    )
    from ..runtime import register_materialized

    register_materialized(sh)
    return _pair_jaccard(sh, id_col).filter(F.col("jaccard") >= threshold)


#: Universal-hash modulus (Mersenne prime 2^31 - 1).
MINHASH_P = 2147483647

#: MinHash base hash of a shingle: the first 32 bits of its md5, the
#: same expression the DuckDB oracle computes.
_MINHASH_BASE = "cast(conv(substring(md5(shingle), 1, 8), 16, 10) as bigint)"


def minhash_coeffs(num_hashes: int, *, seed: int = 9176) -> list[tuple[int, int]]:
    """Deterministic (a, b) pairs for the universal family
    h_i(x) = (a_i·x + b_i) mod P. a < 2^30 keeps a·base < 2^62 —
    no 64-bit overflow on either engine, so Spark and DuckDB integer
    arithmetic agree bit-for-bit."""
    import random

    rng = random.Random(seed)
    return [
        (rng.randrange(1, 1 << 30), rng.randrange(0, MINHASH_P))
        for _ in range(num_hashes)
    ]


def minhash_signatures(
    sh: DataFrame,
    *,
    id_col: str = "doc_id",
    num_hashes: int = 16,
) -> DataFrame:
    """(id, seed, mh): K min-hashes via a universal family over ONE base
    hash per shingle — (a_i·base + b_i) mod P instead of K fresh md5
    calls (16× less hashing; the dominant minhash cost). The md5 base
    matches the DuckDB oracle. min() partial-aggregates map-side.
    """
    coeffs = minhash_coeffs(num_hashes)
    a_lit = "array(" + ",".join(f"{a}L" for a, _ in coeffs) + ")"
    b_lit = "array(" + ",".join(f"{b}L" for _, b in coeffs) + ")"
    seeded = F.expr(
        f"transform(sequence(0, {num_hashes - 1}),"
        f" s -> struct(s as seed,"
        f" pmod(element_at({a_lit}, s + 1) * base + element_at({b_lit}, s + 1),"
        f" {MINHASH_P}L) as h))"
    )
    return (
        sh.withColumn("base", F.expr(_MINHASH_BASE))
        .select(id_col, F.explode(seeded).alias("x"))
        .select(id_col, F.col("x.seed").alias("seed"), F.col("x.h").alias("h"))
        .groupBy(id_col, "seed")
        .agg(F.min("h").alias("mh"))
    )


def minhash_band_buckets(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, sig): band signature = comma-joined minhashes in seed
    order. Docs agreeing on all R minhashes of a band share a bucket."""
    return (
        sigs.withColumn("band", F.expr(f"seed div {rows_per_band}"))
        .groupBy(id_col, "band")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("seed", "mh"))),
                    lambda x: x["mh"].cast("string"),
                ),
                ",",
            ).alias("sig")
        )
    )


def minhash_band_table(
    sh: DataFrame,
    *,
    id_col: str = "doc_id",
    num_hashes: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """(id, band, sig) in ONE aggregation: collect each doc's shingle
    base-hashes, then compute all K minhashes and all band signatures
    in a single Arrow-batched stage. Same output as
    ``minhash_band_buckets(minhash_signatures(sh))`` with one shuffle
    (the doc-key collect) instead of three."""
    coeffs = minhash_coeffs(num_hashes)
    nbands = num_hashes // rows_per_band
    if "base" not in sh.columns:
        sh = sh.withColumn("base", F.expr(_MINHASH_BASE))
    per_doc = sh.groupBy(id_col).agg(F.collect_list("base").alias("bases"))
    # K minhashes + band signatures from each doc's base-hash array in
    # one Arrow-batched numpy stage. A higher-order-expression variant
    # (transform(sequence(0,K-1), s -> array_min(transform(bases, …))))
    # computes the same thing but runs INTERPRETED per element — Spark
    # lambda functions don't participate in whole-stage codegen — and
    # measured ~1.7× slower warm at sf0.1. Same story as the simhash
    # md5 plan below: K×S modular arithmetic is exactly what a
    # vectorized batch does best. uint64 is overflow-safe (a < 2^30,
    # base < 2^32 ⇒ a·x + b < 2^63), so values match the JVM/DuckDB
    # signed-64 pmod bit-for-bit.
    av = np.array([a for a, _ in coeffs], dtype=np.uint64)[:, None]
    bv = np.array([b for _, b in coeffs], dtype=np.uint64)[:, None]
    pp, rr, nb = np.uint64(MINHASH_P), rows_per_band, nbands

    @F.pandas_udf("array<string>")
    def _band_sigs(bases: pd.Series) -> pd.Series:
        out = []
        for arr in bases:
            x = np.asarray(arr, dtype=np.uint64)[None, :]
            mins = ((av * x + bv) % pp).min(axis=1).astype(np.int64)
            out.append(
                [
                    ",".join(str(v) for v in mins[b * rr : (b + 1) * rr])
                    for b in range(nb)
                ]
            )
        return pd.Series(out)

    return per_doc.select(
        id_col, F.posexplode(_band_sigs("bases")).alias("band", "sig")
    )


def minhash_lsh_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 16,
    rows_per_band: int = 4,
    threshold: float = 0.8,
    fan_out: bool = True,
) -> DataFrame:
    """MinHash-LSH near-dup pairs, verified: shingle → K minhashes →
    band buckets → candidate pairs → exact-Jaccard verify ≥ threshold.

    Candidate generation touches only (band, sig) buckets — the 100 TB
    path; the verify join runs only over candidates (few), so the
    exact-Jaccard cost is bounded by true-ish pairs, not all pairs.

    Recall is PROBABILISTIC and set by the banding: with the default
    16 hashes in 4 bands of 4 rows, a pair at true Jaccard s collides
    in ≥1 band with p = 1−(1−s⁴)⁴ — ≈0.87 at s=0.8, ≈0.986 at s=0.9,
    1.0 for identical docs. The previous 8×2 default found ~0.9997 of
    s=0.8 pairs but passed ~20M false candidates on the sf1 stress
    corpus (S-curve midpoint 0.35 vs 0.71 now); callers needing
    near-certain recall at the threshold should raise ``num_hashes`` /
    lower ``rows_per_band`` and pay the candidate volume.
    """
    # the shingle table feeds every downstream branch (band table plus
    # the verify sets); an EAGER checkpoint materializes it once and
    # truncates the lineage, so each branch scans the checkpointed
    # blocks instead of re-planning the explode — the lazy variant left
    # every branch re-deriving it (37-shuffle plan, ~2× wall time at
    # sf0.1). Only NUMERIC columns are checkpointed: `base` (the
    # minhash base hash) and `shx` (the 64-bit verify hash) — storing
    # the shingle STRINGS tripled the block footprint and at sf1 a few
    # repeated calls exhausted driver storage memory until broadcasts
    # failed.
    sh = (
        shingle_table(docs, id_col=id_col, text_col=text_col, n=n, fan_out=fan_out)
        .select(
            id_col,
            F.expr(_MINHASH_BASE).alias("base"),
            F.xxhash64("shingle").alias("shx"),
        )
        .localCheckpoint(eager=True)
    )
    # register for release_caches(): sequential runners drop the refs
    # after materializing each query so ContextCleaner can reclaim the
    # checkpoint blocks (same contract as bm25's persisted frames)
    from ..runtime import register_materialized

    register_materialized(sh)
    buckets = minhash_band_table(
        sh,
        id_col=id_col,
        num_hashes=num_hashes,
        rows_per_band=rows_per_band,
    )
    # Candidate pairs via the distributed bucket self-join. (A
    # bucket-local alternative — collect each bucket's ids, emit C(m,2)
    # pairs with a higher-order expression — was measured and REVERTED:
    # a hot bucket's m²/2 pairs land in ONE task, and the sf1 stress
    # data produces 2.8k-doc buckets → 4M pairs serialized on one core.
    # The self-join spreads exactly the same pairs across the cluster.)
    # The band table is eagerly checkpointed so both join legs read the
    # materialized blocks instead of each recomputing the minhash
    # subtree. No broadcast hints anywhere: the candidate set is
    # corpus-dependent (20M rows on the sf1 stress data) — AQE elects
    # broadcasts at runtime when a side is actually small.
    buckets = buckets.localCheckpoint(eager=True)
    register_materialized(buckets)
    a = buckets.select(F.col(id_col).alias("doc_a"), "band", "sig")
    b = buckets.select(F.col(id_col).alias("doc_b"), "band", "sig")
    cands = (
        a.join(b, ["band", "sig"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
        .localCheckpoint(eager=True)
    )
    register_materialized(cands)
    # verify ONLY candidate docs, pair-direct: each candidate doc's
    # (hashed) shingle set is collected once, each candidate pair joins
    # its two sets and takes an array intersection — 3 narrow stages on
    # candidate-sized data, vs re-running the full inverted-index
    # self-join machinery (per-doc counts, df filter, semi join, pair
    # groupBy) over the candidate shingles. Values match _pair_jaccard:
    # same 64-bit shingle hashing, same exact formula.
    cand_ids = (
        cands.select(F.col("doc_a").alias(id_col))
        .unionByName(cands.select(F.col("doc_b").alias(id_col)))
        .distinct()
    )
    sets_ = (
        sh.join(cand_ids, id_col, "left_semi")
        .groupBy(id_col)
        .agg(F.collect_list("shx").alias("shs"))
    )
    inter = F.size(F.array_intersect("sa", "sb"))
    verified = (
        cands.join(sets_.select(F.col(id_col).alias("doc_a"), F.col("shs").alias("sa")), "doc_a")
        .join(sets_.select(F.col(id_col).alias("doc_b"), F.col("shs").alias("sb")), "doc_b")
        .withColumn("inter", inter)
        .select(
            "doc_a",
            "doc_b",
            (
                F.col("inter").cast("double")
                / (F.size("sa") + F.size("sb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )
    return verified.filter(F.col("jaccard") >= threshold)


def simhash_table(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
) -> DataFrame:
    """(id, simhash): tf-weighted SimHash over whitespace tokens.

    A document-local Arrow-batched ``mapInPandas`` stage — tokenize,
    term-frequency dict, ``hashlib.md5`` per distinct token (bit-identical to the
    DuckDB oracle's ``('0x'||substring(md5(s),1,15))::BIGINT``), and a
    numpy (d × bits) vote matrix per doc. ZERO shuffles beyond the
    fan-out repartition; a per-partition token→hash cache amortizes
    md5 across documents (the corpus vocabulary is far smaller than
    the token stream). Profiled at sf1 against the alternatives this
    replaced (VERDICT r3 regression item): higher-order bit-vote fold
    2.3 s (interpreted per lambda step), explode→tf→60 flat SUM
    aggregates 2.1 s (wide agg buffers defeat the vectorized hash
    map), this 0.53 s vs DuckDB's 0.80 s — the rare case where the
    Arrow batch path beats whole-stage codegen because the work is
    per-row bit arithmetic, not relational.

    NULL-text docs are dropped, matching the oracle's unnest semantics.
    """
    import hashlib
    import re as _re

    from pyspark.sql.types import LongType, StructField, StructType

    id_field = docs.schema[id_col]
    schema = StructType(
        [
            StructField(id_field.name, id_field.dataType, id_field.nullable),
            StructField("simhash", LongType(), True),
        ]
    )
    shifts = np.arange(bits, dtype=np.uint64)

    def _simhash_batches(batches):
        cache: dict = {}

        def h60(tok: str) -> int:
            v = cache.get(tok)
            if v is None:
                v = int(hashlib.md5(tok.encode()).hexdigest()[:15], 16)
                cache[tok] = v
            return v

        for pdf in batches:
            out_ids: list = []
            out_sig: list = []
            for did, text in zip(pdf[id_col], pdf[text_col]):
                if text is None:
                    continue
                # replicate the ORACLE's tokenization exactly:
                # trim() strips SPACES only (both engines), the
                # split class is ASCII \s, and DuckDB's
                # string_split_regex keeps leading AND trailing
                # empty fields — Python re.split matches that;
                # Java's split() would DROP trailing empties, a
                # latent divergence the old JVM plan carried for
                # text ending in non-space whitespace
                toks = _re.split(
                    r"[ \t\n\x0b\f\r]+", text.strip(" ").lower()
                )
                tf: dict = {}
                for t in toks:
                    tf[t] = tf.get(t, 0) + 1
                hs = np.fromiter((h60(t) for t in tf), dtype=np.uint64, count=len(tf))
                ws = np.fromiter(tf.values(), dtype=np.int64, count=len(tf))
                votes = (ws[:, None] * (2 * ((hs[:, None] >> shifts) & 1).astype(np.int64) - 1)).sum(axis=0)
                out_ids.append(did)
                out_sig.append(int(((votes > 0).astype(np.uint64) << shifts).sum()))
            yield pd.DataFrame(
                {
                    id_col: pd.Series(out_ids, dtype=pdf[id_col].dtype),
                    "simhash": pd.Series(out_sig, dtype="int64"),
                }
            )

    return (
        _fan_out(docs, id_col)
        .select(id_col, text_col)
        .mapInPandas(_simhash_batches, schema=schema)
    )


def simhash_pairs(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 60,
    max_distance: int = 4,
) -> DataFrame:
    """(doc_a, doc_b, hamming ≤ max_distance) — lossless banded join.

    Pigeonhole: with the signature split into ``max_distance + 1``
    chunks, any pair differing in ≤ max_distance bits agrees exactly
    on ≥ 1 chunk — so joining on (chunk_index, chunk_value) finds every
    qualifying pair without an O(n²) cross join, and the post-filter
    on true hamming distance makes the result identical to brute force.

    Dedup WITHOUT a distinct(): a pair agreeing on several chunks
    would surface once per agreeing chunk, and on duplicate-heavy
    corpora the qualifying-pair set is itself data-scale (10⁸ rows at
    sf1), making a distinct() exchange the dominant cost. Instead each
    join row keeps the pair only when its chunk index is the FIRST
    agreeing chunk (no lower-indexed chunk of sh_a XOR sh_b is zero) —
    a static bit test per candidate, emitted exactly once, no second
    shuffle.
    """
    sh = simhash_table(docs, id_col=id_col, text_col=text_col, bits=bits)
    # both self-join legs reference the signature table: the lazy
    # checkpoint collapses the two plan clones of the tokenize+hash
    # signature subtree into one pass (measured 1.40 -> 0.93 s at
    # sf0.1); the kept rows are doc-scale (id, 8-byte simhash) — tiny
    # at any corpus size
    from ..runtime import register_materialized

    sh = sh.localCheckpoint(eager=False)
    register_materialized(sh)
    nchunks = max_distance + 1
    width = (bits + nchunks - 1) // nchunks
    mask = (1 << width) - 1
    chunks = sh.select(
        F.col(id_col),
        "simhash",
        F.explode(
            F.expr(
                f"transform(sequence(0, {nchunks - 1}),"
                f" c -> struct(c as c, shiftright(simhash, c * {width}) & {mask} as v))"
            )
        ).alias("x"),
    ).select(id_col, "simhash", F.col("x.c").alias("c"), F.col("x.v").alias("v"))
    a = chunks.select(
        F.col(id_col).alias("doc_a"), F.col("simhash").alias("sh_a"), "c", "v"
    )
    b = chunks.select(
        F.col(id_col).alias("doc_b"), F.col("simhash").alias("sh_b"), "c", "v"
    )
    x = F.col("sh_a").bitwiseXOR(F.col("sh_b"))

    def _chunk_nonzero(cc: int):
        return F.shiftright(x, cc * width).bitwiseAND(F.lit(mask)) != 0

    first_agree = F.when(F.col("c") == 0, F.lit(True))
    for c in range(1, nchunks):
        cond = _chunk_nonzero(0)
        for cc in range(1, c):
            cond = cond & _chunk_nonzero(cc)
        first_agree = first_agree.when(F.col("c") == c, cond)
    return (
        a.join(b, ["c", "v"])
        .filter((F.col("doc_a") < F.col("doc_b")) & first_agree)
        .select(
            "doc_a",
            "doc_b",
            F.bit_count(x).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_distance)
    )


def hashed_gram_table(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    extra_cols: tuple[str, ...] = (),
    distinct: bool = False,
    with_pos: bool = False,
    fan_out: bool = True,
) -> DataFrame:
    """xxhash64 word ``n``-grams of whitespace tokens, one row per gram
    occurrence: ``(id_col, *extra_cols[, pos], h)``. The single shared
    builder behind substring dedup and decontamination — grams never
    materialize as strings (multi-arg xxhash64 separates fields; the
    explode and any downstream join move 8-byte longs).

    Empty tokens are filtered EXPLICITLY, and SQL oracles must mirror
    it with ``list_filter``: Java's split drops trailing empty strings
    while DuckDB keeps them, so unfiltered tokenization diverges on
    trailing non-space whitespace — filtering both sides is the only
    whitespace-robust parity.

    ``distinct=True`` dedups grams within a doc (membership semantics);
    ``with_pos=True`` keeps the 0-based gram position (span/run
    semantics). Documents with fewer than ``n`` tokens yield no rows.
    """
    toks, hashes = _gram_hash_parts(
        docs,
        id_col=id_col,
        text_col=text_col,
        n=n,
        extra_cols=extra_cols,
        distinct=distinct,
        fan_out=fan_out,
    )
    # explode the EXPRESSION, not a named column: exploding an
    # attribute lets InferFiltersFromGenerate add `size(col) > 0` and
    # push it — with the whole tokenize+hash tree inlined — below the
    # fan-out exchange onto the (often 1-partition) raw scan,
    # computing every gram twice and once serially (measured: 0.6 s →
    # 30 s on contamination_check at sf0.1); the rule skips expensive
    # generator children, so the inline form keeps the old plan
    if with_pos:
        return toks.select(
            id_col, *extra_cols, F.posexplode(hashes).alias("pos", "h")
        )
    return toks.select(id_col, *extra_cols, F.explode(hashes).alias("h"))


def gram_hash_array_table(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    extra_cols: tuple[str, ...] = (),
    distinct: bool = False,
    fan_out: bool = True,
) -> DataFrame:
    """Per-document xxhash64 gram ARRAY — ``(id_col, *extra_cols,
    _harr array<bigint>)``, element i the hash of the gram at token
    offset i. The un-exploded sibling of :func:`hashed_gram_table`:
    span detection consumes it directly so the per-doc gram sequence
    never round-trips through an explode + re-group-by-document
    shuffle. Callers that explode this MUST checkpoint/persist first
    (``duplicate_span_table`` does) — see the generate-filter-pushdown
    note in :func:`hashed_gram_table`."""
    toks, hashes = _gram_hash_parts(
        docs,
        id_col=id_col,
        text_col=text_col,
        n=n,
        extra_cols=extra_cols,
        distinct=distinct,
        fan_out=fan_out,
    )
    return toks.select(id_col, *extra_cols, hashes.alias("_harr"))


def _gram_hash_parts(
    docs: DataFrame,
    *,
    id_col: str,
    text_col: str,
    n: int,
    extra_cols: tuple[str, ...],
    distinct: bool,
    fan_out: bool,
):
    """(tokenized frame, gram-hash-array Column) — the one shared
    construction behind the exploded and array-form gram tables."""
    if fan_out:
        docs = _fan_out(docs, id_col)
    toks = docs.select(
        id_col,
        *extra_cols,
        F.expr(
            rf"filter(split(trim(lower({text_col})), '\\s+'), x -> x <> '')"
        ).alias("_toks"),
    )
    args = ", ".join(f"_toks[i+{j}]" for j in range(n))
    body = f"transform(sequence(0, size(_toks)-{n}), i -> xxhash64({args}))"
    if distinct:
        body = f"array_distinct({body})"
    hashes = F.expr(
        f"CASE WHEN size(_toks) >= {n} THEN {body} ELSE array() END"
    )
    return toks, hashes


def duplicate_span_table(
    docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 5,
    min_count: int = 2,
    fan_out: bool = True,
    broadcast_max_dup_grams: int = 2_000_000,
) -> DataFrame:
    """Token-span-level exact duplication: per-document maximal runs of
    corpus-duplicated ``n``-grams (the distributed analogue of
    suffix-array substring dedup — Lee et al., "Deduplicating Training
    Data Makes Language Models Better"). Sits between ``line_dedup``
    (line-level) and the doc-level near-dup family: a span copied
    between two documents (or repeated inside one — also real
    duplication for LM training) is made entirely of ``n``-grams with
    corpus frequency ≥ ``min_count``, so maximal runs of such grams
    recover the duplicated substrings without ever building a suffix
    array.

    Returns ``(id_col, span_start, n_grams, n_tokens)`` — one row per
    maximal duplicated span; ``span_start`` is the 0-based token
    offset, ``n_tokens = n_grams + n - 1`` the tokens the span covers.

    Scale shape: gram positions stay 8-byte xxhash64 longs (never gram
    strings — a false span needs a 64-bit collision, the documented
    `_pair_jaccard` odds); per-doc gram HASH ARRAYS are materialized
    once (localCheckpoint) and feed both passes. The frequency count
    is the one corpus-scale shuffle (map-side-combining groupBy on the
    hash). Run detection then dispatches on the duplicated-gram-set
    size (the ``embedding_near_dup`` broadcast-gate idiom, both paths
    pytest-pinned row-identical):

    - set ≤ ``broadcast_max_dup_grams`` (2 M longs = 16 MB — the
      common case: the DUPLICATED-gram vocabulary is tiny next to the
      corpus): the sorted hash array is broadcast and an Arrow
      ``mapInPandas`` pass scans each doc's array with
      ``np.searchsorted``, emitting maximal runs directly — ZERO
      further shuffles (round-4: the per-gram semi join + per-doc
      window were 2 of the plan's 5 exchanges);
    - larger: the window path — posexplode, hash semi join against the
      dup set, ``pos - row_number`` islands keyed on the doc id.

    NOTE (not lazy): CONSTRUCTION runs the frequency-count job — the
    gate probe and the broadcast-set egress are fused into one
    ``limit(gate+1).toPandas()`` action (≤ ~16 MB + Arrow overhead on
    the driver), so calling this builds the dup-gram set even if the
    returned DataFrame is never executed. On the over-gate fallback
    the dup aggregation is recomputed once more by the semi join
    (bounded: it is the one corpus shuffle); keeping the probe eager
    and the fallback lazy beats checkpointing the corpus-scale
    aggregate for the common under-gate case.
    """
    from pyspark.sql.window import Window

    from ..runtime import register_materialized

    arr_tbl = gram_hash_array_table(
        docs, id_col=id_col, text_col=text_col, n=n, fan_out=fan_out
    ).localCheckpoint(eager=False)
    register_materialized(arr_tbl)
    dup = (
        arr_tbl.select(F.explode("_harr").alias("h"))
        .groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") >= min_count)
        .select("h")
    )
    # gate probe and egress in ONE job: pull at most max+1 hashes via
    # Arrow — under the gate that IS the broadcast set (a separate
    # count() would re-run the reduce stage for ~0.4 s at sf1); the
    # limit bounds driver memory on the over-gate (fallback) path
    probe = dup.limit(broadcast_max_dup_grams + 1).toPandas()["h"]
    if len(probe) <= broadcast_max_dup_grams:
        return _spans_broadcast(
            arr_tbl, probe.to_numpy(dtype="int64"), id_col=id_col, n=n
        )
    hits = arr_tbl.select(
        id_col, F.posexplode("_harr").alias("pos", "h")
    ).join(dup, "h", "left_semi")
    w = Window.partitionBy(id_col).orderBy("pos")
    runs = hits.withColumn("rid", F.col("pos") - F.row_number().over(w))
    return (
        runs.groupBy(id_col, "rid")
        .agg(
            F.min("pos").alias("span_start"),
            F.count(F.lit(1)).alias("n_grams"),
        )
        .withColumn("n_tokens", F.col("n_grams") + F.lit(n - 1))
        .drop("rid")
    )


def _spans_broadcast(
    arr_tbl: DataFrame, dup_hashes, *, id_col: str, n: int
) -> DataFrame:
    """Maximal-run emission with the duplicated-gram set (an int64
    ndarray, already driver-side via Arrow — py4j Row collect alone
    cost >1 s at sf1) broadcast as one sorted array: membership is
    ``np.searchsorted`` per doc (log m per gram, Arrow-batched), run
    boundaries are a diff on the boolean mask — no explode, no join,
    no window, no shuffle."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    spark = arr_tbl.sparkSession
    dup_sorted = np.sort(np.asarray(dup_hashes, dtype=np.int64))
    bc = spark.sparkContext.broadcast(dup_sorted)
    id_field = arr_tbl.schema[id_col]
    schema = StructType(
        [
            StructField(id_col, id_field.dataType, id_field.nullable),
            StructField("span_start", IntegerType(), False),
            StructField("n_grams", LongType(), False),
            StructField("n_tokens", LongType(), False),
        ]
    )

    def _empty_out():
        return pd.DataFrame(
            {
                id_col: pd.Series([], dtype=object),
                "span_start": pd.Series([], dtype="int32"),
                "n_grams": pd.Series([], dtype="int64"),
                "n_tokens": pd.Series([], dtype="int64"),
            }
        )

    def emit(batches):
        # whole-batch vectorization: one flat concatenate + ONE
        # searchsorted over every gram in the Arrow batch, run
        # boundaries forced at document edges via the offset vector —
        # no per-document Python loop (50k tiny-numpy iterations cost
        # ~1 core-second at sf1)
        ds = bc.value
        for pdf in batches:
            if not len(pdf) or not len(ds):
                yield _empty_out()
                continue
            pairs = [
                (did, np.asarray(a, dtype=np.int64))
                for did, a in zip(pdf[id_col], pdf["_harr"])
                if a is not None and len(a)
            ]
            if not pairs:
                yield _empty_out()
                continue
            doc_ids = np.array([p[0] for p in pairs])
            lens = np.array([len(p[1]) for p in pairs])
            flat = np.concatenate([p[1] for p in pairs])
            idx = np.searchsorted(ds, flat)
            idx[idx == len(ds)] = 0
            mask = ds[idx] == flat
            offsets = np.concatenate(([0], np.cumsum(lens)))
            prev = np.empty_like(mask)
            prev[0] = False
            prev[1:] = mask[:-1]
            prev[offsets[:-1]] = False  # a run never crosses a doc edge
            nxt = np.empty_like(mask)
            nxt[-1] = False
            nxt[:-1] = mask[1:]
            nxt[offsets[1:] - 1] = False
            run_starts = np.flatnonzero(mask & ~prev)
            run_ends = np.flatnonzero(mask & ~nxt)  # inclusive
            doc_idx = np.searchsorted(offsets, run_starts, side="right") - 1
            n_grams = run_ends - run_starts + 1
            yield pd.DataFrame(
                {
                    id_col: pd.Series(doc_ids[doc_idx]),
                    "span_start": pd.Series(
                        run_starts - offsets[doc_idx], dtype="int32"
                    ),
                    "n_grams": pd.Series(n_grams, dtype="int64"),
                    "n_tokens": pd.Series(n_grams + (n - 1), dtype="int64"),
                }
            )

    return arr_tbl.select(id_col, "_harr").mapInPandas(emit, schema=schema)


#: First-probe edge cap for :func:`connected_components` — large enough
#: that every gate-scale graph resolves in one collect, small enough
#: that the over-threshold (distributed) path never transfers more than
#: ~100k rows before switching.
_PROBE_CAP = 100_000


def connected_components(
    pairs: DataFrame,
    *,
    a_col: str = "doc_a",
    b_col: str = "doc_b",
    max_iter: int = 50,
    driver_threshold: int = 1_000_000,
) -> DataFrame:
    """(doc_id, component) for every doc appearing in a near-dup pair;
    component = the minimum doc id reachable through the pair graph.

    Two physical paths, identical results:

    - at most ``driver_threshold`` rows of ``pairs``: collect +
      union-find on the driver (near-dup graphs are minuscule next to
      the corpus — even at 100 TB a dup-pair list is broadcast-scale;
      iterating Spark jobs for it wastes whole seconds of fixed
      overhead per round). The gate counts RAW pair rows, before any
      symmetrizing or dedup, so callers must emit each pair once (one
      row per unordered pair, as every pair generator in this module
      does) — a caller emitting both directions halves the effective
      threshold;
    - larger: distributed min-label propagation to fixpoint —
      O(diameter) rounds, one join + one groupBy each, lineage cut per
      round (the standard big-graph CC shape).
    """
    from ..runtime import register_materialized

    # materialize the RAW pair list, not the doubled+distinct edge
    # table: union-find is direction- and duplicate-insensitive, so the
    # (always-taken at sane scales) driver path never needed the
    # reversed union or the distinct's exchange — round 10 measured the
    # old shape paying one extra shuffle + 2× the checkpointed rows on
    # every dedup_components/curation_summary call. The distributed
    # path rebuilds the symmetric edge table from these blocks below.
    pairs_ckpt = pairs.select(
        F.col(a_col).alias("src"), F.col(b_col).alias("dst")
    ).localCheckpoint(eager=True)
    register_materialized(pairs_ckpt)
    # one action decides the path AND fetches the driver-path edges: a
    # bounded limit-collect off the checkpointed blocks (the separate
    # count-then-collect paid a whole extra job per call — pure fixed
    # cost on every dedup/curation query). The +1 row proves overflow
    # without transferring more than the probe cap. Two-tier probe
    # (round-10 advice): the first collect is capped at
    # min(threshold, _PROBE_CAP)+1 so the OVERFLOW path of a large
    # threshold never ships ~threshold Row objects to the driver just
    # to discard them; only graphs in (probe_cap, threshold] pay a
    # second (still bounded) collect. The threshold gates raw PAIR
    # rows (pre-dedup) — every generator in this module emits each
    # pair once, so the gate is the same edge count as before.
    probe_cap = min(driver_threshold, _PROBE_CAP)
    head = pairs_ckpt.limit(probe_cap + 1).collect()
    if len(head) > probe_cap and probe_cap < driver_threshold:
        head = pairs_ckpt.limit(driver_threshold + 1).collect()
    if not head:
        return pairs.sparkSession.createDataFrame(
            [], "doc_id long, component long"
        )
    if len(head) <= driver_threshold:
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:  # path compression
                parent[x], x = root, parent[x]
            return root

        for r in head:
            ra, rb = find(r["src"]), find(r["dst"])
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        rows = [(x, find(x)) for x in sorted(parent)]
        return pairs.sparkSession.createDataFrame(
            rows, "doc_id long, component long"
        )
    edges = (
        pairs_ckpt.unionByName(
            pairs_ckpt.select(
                F.col("dst").alias("src"), F.col("src").alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    register_materialized(edges)
    labels = (
        edges.select(F.col("src").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
    )
    for _ in range(max_iter):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.id)
            .groupBy("src")
            .agg(F.min("component").alias("nmin"))
        )
        new_labels = (
            labels.join(neighbor_min, labels.id == neighbor_min.src, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce(F.col("nmin"), F.col("component"))
                ).alias("component"),
            )
            .localCheckpoint(eager=True)  # cut the iterative lineage
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select(F.col("id").alias("doc_id"), "component")


def _pair_out_schema(emb: DataFrame, id_col: str):
    from pyspark.sql.types import DoubleType, StructField, StructType

    return StructType(
        [
            StructField("id_a", emb.schema[id_col].dataType),
            StructField("id_b", emb.schema[id_col].dataType),
            StructField("cosine", DoubleType()),
        ]
    )


def _local_topk_pairs(q_ids, q_mat, c_ids, c_mat, k, block: int = 1024):
    """Top-k cross pairs (id_a < id_b) between two normalized blocks.

    The matmul is BLOCKED over query rows with a running top-k merge:
    peak memory is O(block × |c|), never O(|q| × |c|). The unblocked
    version OOMed the sf10 rehearsal — k-means cells skew on
    duplicate-heavy corpora (a 30k-row cell's full score matrix is
    30k² × 8 B ≈ 7 GB, and ``np.where`` + mask tripled it), and
    32 local workers each holding one such cell killed the box.
    Results are identical: top-k of blockwise top-ks is the global
    top-k because every candidate pair lives in exactly one block."""
    import numpy as np
    import pandas as pd

    best_ids_a, best_ids_b, best_cos = [], [], []
    for lo in range(0, len(q_ids), block):
        q_ids_b = q_ids[lo : lo + block]
        cos = q_mat[lo : lo + block] @ c_mat.T
        mask = q_ids_b[:, None] < c_ids[None, :]
        np.copyto(cos, -np.inf, where=~mask)
        flat = cos.ravel()
        take = min(k, int(mask.sum()))
        if take == 0:
            continue
        idx = np.argpartition(flat, -take)[-take:]
        r, c = np.unravel_index(idx, cos.shape)
        best_ids_a.append(q_ids_b[r])
        best_ids_b.append(c_ids[c])
        best_cos.append(flat[idx])
    if not best_cos:
        return None
    ids_a = np.concatenate(best_ids_a)
    ids_b = np.concatenate(best_ids_b)
    cos_all = np.concatenate(best_cos)
    if len(cos_all) > k:
        keep = np.argpartition(cos_all, -k)[-k:]
        ids_a, ids_b, cos_all = ids_a[keep], ids_b[keep], cos_all[keep]
    return pd.DataFrame({"id_a": ids_a, "id_b": ids_b, "cosine": cos_all})


def _topk_pairs_broadcast(emb, *, id_col, vec_col, k):
    """Exact path: broadcast the full normalized matrix, matmul per
    Arrow batch, emit k rows per batch, global TakeOrdered merge."""
    import numpy as np

    # Arrow toPandas: one columnar transfer instead of py4j-deserializing
    # n×dim float objects row by row (the collect() path is ~10× slower
    # for wide vector columns)
    pdf = emb.select(id_col, vec_col).toPandas()
    ids = pdf[id_col].to_numpy(dtype=np.int64)
    mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    sc = emb.sparkSession.sparkContext
    b_ids, b_mat = sc.broadcast(ids), sc.broadcast(mat_n)

    def _block_topk(batches):
        import numpy as np

        all_ids, all_mat = b_ids.value, b_mat.value
        for pdf in batches:
            if not len(pdf):
                continue
            q_ids = pdf[id_col].to_numpy(dtype=np.int64)
            q = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            q = q / np.linalg.norm(q, axis=1, keepdims=True)
            out = _local_topk_pairs(q_ids, q, all_ids, all_mat, k)
            if out is not None:
                yield out

    return emb.select(id_col, vec_col).mapInPandas(
        _block_topk, _pair_out_schema(emb, id_col)
    )


def _topk_pairs_bucketed(emb, *, id_col, vec_col, k, nlist, assign_probes):
    """Scale path: IVF cells as candidate buckets — NO full-table
    driver transfer. Quantizer fit on a bounded driver sample (the
    only driver-sized piece, same contract as ``ann.ivf_fit_centroids``);
    every vector is posted to its ``assign_probes`` nearest cells so
    boundary pairs still co-bucket; each cell computes its local top-k
    pairs with one matmul via ``applyInPandas``; a global TakeOrdered
    merges. Shuffle volume = probes × corpus rows on the cluster key —
    linear, executor-sized cells, no O(n²) pair table anywhere."""
    from .ann import ivf_assign_multi, ivf_fit_centroids

    import numpy as np

    centroids = ivf_fit_centroids(emb, vec_col=vec_col, nlist=nlist)
    posted = (
        ivf_assign_multi(
            emb.select(id_col, vec_col), centroids, vec_col=vec_col,
            probes=assign_probes,
        )
        .select(id_col, vec_col, F.explode("clusters").alias("cluster"))
    )

    def _cell_topk(pdf):
        import pandas as pd

        if len(pdf) < 2:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        ids = pdf[id_col].to_numpy(dtype=np.int64)
        mat = np.array([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        out = _local_topk_pairs(ids, mat, ids, mat, k)
        if out is None:
            return pd.DataFrame({"id_a": [], "id_b": [], "cosine": []})
        return out

    return (
        posted.groupBy("cluster")
        .applyInPandas(_cell_topk, _pair_out_schema(emb, id_col))
        # a pair posted to two shared cells appears twice with the same
        # score — dedup before the global merge
        .dropDuplicates(["id_a", "id_b"])
    )


def embedding_topk_pairs(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    k: int = 20,
    broadcast_threshold: int = 50_000,
    nlist: int | None = None,
    assign_probes: int = 2,
) -> DataFrame:
    """Top-k most cosine-similar vector pairs.

    Two physical paths behind a row-count gate (same shape as
    ``connected_components``):

    - ≤ ``broadcast_threshold`` rows: exact block nested-loop — the
      normalized matrix is broadcast (50k × 1536-d doubles ≈ 600 MB
      upper bound) and each Arrow batch does one matmul, emitting only
      its local top-k. The bound must price in that EVERY PYTHON
      WORKER deserializes its own copy of the broadcast — on a 32-slot
      executor that is 32×, not 1× (the sf10 rehearsal OOMed a 125 GB
      box at the old 200k threshold: 2.4 GB × 32 workers before any
      matmul memory).
    - larger: IVF-bucketed candidates + per-cell matmul rescore — the
      100 TB path. Nothing full-table ever reaches the driver; recall
      is governed by (nlist, assign_probes) multi-assignment.

    Reference parity: near-dup screening over the embedding store the
    reference keeps in Pinecone (``pipeline2.py:128-149`` upserts;
    no pairwise op exists there — this is engine-added capability).
    """
    n = emb.count()
    if n <= broadcast_threshold:
        pairs = _topk_pairs_broadcast(emb, id_col=id_col, vec_col=vec_col, k=k)
    else:
        pairs = _topk_pairs_bucketed(
            emb,
            id_col=id_col,
            vec_col=vec_col,
            k=k,
            # ~4k-row MEAN cells (multi-assignment posts probes × n
            # rows, so the divisor counts posted rows, not vectors);
            # skewed cells beyond the mean are handled by the blocked
            # matmul in _local_topk_pairs, not by this sizing
            nlist=nlist or max(16, (assign_probes * n) // 4096),
            assign_probes=assign_probes,
        )
    return (
        pairs.orderBy(F.desc("cosine"), F.asc("id_a"), F.asc("id_b"))
        .limit(k)
        .select("id_a", "id_b", F.round("cosine", 4).alias("cosine"))
    )


def semdedup(
    emb: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    nlist: int | None = None,
    seed: int = 42,
    keep_low: bool = False,
) -> DataFrame:
    """Semantic deduplication (SemDeDup, Abbas et al. 2023,
    arXiv:2303.09540): k-means-cluster the embedding space, then inside
    each cluster drop every vector whose cosine similarity to an
    already-kept vector exceeds ``threshold``.

    Returns (id_col, cluster, centroid_sim, is_kept) for every input
    row — callers filter ``is_kept`` for the survivor set; emitting the
    full accounting keeps the "no silent shrinkage" rule.

    Keep rule (deterministic): cluster members are visited in
    DESCENDING similarity-to-centroid order (id ascending as the
    tiebreak) and a member is kept iff no previously-kept member is
    more than ``threshold``-similar. The paper keeps LOW-centroid-
    similarity examples to bias kept data toward cluster edges —
    ``keep_low=True`` flips the visit order to ascending centroid
    similarity for exactly that bias.

    Scale shape: the quantizer fits on a bounded driver-side sample
    (``ivf_fit_centroids``); assignment is a distributed pandas-UDF
    matmul; the quadratic pairwise work happens CLUSTER-LOCALLY inside
    ``applyInPandas`` — per-task memory is one cluster's matrix
    (n/nlist × dim on average; size nlist so cells stay executor-sized,
    the same budget rule as ``embedding_topk_pairs``). Nothing pairwise
    ever crosses the shuffle: only (id, cluster) keys move.
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    from .ann import ivf_assign, ivf_fit_centroids

    # the count only feeds the nlist default — don't pay a corpus scan
    # when the caller already chose a cell count
    k = nlist if nlist is not None else max(8, emb.count() // 4096)
    cents = ivf_fit_centroids(emb, vec_col=vec_col, nlist=k, seed=seed)
    cents_norm = cents / np.maximum(
        np.linalg.norm(cents, axis=1, keepdims=True), 1e-12
    )
    assigned = ivf_assign(emb, cents, vec_col=vec_col).select(
        id_col, vec_col, "cluster"
    )

    out_schema = StructType(
        [
            StructField(id_col, LongType(), False),
            StructField("cluster", IntegerType(), False),
            StructField("centroid_sim", DoubleType(), False),
            StructField("is_kept", BooleanType(), False),
        ]
    )

    def _dedup_cluster(pdf: pd.DataFrame) -> pd.DataFrame:
        cluster = int(pdf["cluster"].iloc[0])
        mat = np.array(
            [np.asarray(v, dtype=np.float64) for v in pdf[vec_col]]
        )
        mat /= np.maximum(np.linalg.norm(mat, axis=1, keepdims=True), 1e-12)
        csim = mat @ cents_norm[cluster]
        order = np.lexsort(
            (pdf[id_col].to_numpy(), csim if keep_low else -csim)
        )
        kept_rows: list[int] = []
        kept = np.zeros(len(pdf), dtype=bool)
        for i in order:
            if kept_rows:
                sims = mat[kept_rows] @ mat[i]
                if sims.max() > threshold:
                    continue
            kept[i] = True
            kept_rows.append(i)
        return pd.DataFrame(
            {
                id_col: pdf[id_col].to_numpy(),
                "cluster": np.full(len(pdf), cluster, dtype="int32"),
                "centroid_sim": csim,
                "is_kept": kept,
            }
        )

    return assigned.groupBy("cluster").applyInPandas(_dedup_cluster, out_schema)
