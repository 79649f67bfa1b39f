"""Near-dup dedup operators vs brute-force python/numpy baselines.

The banded/LSH plans must produce results identical to (MinHash: a
verified subset of; SimHash: exactly) the quadratic baselines — these
tests compute the baselines in-process on the sf0.001 documents table.
"""

from __future__ import annotations

import hashlib
import re
from itertools import combinations

import numpy as np
import pytest

from assignment3_qachatapplication_vectorembeddings_spark.operators.dedup import (
    embedding_topk_pairs,
    minhash_lsh_pairs,
    ngram_jaccard_pairs,
    simhash_pairs,
    simhash_table,
)
from assignment3_qachatapplication_vectorembeddings_spark.sources.tables import load_table


def _h60(s: str) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)


def _shingles(text: str, n: int = 3) -> set[str]:
    toks = re.split(r"\s+", text.strip().lower())
    if len(toks) < n:
        return set()
    return {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}


@pytest.fixture(scope="module")
def docs_pd(spark, sf_dir):
    return (
        load_table(spark, sf_dir, "documents").select("doc_id", "text").toPandas()
    )


@pytest.fixture(scope="module")
def jaccard_baseline(docs_pd):
    sh = {r.doc_id: _shingles(r.text) for r in docs_pd.itertuples()}
    out = {}
    for a, b in combinations(sorted(sh), 2):
        sa, sb = sh[a], sh[b]
        inter = len(sa & sb)
        if inter:
            out[(a, b)] = inter / (len(sa) + len(sb) - inter)
    return out


def test_ngram_jaccard_matches_bruteforce(spark, sf_dir, jaccard_baseline):
    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(docs, threshold=0.8).collect()
    }
    want = {p: j for p, j in jaccard_baseline.items() if j >= 0.8}
    assert set(got) == set(want)
    for p in want:
        assert got[p] == pytest.approx(want[p], abs=1e-12)


def test_minhash_lsh_finds_all_planted_dups(spark, sf_dir, jaccard_baseline):
    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["doc_a"], r["doc_b"]) for r in minhash_lsh_pairs(docs, threshold=0.8).collect()
    }
    want = {p for p, j in jaccard_baseline.items() if j >= 0.8}
    # verified-LSH output is a subset of exact pairs by construction;
    # on the planted ~0.99-Jaccard dups recall must be total
    assert got == want


def test_simhash_signature_matches_python(spark, sf_dir, docs_pd):
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_table(load_table(spark, sf_dir, "documents")).collect()
    }
    for r in docs_pd.itertuples():
        toks = re.split(r"\s+", r.text.strip().lower())
        tf: dict[str, int] = {}
        for t in toks:
            tf[t] = tf.get(t, 0) + 1
        votes = [0] * 60
        for t, w in tf.items():
            h = _h60(t)
            for b in range(60):
                votes[b] += w if (h >> b) & 1 else -w
        want = sum(1 << b for b in range(60) if votes[b] > 0)
        assert got[r.doc_id] == want, r.doc_id


def test_simhash_banded_equals_bruteforce(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    sig = {r["doc_id"]: r["simhash"] for r in simhash_table(docs).collect()}
    brute = {
        (a, b, bin(sig[a] ^ sig[b]).count("1"))
        for a, b in combinations(sorted(sig), 2)
        if bin(sig[a] ^ sig[b]).count("1") <= 4
    }
    banded = {
        (r["doc_a"], r["doc_b"], r["hamming"])
        for r in simhash_pairs(docs, max_distance=4).collect()
    }
    assert banded == brute


def test_embedding_topk_pairs_matches_numpy(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    pdf = emb.select("vec_id", "embedding").toPandas()
    ids = pdf["vec_id"].to_numpy()
    m = np.array([np.asarray(v, dtype=np.float64) for v in pdf["embedding"]])
    mn = m / np.linalg.norm(m, axis=1, keepdims=True)
    cos = mn @ mn.T
    cand = [
        (ids[i], ids[j], cos[i, j])
        for i in range(len(ids))
        for j in range(len(ids))
        if ids[i] < ids[j]
    ]
    cand.sort(key=lambda t: (-t[2], t[0], t[1]))
    want = [(a, b, round(c, 4)) for a, b, c in cand[:10]]
    got = [
        (r["id_a"], r["id_b"], r["cosine"])
        for r in embedding_topk_pairs(emb, k=10).collect()
    ]
    assert [(a, b) for a, b, _ in got] == [(a, b) for a, b, _ in want]
    for (_, _, g), (_, _, w) in zip(got, want):
        assert g == pytest.approx(w, abs=1e-4)


def test_embedding_topk_pairs_bucketed_path(spark, sf_dir, monkeypatch):
    """Above the broadcast threshold the IVF-bucketed path must (a)
    never pull more than a bounded sample to the driver and (b) still
    find the genuinely-near pairs the exact path finds."""
    try:  # Spark 4: the concrete class lives under sql.classic
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - Spark 3.x fallback
        from pyspark.sql import DataFrame

    emb = load_table(spark, sf_dir, "embeddings")
    n = emb.count()
    exact = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_topk_pairs(emb, k=10).collect()
    }

    sample_cap = max(64, n // 2)
    real_topandas = DataFrame.toPandas
    transfers = []

    def spy(self):
        pdf = real_topandas(self)
        transfers.append(len(pdf))
        return pdf

    monkeypatch.setattr(DataFrame, "toPandas", spy)
    got = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in embedding_topk_pairs(
            emb, k=10, broadcast_threshold=0, nlist=8, assign_probes=2
        ).collect()
    }
    # quantizer-sample transfer only — nothing full-table on the driver
    assert transfers and all(t <= 100_000 for t in transfers)
    assert max(transfers) < n or n <= 100_000
    # near-dup recall: every exact pair with cosine ≥ 0.99 (the planted
    # dups) must co-bucket under multi-assignment and be found
    planted = {p for p, c in exact.items() if c >= 0.99}
    assert planted <= set(got)
    for p in got:
        assert p in exact or got[p] <= max(exact.values())


def test_local_topk_pairs_blocking_invariant():
    """The blocked matmul (sf10 OOM fix) must return the same top-k as
    an unblocked full-matrix pass, for any block size — including
    blocks that straddle the best pairs and a block of 1."""
    from assignment3_qachatapplication_vectorembeddings_spark.operators.dedup import (
        _local_topk_pairs,
    )

    rng = np.random.default_rng(7)
    n, dim, k = 53, 16, 9
    ids = rng.choice(10_000, size=n, replace=False).astype(np.int64)
    mat = rng.standard_normal((n, dim))
    mat /= np.linalg.norm(mat, axis=1, keepdims=True)
    # plant two near-identical pairs so the top of the ranking is real
    mat[11] = mat[40] + 1e-6
    mat[11] /= np.linalg.norm(mat[11])
    cos = mat @ mat.T
    brute = sorted(
        ((cos[i, j], min(ids[i], ids[j]), max(ids[i], ids[j]))
         for i in range(n) for j in range(n) if ids[i] < ids[j]),
        reverse=True,
    )[:k]
    want = {(a, b): round(c, 9) for c, a, b in brute}
    for block in (1, 7, 64, 1024):
        out = _local_topk_pairs(ids, mat, ids, mat, k, block=block)
        got = {
            (min(a, b), max(a, b)): round(c, 9)
            for a, b, c in zip(out["id_a"], out["id_b"], out["cosine"])
        }
        assert got == want, f"block={block}"


# -- SemDeDup (Abbas et al. 2023) ------------------------------------------


def test_semdedup_keep_rule_and_accounting(spark):
    from assignment3_qachatapplication_vectorembeddings_spark.operators.dedup import (
        semdedup,
    )

    # two tight planted groups + one isolated vector; 8-d unit-ish rows
    def v(base, eps):
        return [float(b + e) for b, e in zip(base, eps)]

    a = [1.0, 0, 0, 0, 0, 0, 0, 0]
    b = [0, 1.0, 0, 0, 0, 0, 0, 0]
    c = [0, 0, 1.0, 0, 0, 0, 0, 0]
    rows = [
        (1, v(a, [0.00] * 8)),
        (2, v(a, [0.01] * 8)),   # ~dup of 1
        (3, v(a, [0.02] * 8)),   # ~dup of 1/2
        (4, v(b, [0.00] * 8)),
        (5, v(b, [0.015] * 8)),  # ~dup of 4
        (6, v(c, [0.0] * 8)),    # isolated
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    marked = semdedup(emb, threshold=0.98, nlist=3, seed=7)
    got = {r["vec_id"]: r for r in marked.collect()}

    # exhaustive accounting: every input id appears exactly once
    assert sorted(got) == [1, 2, 3, 4, 5, 6]
    # each planted near-dup group keeps exactly one member; the isolated
    # vector survives
    kept = {i for i, r in got.items() if r["is_kept"]}
    assert len(kept & {1, 2, 3}) == 1
    assert len(kept & {4, 5}) == 1
    assert 6 in kept
    # determinism: identical second run
    again = {r["vec_id"]: r["is_kept"] for r in semdedup(
        emb, threshold=0.98, nlist=3, seed=7).collect()}
    assert again == {i: r["is_kept"] for i, r in got.items()}


def test_semdedup_threshold_one_keeps_everything(spark):
    from assignment3_qachatapplication_vectorembeddings_spark.operators.dedup import (
        semdedup,
    )

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0, 0.0]) for i in range(10)],
        "vec_id long, embedding array<double>",
    )
    # cosine <= 1 strictly for distinct directions; threshold 1.0 never
    # trips, so nothing is dropped regardless of clustering
    marked = semdedup(emb, threshold=1.0, nlist=2, seed=1)
    assert marked.filter("NOT is_kept").count() == 0
    assert marked.count() == 10


def test_simhash_table_drops_null_text(spark):
    from assignment3_qachatapplication_vectorembeddings_spark.operators.dedup import (
        simhash_table,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, None), (3, "")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r["simhash"] for r in simhash_table(docs).collect()}
    # NULL text vanishes (matching the explode plan and the SQL oracle's
    # unnest); empty text still signs (hash of the single '' token)
    assert set(rows) == {1, 3}
    assert rows[1] is not None and rows[3] is not None


@pytest.mark.parametrize("seed", [3, 17, 92])
def test_simhash_banding_lossless_vs_brute_force(spark, seed):
    """The pigeonhole band join must find EXACTLY the pairs brute-force
    hamming comparison finds — banding is a join strategy, not an
    approximation."""
    import itertools
    import random

    from assignment3_qachatapplication_vectorembeddings_spark.operators.dedup import (
        simhash_pairs,
        simhash_table,
    )

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(40)]
    base = rng.choices(vocab, k=60)
    docs = []
    for i in range(20):
        words = list(base)
        # small mutations so some pairs land within hamming<=4
        for _ in range(rng.randint(0, 6)):
            words[rng.randrange(len(words))] = rng.choice(vocab)
        docs.append((i, " ".join(words)))
    df = spark.createDataFrame(docs, "doc_id long, text string")

    sigs = {r["doc_id"]: r["simhash"] for r in simhash_table(df).collect()}
    want = {
        (a, b)
        for a, b in itertools.combinations(sorted(sigs), 2)
        if bin(sigs[a] ^ sigs[b]).count("1") <= 4
    }
    got = {
        (r["doc_a"], r["doc_b"])
        for r in simhash_pairs(df, max_distance=4).collect()
    }
    assert got == want


@pytest.mark.parametrize("seed", [5, 41])
def test_minhash_verified_pairs_subset_of_exact_and_finds_identicals(spark, seed):
    """LSH candidates are approximate, but (a) every VERIFIED pair must
    also appear in the exact n-gram Jaccard pairs at the same threshold
    (the verify stage computes true Jaccard), and (b) an exact duplicate
    (identical text → identical signatures in every band) can never be
    missed."""
    import random

    from assignment3_qachatapplication_vectorembeddings_spark.operators.dedup import (
        minhash_lsh_pairs,
        ngram_jaccard_pairs,
    )

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(30)]
    docs = []
    for i in range(15):
        docs.append((i, " ".join(rng.choices(vocab, k=50))))
    docs.append((100, docs[0][1]))  # planted exact duplicate of doc 0
    df = spark.createDataFrame(docs, "doc_id long, text string")

    exact = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in ngram_jaccard_pairs(df, threshold=0.8).collect()
    }
    lsh = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in minhash_lsh_pairs(df, threshold=0.8).collect()
    }
    assert set(lsh) <= set(exact)
    for pair, j in lsh.items():
        assert abs(j - exact[pair]) < 1e-12  # verify stage = true Jaccard
    assert (0, 100) in lsh  # identical docs always collide in every band


def test_duplicate_span_table_hand_golden(spark):
    """Hand-enumerable span cases: a cross-doc shared run, a within-doc
    repeat (two separated 1-gram spans), and a clean doc."""
    from assignment3_qachatapplication_vectorembeddings_spark.operators.dedup import (
        duplicate_span_table,
    )

    docs = spark.createDataFrame(
        [
            # A and B share tokens "a b c d e f" -> grams "a b c d e",
            # "b c d e f": ONE maximal span of 2 grams / 6 tokens each
            (1, "a b c d e f g h"),
            (2, "x a b c d e f y"),
            # "p q r s t" occurs at token 0 and 5 -> two separated
            # spans of 1 gram / 5 tokens
            (3, "p q r s t p q r s t"),
            # no duplicated grams
            (4, "one two three four five six"),
            # short doc: no grams at all
            (5, "a b"),
        ],
        "doc_id long, text string",
    )
    rows = duplicate_span_table(docs, n=5, min_count=2).collect()
    got = sorted((r.doc_id, r.span_start, r.n_grams, r.n_tokens) for r in rows)
    assert got == [
        (1, 0, 2, 6),   # "a b c d e f" starts at token 0 in doc 1
        (2, 1, 2, 6),   # ... and at token 1 in doc 2
        (3, 0, 1, 5),
        (3, 5, 1, 5),
    ]


def test_duplicate_span_min_count_and_empty(spark):
    from assignment3_qachatapplication_vectorembeddings_spark.operators.dedup import (
        duplicate_span_table,
    )

    docs = spark.createDataFrame(
        [(1, "a b c d e f"), (2, "a b c d e f"), (3, "a b c d e f")],
        "doc_id long, text string",
    )
    # every gram occurs 3x; min_count=4 filters everything
    assert duplicate_span_table(docs, min_count=4).count() == 0
    spans = duplicate_span_table(docs, min_count=3).collect()
    # each doc: one span covering both grams (6 tokens)
    assert sorted((r.doc_id, r.n_grams, r.n_tokens) for r in spans) == [
        (1, 2, 6), (2, 2, 6), (3, 2, 6),
    ]


@pytest.mark.parametrize("seed", [7, 23, 61])
def test_duplicate_spans_match_bruteforce(spark, seed):
    """Random small-vocab docs (dense gram collisions) vs an in-process
    brute-force span finder — counts must match exactly."""
    import random
    from collections import Counter

    from assignment3_qachatapplication_vectorembeddings_spark.operators.dedup import (
        duplicate_span_table,
    )

    n, min_count = 4, 2
    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(8)]  # tiny vocab -> many dup grams
    docs = [(i, " ".join(rng.choices(vocab, k=rng.randint(0, 30))))
            for i in range(40)]

    # brute force: corpus gram frequencies, then maximal runs per doc
    freq = Counter()
    toks = {}
    for did, text in docs:
        t = [w for w in text.strip().lower().split() if w]
        toks[did] = t
        for i in range(len(t) - n + 1):
            freq[tuple(t[i:i + n])] += 1
    expected = set()
    for did, t in toks.items():
        dup = [freq[tuple(t[i:i + n])] >= min_count
               for i in range(len(t) - n + 1)]
        i = 0
        while i < len(dup):
            if dup[i]:
                j = i
                while j + 1 < len(dup) and dup[j + 1]:
                    j += 1
                expected.add((did, i, j - i + 1, j - i + n))
                i = j + 1
            i += 1

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        (r.doc_id, r.span_start, r.n_grams, r.n_tokens)
        for r in duplicate_span_table(df, n=n, min_count=min_count).collect()
    }
    assert got == expected


def test_semdedup_keep_low_flips_survivor_choice(spark):
    """keep_low=True visits members in ASCENDING centroid similarity,
    so within a near-dup group the cluster-EDGE member survives
    instead of the most central one (the paper's bias)."""
    from assignment3_qachatapplication_vectorembeddings_spark.operators.dedup import (
        semdedup,
    )

    # one cluster (nlist=1), three mutual near-dups (every pairwise
    # cosine > 0.98) with REAL centroid-sim margins (~3e-3, not fp
    # noise): the centroid (mean of the three) is closest to id 1,
    # then id 3, then id 2. keep-high visits 1 first and drops 2 and
    # 3; keep_low visits 2 (the cluster edge) first and drops 1 and 3.
    rows = [
        (1, [1.0, 0.0, 0.0, 0.0]),
        (2, [0.989, 0.148, 0.0, 0.0]),
        (3, [0.998, -0.02, 0.0, 0.0]),
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    hi = {r["vec_id"]: r["is_kept"]
          for r in semdedup(emb, threshold=0.98, nlist=1, seed=3).collect()}
    lo = {r["vec_id"]: r["is_kept"]
          for r in semdedup(emb, threshold=0.98, nlist=1, seed=3,
                            keep_low=True).collect()}
    assert hi == {1: True, 2: False, 3: False}
    assert lo == {1: False, 2: True, 3: False}


def test_simhash_whitespace_edges_match_duckdb_oracle(spark):
    """The md5-mode Arrow path re-implements Spark's trim/split/lower
    expression semantics in Python — tabs, trailing newlines, leading
    separators, and empty text are exactly where Python's strip()/
    re.split() diverge from the JVM, so pin each against the real
    DuckDB oracle CTE the correctness gate uses."""
    import duckdb

    from assignment3_qachatapplication_vectorembeddings_spark.plans.corpus import _SIMHASH_CTE

    rows = [
        (1, "plain words here"),
        (2, "\ttab first"),          # Spark trim() keeps the tab → leading "" token
        (3, "trailing newline\n"),   # Java split drops the trailing empty
        (4, "  spaces  only  "),
        (5, ""),                     # single empty token, md5("")
        (6, "\n"),                   # leading "" token only
        (7, "a  b\t\tc\r\nd"),
        (8, None),                   # dropped entirely
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: r["simhash"]
        for r in simhash_table(docs, bits=60).collect()
    }
    con = duckdb.connect()
    con.execute("CREATE TABLE documents AS SELECT * FROM (VALUES "
                + ",".join("(%d, %s)" % (i, "NULL" if t is None else "'" + t.replace("\\", "\\\\").replace("'", "''").replace("\n", "' || chr(10) || '").replace("\t", "' || chr(9) || '").replace("\r", "' || chr(13) || '") + "'") for i, t in rows)
                + ") AS t(doc_id, text)")
    want = dict(con.execute(_SIMHASH_CTE + "SELECT doc_id, simhash FROM simh").fetchall())
    assert got == want


def test_dup_spans_broadcast_and_window_paths_identical(spark):
    """Cost-dispatch pin: the broadcast searchsorted path and the
    explode+window path must emit the same span rows."""
    from assignment3_qachatapplication_vectorembeddings_spark.operators.dedup import (
        duplicate_span_table,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    rows = [
        (1, base + " unique1 tail one"),
        (2, base + " unique2 tail two"),  # shares the 10-token prefix
        (3, "totally different words with no shared five gram at all"),
        (4, base + " " + base),  # internal repetition too
        (5, "short text"),  # < n tokens -> no grams
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    fast = duplicate_span_table(docs, n=5, min_count=2).collect()
    slow = duplicate_span_table(
        docs, n=5, min_count=2, broadcast_max_dup_grams=0
    ).collect()
    key = lambda r: (r["doc_id"], r["span_start"], r["n_grams"], r["n_tokens"])
    assert sorted(map(key, fast)) == sorted(map(key, slow))
    assert len(fast) > 0
