"""Persisted inverted index (SyncedTextIndex): scorer parity, partition
pruning, the bucket count the index was built with, and staleness."""

from __future__ import annotations

import io
import contextlib

import pytest

from assignment3_qachatapplication_vectorembeddings_spark.functions.embedding import (
    HashingEmbedder,
)
from assignment3_qachatapplication_vectorembeddings_spark.functions.hashing import (
    term_bucket,
)
from assignment3_qachatapplication_vectorembeddings_spark.operators.index_maintenance import (
    VectorIndex,
)
from assignment3_qachatapplication_vectorembeddings_spark.operators.index_sync import (
    StaleIndexError,
    SyncedTextIndex,
)
from assignment3_qachatapplication_vectorembeddings_spark.operators.text_search import (
    bm25_scores,
)

TERMS = ["spark", "window", "the"]
BUCKETS = 16
EMB = HashingEmbedder(dim=8)

ROWS = [
    (f"{form}_{i}", form, f"{form} chunk {i} about {topic}")
    for form, topic in [
        ("formA", "the spark window functions"),
        ("formB", "the join strategies"),
        ("formC", "vector search over spark"),
    ]
    for i in range(6)
]


def _updates(spark, rows):
    data = [(i, EMB.embed_one(text), title, text) for i, title, text in rows]
    return spark.createDataFrame(
        data, "id string, vector array<float>, title string, text string"
    )


def _build(spark, root):
    vi = VectorIndex(spark, f"{root}/primary")
    vi.upsert(_updates(spark, ROWS))
    tix = SyncedTextIndex(vi, f"{root}/tix", buckets=BUCKETS)
    tix.build()
    return vi, tix


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    """Read-only index shared by the serving tests."""
    return _build(spark, str(tmp_path_factory.mktemp("tix")))


def _inplan(vi, terms):
    return {
        r["id"]: r["score"]
        for r in bm25_scores(vi.read(), terms, id_col="id", text_col="text")
        .collect()
    }


def _served(idx, terms):
    return {r["id"]: r["score"] for r in idx.bm25(terms).collect()}


def _assert_near(got, expect):
    assert set(got) == set(expect) and expect  # same matched-doc set
    for d, s in expect.items():
        # float sum order differs (per-term expression sum vs postings
        # groupBy), so parity is near-exact, not bitwise
        assert abs(got[d] - s) < 1e-9 * max(1.0, abs(s))


def test_index_scores_match_in_plan_scorer(built):
    vi, tix = built
    _assert_near(_served(tix, TERMS), _inplan(vi, TERMS))


def test_query_prunes_to_term_buckets(built):
    _vi, tix = built
    df = tix.bm25(["spark"])
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    plan = buf.getvalue()
    assert "PartitionFilters" in plan
    # the postings scan must carry a bucket filter on the term's own
    # bucket, not read all 16
    pf = plan.split("PartitionFilters", 1)[1][:200]
    assert "bucket" in pf
    assert str(term_bucket("spark", BUCKETS)) in pf


def test_empty_terms_rejected(built):
    _vi, tix = built
    with pytest.raises(ValueError, match="at least one term"):
        tix.bm25(["", ""])


def test_buckets_read_from_sidecar_when_omitted(built):
    """A handle opened without ``buckets`` (default 64) serves the
    16-bucket index from the count recorded in its meta."""
    vi, tix = built
    handle = SyncedTextIndex(vi, tix.path)
    assert handle.buckets != BUCKETS
    _assert_near(_served(handle, TERMS), _inplan(vi, TERMS))


def test_bucket_mismatch_raises_not_silent_empty(spark, tmp_path):
    """A handle whose ``buckets`` differs from the built count never
    yields a silently empty (wrongly pruned) result: serving prunes by
    the meta's count, and refresh/compact through that handle write
    new segments with the meta's count too, so the refreshed docs stay
    findable."""
    vi, _tix = _build(spark, str(tmp_path))
    handle = SyncedTextIndex(vi, f"{tmp_path}/tix", buckets=32)
    _assert_near(_served(handle, TERMS), _inplan(vi, TERMS))

    vi.upsert(_updates(spark, [("new_0", "formNew", "quantum spark leap")]))
    handle.refresh()
    assert handle._vlog.latest()["buckets"] == BUCKETS
    got = _served(handle, ["quantum", "spark"])
    assert "new_0" in got
    _assert_near(got, _inplan(vi, ["quantum", "spark"]))

    handle.compact()
    _assert_near(_served(handle, TERMS), _inplan(vi, TERMS))


def test_stale_index_detected_by_data_version(spark, tmp_path):
    vi, tix = _build(spark, str(tmp_path))
    built_at = tix.stats()["data_version"]
    # matching snapshot: serves
    assert not tix.is_stale()
    assert tix.bm25(["spark"]).count() > 0
    # newer snapshot committed since the build: fails fast
    vi.upsert(_updates(spark, [("new_0", "formNew", "quantum leap")]))
    assert tix.is_stale()
    with pytest.raises(StaleIndexError):
        tix.bm25(["spark"])
    # explicit serve-stale still answers from the indexed snapshot
    ids = {r["id"] for r in tix.bm25(["quantum"], on_stale="serve").collect()}
    assert "new_0" not in ids
    assert tix.stats()["data_version"] == built_at
