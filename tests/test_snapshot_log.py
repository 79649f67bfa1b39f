"""Reader leases vs vacuum, once per index kind: the primary
``VectorIndex`` (manifests) and a derived index (``SyncedTextIndex``
metas) share one versioned-snapshot log, so each protocol case runs
against both."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from assignment3_qachatapplication_vectorembeddings_spark.functions.embedding import (
    HashingEmbedder,
)
from assignment3_qachatapplication_vectorembeddings_spark.operators.index_fsck import (
    fsck_derived,
    fsck_primary,
)
from assignment3_qachatapplication_vectorembeddings_spark.operators.index_maintenance import (
    VectorIndex,
)
from assignment3_qachatapplication_vectorembeddings_spark.operators.index_sync import (
    SyncedTextIndex,
)

EMB = HashingEmbedder(dim=16)
BASE_ROWS = [
    (f"form{f}_{i}", f"form{f}", f"form{f} chunk {i}")
    for f in "AB"
    for i in range(3)
]


def _rows(spark, rows):
    return spark.createDataFrame(
        [(i, EMB.embed_one(text), title, text) for i, title, text in rows],
        "id string, vector array<float>, title string, text string",
    )


def _new_row(spark, n):
    return _rows(spark, [(f"new_{n}", "formNew", f"new row {n}")])


class _Primary:
    """Lease and vacuum the primary's manifests."""

    def __init__(self, spark, root):
        self.spark = spark
        self.idx = VectorIndex(spark, f"{root}/primary")
        self.idx.upsert(_rows(spark, BASE_ROWS))
        self.store = self.idx

    def twin(self):
        """A second handle on the same tree with its own filesystem
        object, so a hook on ``store`` does not see its calls."""
        return VectorIndex(self.spark, self.idx.path)

    def commit(self, handle, n):
        handle.upsert(_new_row(self.spark, n))

    @staticmethod
    def version(leased):
        return leased.version

    @staticmethod
    def rows(leased):
        return leased.read().count()

    def fsck(self):
        return fsck_primary(self.idx)


class _Derived:
    """Lease and vacuum a derived (text) index's metas."""

    def __init__(self, spark, root):
        self.spark = spark
        self.store = VectorIndex(spark, f"{root}/primary")
        self.store.upsert(_rows(spark, BASE_ROWS))
        self.idx = SyncedTextIndex(self.store, f"{root}/tix", buckets=4)
        self.idx.build()

    def twin(self):
        return SyncedTextIndex(
            VectorIndex(self.spark, self.store.path), self.idx.path, buckets=4
        )

    def commit(self, handle, n):
        handle.vindex.upsert(_new_row(self.spark, n))
        handle.refresh()

    @staticmethod
    def version(leased):
        return leased["meta_version"]

    def rows(self, leased):
        return sum(
            df.filter(F.col("title").isin(ts)).count()
            for df, ts, _rv in self.idx._doclens_frames(leased)
        )

    def fsck(self):
        return fsck_derived(self.idx)


@pytest.fixture(params=["primary", "derived"])
def kind(request, spark, tmp_path):
    return {"primary": _Primary, "derived": _Derived}[request.param](
        spark, str(tmp_path)
    )


def test_reader_lease_pin_then_verify_interleaved_vacuum(kind):
    """The load-to-lease race, deterministically interleaved: a commit
    plus a zero-retention vacuum land BETWEEN the lease's load and its
    lease-file write (a one-shot hook on the store's create). The
    verify must see the pinned version gone and re-pin the newest one,
    and since vacuum deletes snapshots before data dirs, the re-pinned
    snapshot's data is fully scannable."""
    twin = kind.twin()
    orig = kind.store._create_exclusive
    fired = {}

    def hook(path, content):
        if path.startswith(kind.idx.lease_dir + "/") and not fired:
            fired["pinned"] = kind.idx._vlog.versions()[-1]
            kind.commit(twin, 1)
            twin.vacuum(keep_versions=1, min_age_sec=0)
        return orig(path, content)

    kind.store._create_exclusive = hook
    try:
        with kind.idx.reader_lease() as leased:
            assert fired
            assert fired["pinned"] not in kind.idx._vlog.versions()
            assert kind.version(leased) == fired["pinned"] + 1
            assert kind.rows(leased) == len(BASE_ROWS) + 1
    finally:
        kind.store._create_exclusive = orig


def test_expired_lease_does_not_block_vacuum(kind):
    with kind.idx.reader_lease(ttl_sec=-1) as leased:  # born expired
        kind.commit(kind.idx, 1)
        assert kind.fsck()["info"]["leases"] == {
            "live": 0, "expired": 1, "torn": 0,
        }
        kind.idx.vacuum(keep_versions=1, min_age_sec=0)
        assert kind.version(leased) not in kind.idx._vlog.versions()
        # the scan garbage-collected the expired lease file
        assert kind.fsck()["info"]["leases"]["expired"] == 0


def test_torn_lease_does_not_block_vacuum(kind):
    """A lease file cut short mid-write pins nothing: vacuum ignores it
    (and leaves it alone), and fsck counts it as torn, not as an error."""
    pinned = kind.idx._vlog.versions()[-1]
    torn = f"{kind.idx.lease_dir}/v{pinned:020d}-torn.json"
    assert kind.store._create_exclusive(torn, b'{"expires_utc": "20')
    kind.commit(kind.idx, 1)
    kind.idx.vacuum(keep_versions=1, min_age_sec=0)
    assert pinned not in kind.idx._vlog.versions()
    report = kind.fsck()
    assert report["info"]["leases"] == {"live": 0, "expired": 0, "torn": 1}
    assert report["errors"] == []
