"""Vector index table + maintenance operators (reference pipeline2).

The reference maintains a Pinecone index (create/upsert/fetch/delete/
stats, ``airflow-pipeline/dags/pipeline2.py:104-225``) plus a MySQL
``vectordatabasestats`` catalog kept in sync by insert-if-absent and
delete-cascade passes (``:315-367``). Both of those stores give READERS
a consistent view during writes (Pinecone upsert is server-side
last-writer-wins per id, pipeline2.py:117-150; MySQL is MVCC). Here the
index is a parquet table with a **versioned-manifest commit protocol**
(the public Delta/Iceberg snapshot idea, sized down to one JSON file):

- data files are IMMUTABLE. Every commit writes its rows to a fresh
  generation directory ``{path}/data/g<version>-<nonce>/title=<t>/``
  and never touches existing files;
- a manifest ``{path}/_manifest/v<version>.json`` maps each live title
  to the generation that holds its current rows, and carries the form
  catalog (``vectordatabasestats`` analogue) inline — so index + catalog
  move in ONE atomic commit, where the reference needs two systems and
  a ``sleep(60)`` reconciliation dance (pipeline2.py:178);
- readers resolve the highest complete manifest ONCE per read and pin
  that snapshot: an in-flight upsert/compact writes only new
  directories and publishes a new manifest last, so a concurrent
  reader always sees either the old or the new complete row-set,
  never a partially-replaced partition;
- the reference's metadata filter ``{"title": {"$in": ...}}`` is still
  partition pruning: each generation is read with its live titles as a
  partition filter, so Catalyst never touches superseded or foreign
  files;
- delete-by-form is manifest-only (drop the mapping entry): zero file
  IO, the 100 TB analogue of a metadata-only partition drop;
- superseded generations are reclaimed by :meth:`vacuum` (bounded
  retention, like table-format VACUUM — readers may pin a snapshot for
  at most the retention window).

Commit safety: writers serialize on an exclusive lock taken via atomic
create-if-absent, and the manifest publish itself is ALSO
create-if-absent on the next version number — a second fence, so even
a writer that raced past a broken stale lock cannot clobber another
commit (it gets :class:`ConcurrentCommitError` and must retry). On
object stores whose ``create`` is not atomic (plain S3 PUT semantics),
pass ``conditional_put=`` (modelling S3 conditional writes,
``If-None-Match: *``) or the index fails fast with
:class:`UnsupportedLockFilesystemError` instead of silently racing.

Id semantics: the reference *recomputes* ``vector_id = title + "_" +
combined-frame index`` at load time (pipeline2.py:130-132), silently
discarding pipeline1's ChunkId. ``vector_ids_like_reference`` provides
that recomputation; at scale the combined-frame index is a global
row_number over a deterministic ordering.
"""

from __future__ import annotations

import contextlib
import json
import os
import threading
import time
import urllib.parse
import uuid
from datetime import datetime, timezone
from functools import reduce
from typing import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..schemas import FORM_CATALOG_SCHEMA, INDEX_SCHEMA
from .snapshot_log import VersionLog

__all__ = [
    "ConcurrentCommitError",
    "PinnedSnapshot",
    "SnapshotExpiredError",
    "UnsupportedLockFilesystemError",
    "VectorIndex",
    "WriterLockTimeout",
    "vector_ids_like_reference",
]


class WriterLockTimeout(TimeoutError):
    """Raised when the index writer lock cannot be acquired in time."""


class ConcurrentCommitError(RuntimeError):
    """Another writer published the manifest version this commit was
    about to claim — the loser's data directory is orphaned (vacuum
    reclaims it) and the caller should retry the whole mutation."""


class UnsupportedLockFilesystemError(RuntimeError):
    """The index path lives on a filesystem whose ``create`` is not
    atomic and no ``conditional_put`` was supplied — single-writer
    safety cannot be guaranteed, so mutations refuse to run."""


class SnapshotExpiredError(RuntimeError):
    """A pinned snapshot's manifest is gone — the reader out-lived the
    retention window (vacuum ``min_age_sec`` / lease TTL) and must
    re-resolve the current snapshot instead of scanning partial data."""


class PinnedSnapshot:
    """A leased, immutable view of one manifest version (yielded by
    :meth:`VectorIndex.reader_lease`). ``read()`` plans against the
    PINNED manifest — not the newest — and raises
    :class:`SnapshotExpiredError` if the manifest has been vacuumed
    (possible only after the lease's own TTL lapsed)."""

    def __init__(self, index: "VectorIndex", version: int):
        self.index = index
        self.version = version

    def read(self, titles: Sequence[str] | None = None) -> DataFrame:
        payload = self.index._vlog.load(self.version)
        if payload is None:
            raise SnapshotExpiredError(
                f"manifest v{self.version} at {self.index.path} has been "
                "vacuumed; the lease TTL elapsed before the read finished"
            )
        return self.index._read_manifest_payload(payload, titles)


#: filesystems whose create(path, overwrite=false) is atomic: POSIX
#: O_EXCL, HDFS (namespace op). mocks3 is the contract-test FS that
#: models an object store WITH atomic create; mocks3na models one
#: without (plain S3 PUT semantics) and is deliberately NOT listed.
_ATOMIC_CREATE_SCHEMES = {"file", "hdfs", "viewfs", "mocks3"}


def vector_ids_like_reference(chunks: DataFrame, *, order_cols: Sequence[str] = ("title", "chunk_pos")) -> DataFrame:
    """Recompute ``vector_id = title + '_' + global_index`` exactly like
    pipeline2.py:130-132 (index over the combined frame, 0-based). The
    combined-CSV row order is made explicit via ``order_cols``."""
    w = Window.orderBy(*[F.col(c) for c in order_cols])
    # single-window global row_number: acceptable because id assignment
    # is a one-time load-format step; steady-state loads use natural ids
    return chunks.withColumn(
        "id", F.concat_ws("_", F.col("title"), (F.row_number().over(w) - 1).cast("string"))
    )


class VectorIndex:
    """Parquet-backed vector index with Pinecone-parity maintenance ops
    and snapshot-isolated readers.

    Layout::

        {path}/_manifest/v<0-padded version>.json   # commit log
        {path}/data/g<version>-<nonce>/title=<t>/*.parquet

    Data columns: (id, vector, text) + ``title`` partition column. The
    catalog (``vectordatabasestats`` analogue, (form_name,
    recent_activity)) lives inside the manifest, committed atomically
    with the partition mapping.
    """

    #: seconds to keep retrying for the writer lock before giving up
    LOCK_TIMEOUT_SEC = 120.0
    #: a lock file older than this is presumed abandoned (holder died
    #: between acquire and release) and is broken by the next writer.
    #: MUST exceed the longest expected merge: there is no heartbeat —
    #: a healthy writer whose commit outlives the TTL would have its
    #: lock broken mid-write (the manifest create-if-absent fence then
    #: turns the race into ConcurrentCommitError, not lost data).
    LOCK_STALE_TTL_SEC = 3600.0
    #: upsert folds the oldest generations into its own commit once the
    #: live-generation count would exceed this, bounding the read plan
    #: at AUTO_FOLD_MAX union branches (tiered compaction: cold titles
    #: ride along with a hot commit; hot titles fold themselves).
    AUTO_FOLD_MAX = 32

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        *,
        atomic_create: bool | None = None,
        conditional_put: Callable[[str, bytes], bool] | None = None,
    ):
        self.spark = spark
        self.path = path.rstrip("/")
        self.lock_path = self.path + "__lock"
        #: the manifest commit log: a manifest is usable once its
        #: trailing ``"complete"`` sentinel (written last) parses
        self._vlog = VersionLog(
            self,
            f"{self.path}/_manifest",
            f"{self.path}/_leases",
            version_key="version",
            accept=lambda payload: payload.get("complete") is True,
            conflict_error=ConcurrentCommitError,
            expired_error=SnapshotExpiredError,
        )
        #: conditional-put hook for object stores without atomic
        #: create: (absolute path, content) -> True iff the object was
        #: created and did NOT exist (S3 PutObject If-None-Match: *).
        self.conditional_put = conditional_put
        self._atomic_create = atomic_create
        self._path_scheme: str | None = None  # see _scheme
        # re-entrancy marker is per-thread: two threads sharing one
        # VectorIndex must still contend for the file lock
        self._lock_tls = threading.local()

    # -- filesystem plumbing ----------------------------------------------

    def _fs(self):
        jvm = self.spark._jvm
        hconf = self.spark._jsc.hadoopConfiguration()
        path = jvm.org.apache.hadoop.fs.Path(self.path)
        return path.getFileSystem(hconf), jvm

    def _scheme(self) -> str:
        # a path's scheme never changes: resolve it once, on first use
        # (every metadata file operation asks; each uncached ask is
        # several py4j round trips)
        if self._path_scheme is None:
            if "://" in self.path:
                self._path_scheme = self.path.split("://", 1)[0]
            elif self.path.startswith("file:"):
                self._path_scheme = "file"
            else:
                try:
                    fs, _jvm = self._fs()
                    self._path_scheme = fs.getUri().getScheme() or "file"
                except Exception:
                    # no JVM filesystem reachable → plain local
                    self._path_scheme = "file"
        return self._path_scheme

    def _has_atomic_create(self) -> bool:
        if self._atomic_create is not None:
            return self._atomic_create
        return self._scheme() in _ATOMIC_CREATE_SCHEMES

    def _local(self, p: str) -> str | None:
        """POSIX form of ``p`` if it lives on a local filesystem, else
        None (use the Hadoop FileSystem API). Scheme-less paths are NOT
        assumed local: on a cluster ``fs.defaultFS`` typically points
        at HDFS/an object store, and index metadata must live on the
        SAME filesystem as the data."""
        if p.startswith("file:"):
            return p[len("file:"):] or "/"
        if "://" in p:
            return None
        return p if self._scheme() == "file" else None

    def _read_small_file(self, p: str) -> bytes | None:
        """Full content of a small metadata file, or None if it cannot
        be read (missing, mid-write on weird stores, FS down)."""
        local = self._local(p)
        try:
            if local is not None:
                with open(local, "rb") as f:
                    return f.read()
            fs, jvm = self._fs()
            stream = fs.open(jvm.org.apache.hadoop.fs.Path(p))
            try:
                try:
                    # commons-io ships with Spark; bulk read beats a
                    # per-byte py4j round-trip by orders of magnitude
                    return bytes(jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
                except Exception:
                    data = bytearray()
                    while True:
                        b = stream.read()
                        if b < 0:
                            break
                        data.append(b)
                    return bytes(data)
            finally:
                stream.close()
        except Exception:
            return None

    def _create_exclusive(self, p: str, content: bytes) -> bool:
        """Create ``p`` with ``content`` iff it does not exist — the
        single primitive both the lock and the manifest fence ride on.
        Routes to conditional_put on non-atomic stores."""
        if self.conditional_put is not None and not self._has_atomic_create():
            return bool(self.conditional_put(p, content))
        if not self._has_atomic_create():
            raise UnsupportedLockFilesystemError(
                f"{self._scheme()}:// does not guarantee atomic "
                "create-if-absent; pass conditional_put= (object-store "
                "conditional write, e.g. S3 If-None-Match) or "
                "atomic_create=True if the store does provide it"
            )
        local = self._local(p)
        if local is not None:
            os.makedirs(os.path.dirname(local) or "/", exist_ok=True)
            try:
                fd = os.open(local, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                return False
            with os.fdopen(fd, "wb") as f:
                f.write(content)
            return True
        fs, jvm = self._fs()
        hp = jvm.org.apache.hadoop.fs.Path(p)
        try:
            out = fs.create(hp, False)  # overwrite=false → atomic claim
        except Exception:
            return False  # exists (or FS down — surfaces as timeout)
        try:
            out.write(bytearray(content))
            out.close()
            return True
        except Exception:
            # created but couldn't write: remove the claim rather than
            # leave an orphan no writer owns
            with contextlib.suppress(Exception):
                fs.delete(hp, False)
            return False

    def _delete_path(self, p: str, recursive: bool = False) -> None:
        local = self._local(p)
        if local is not None:
            if recursive:
                import shutil

                shutil.rmtree(local, ignore_errors=True)
            else:
                with contextlib.suppress(FileNotFoundError):
                    os.unlink(local)
            return
        fs, jvm = self._fs()
        fs.delete(jvm.org.apache.hadoop.fs.Path(p), recursive)

    def _list_dir(self, p: str) -> list[str]:
        """Child names of a directory ([] if missing)."""
        local = self._local(p)
        if local is not None:
            try:
                return sorted(os.listdir(local))
            except OSError:
                return []
        fs, jvm = self._fs()
        hp = jvm.org.apache.hadoop.fs.Path(p)
        try:
            if not fs.exists(hp):
                return []
            return sorted(st.getPath().getName() for st in fs.listStatus(hp))
        except Exception:
            return []

    # -- writer lock -------------------------------------------------------
    #
    # Mutations are read-merge-publish; two concurrent writers that
    # interleave (both read the same manifest, both publish) would fork
    # the version history. Writers therefore serialize on an exclusive
    # lock taken via atomic create-if-absent (O_CREAT|O_EXCL locally,
    # FileSystem.create(path, overwrite=false) on HDFS, conditional PUT
    # on object stores via the conditional_put hook). A crashed
    # holder's lock is broken after LOCK_STALE_TTL_SEC; the manifest
    # version fence backstops any stale-break race.

    def _local_lock_file(self) -> str | None:
        return self._local(self.lock_path)

    def _try_lock(self) -> bool:
        stamp = f"pid={os.getpid()} nonce={uuid.uuid4().hex} ts={time.time():.3f}\n"
        return self._create_exclusive(self.lock_path, stamp.encode())

    def _read_lock_stamp(self) -> str | None:
        """Current lock-file content (the holder's unique stamp), or
        None if unreadable/vanished. Content equality identifies a
        SPECIFIC holder."""
        data = self._read_small_file(self.lock_path)
        return None if data is None else data.decode(errors="replace")

    def _lock_age_sec(self) -> float | None:
        local = self._local_lock_file()
        try:
            if local is not None:
                return time.time() - os.path.getmtime(local)
            fs, jvm = self._fs()
            hp = jvm.org.apache.hadoop.fs.Path(self.lock_path)
            return time.time() - fs.getFileStatus(hp).getModificationTime() / 1000.0
        except Exception:
            return None  # lock vanished between observation and stat

    def _unlock(self) -> None:
        self._delete_path(self.lock_path)

    @contextlib.contextmanager
    def write_lock(self, timeout_sec: float | None = None):
        """Serialize mutating operations (upsert / delete / catalog).

        Public so multi-operation transactions (e.g. upsert + verify +
        catalog fix-up) can hold the lock across calls; single mutations
        acquire it implicitly. Re-entrant within this VectorIndex object
        so nested public methods don't self-deadlock. Fails fast with
        UnsupportedLockFilesystemError on stores where no atomic
        create-if-absent (or conditional_put substitute) exists."""
        if getattr(self._lock_tls, "held", False):
            yield
            return
        deadline = time.monotonic() + (
            self.LOCK_TIMEOUT_SEC if timeout_sec is None else timeout_sec
        )
        delay = 0.05
        while not self._try_lock():
            age = self._lock_age_sec()
            if age is not None and age > self.LOCK_STALE_TTL_SEC:
                # Holder presumed dead. The break is CONTENT-conditional:
                # record the stale holder's unique stamp, re-verify age,
                # and delete only if the stamp is UNCHANGED immediately
                # before the unlink — so a breaker that got descheduled
                # after its staleness check can never delete a DIFFERENT
                # (fresh) writer's lock: that lock carries a new stamp
                # and the equality fails. The residual window is one
                # read→delete syscall pair and requires two breakers
                # overlapping inside it; even then, the manifest
                # version fence downgrades the worst case from lost
                # data to a ConcurrentCommitError for one loser. After
                # the break, fall through to the deadline check and
                # sleep: breakers re-contend via the atomic create.
                with contextlib.suppress(Exception):
                    stale_stamp = self._read_lock_stamp()
                    age2 = self._lock_age_sec()
                    if (
                        stale_stamp is not None
                        and age2 is not None
                        and age2 > self.LOCK_STALE_TTL_SEC
                        and self._read_lock_stamp() == stale_stamp
                    ):
                        self._unlock()
            if time.monotonic() > deadline:
                raise WriterLockTimeout(
                    f"writer lock busy for >{timeout_sec or self.LOCK_TIMEOUT_SEC}s: "
                    f"{self.lock_path}"
                )
            time.sleep(delay)
            delay = min(delay * 2, 1.0)
        self._lock_tls.held = True
        try:
            yield
        finally:
            self._lock_tls.held = False
            self._unlock()

    # -- manifest commit log (see VersionLog) ------------------------------

    #: sentinel: "carry the current manifest's dim stamp forward"
    _KEEP_DIM = object()

    def _publish_manifest(
        self,
        version: int,
        partitions: dict[str, str],
        catalog: dict[str, str],
        row_counts: dict[str, int] | None = None,
        row_count_bounds: set[str] | None = None,
        dim=_KEEP_DIM,
    ) -> None:
        """Atomically publish manifest ``version`` via create-if-absent
        — the commit point AND the fencing token: if the version file
        already exists, another writer won the version and this commit
        must abort (its data dirs stay orphaned until vacuum).

        ``row_counts`` (title → live rows, exact unless the title is in
        ``row_count_bounds``) rides in the manifest so the NEXT commit
        can bound its skew decision without re-executing its merge
        plan; catalog-only commits pass None and the stamps carry
        forward (pruned to live titles).

        ``dim`` (vector dimension, stamped by the first uniform upsert)
        rides along for the same reason: :meth:`dimension` and the S11
        dim guard read it driver-side instead of probing the data with
        a per-upsert Spark job. Default carries the current stamp
        forward; pass an int to set it, None to clear it (e.g. a fresh
        index whose first batch was not provably uniform)."""
        if row_counts is None:
            row_counts = self._manifest_row_counts()
            row_count_bounds = self._manifest_count_bounds()
        if dim is self._KEEP_DIM:
            m = self._vlog.latest()
            dim = None if m is None else m.get("dim")
        row_counts = {t: int(n) for t, n in row_counts.items() if t in partitions}
        bounds_list = sorted(
            t for t in (row_count_bounds or set()) if t in row_counts
        )
        payload = {
            "version": version,
            "partitions": partitions,
            "catalog": catalog,
            "row_counts": row_counts,
            "row_count_bounds": bounds_list,
            **({} if dim is None else {"dim": int(dim)}),
            "committed_utc": datetime.now(timezone.utc).isoformat(),
            # written LAST in the serialized object: a truncated
            # manifest cannot parse to complete=true
            "complete": True,
        }
        self._vlog.publish(version, json.dumps(payload).encode())

    def _state(self) -> tuple[int, dict[str, str], dict[str, str]]:
        """(version, title→generation dir, form→recent_activity iso)."""
        m = self._vlog.latest()
        if m is None:
            return 0, {}, {}
        return m["version"], m["partitions"], m["catalog"]

    def _manifest_row_counts(self) -> dict[str, int]:
        """title → live row count stamp from the current manifest
        (empty for pre-row-counts manifests — writers then fall back to
        one explicit count pass and the next manifest is stamped).
        A stamp is EXACT unless its title appears in
        :meth:`_manifest_count_bounds`, in which case it is an upper
        bound (replace churn adds the batch size without subtracting
        replaced rows; re-anchored when it matters — see
        ``_write_generation``)."""
        m = self._vlog.latest()
        if m is None:
            return {}
        return m.get("row_counts", {})

    def _manifest_count_bounds(self) -> set[str]:
        """Titles whose row-count stamp is an upper bound, not exact."""
        m = self._vlog.latest()
        if m is None:
            return set()
        return set(m.get("row_count_bounds", []))

    def _new_generation(self, version: int) -> str:
        # the nonce keeps a fenced-off loser's directory from colliding
        # with the winner's next attempt at the same version
        return f"data/g{version:020d}-{uuid.uuid4().hex[:8]}"

    #: a title whose row count exceeds this is salt-split across
    #: ceil(n / SKEW_SPLIT_ROWS) write tasks (and files) instead of
    #: funneling through one task — the operators/skew.py idiom applied
    #: to the generation write (round-4 verdict ask #7)
    SKEW_SPLIT_ROWS = 1_000_000

    def _write_generation(
        self,
        rows: DataFrame,
        gen: str,
        *,
        bounds: dict[str, int] | None = None,
        bounds_exact: bool = False,
    ) -> tuple[dict[str, int], bool]:
        """Write ``rows`` as the generation directory, partitioned by
        title; returns (per-title counts, exact?). Partitioning key
        is (title, salt): salt is 0 for normal titles (one reduce
        partition, one file — the compact layout), and
        ``pmod(xxhash64(id), ceil(n/SKEW_SPLIT_ROWS))`` for hot titles,
        so one pathological million-chunk form parallelizes across
        tasks and produces multiple files.

        The salt decision uses ``bounds`` — per-title row UPPER BOUNDS
        the caller derives from the previous manifest's stamps plus the
        update batch (so the merge plan is executed ONCE, by the write;
        a pre-write count pass would double the commit's read IO at
        scale). Returns ``(counts, exact)`` for the caller to stamp
        into the next manifest: counts are the bounds passed in, exact
        iff the caller asserted them (``bounds_exact`` — pure inserts,
        row-preserving compaction) or this call had to run the explicit
        pre-count (``bounds=None``, the pre-row-counts-manifest
        fallback). No post-write scan happens here: a steady-state
        commit adds ZERO jobs for count bookkeeping — bound creep from
        replace churn is re-anchored by the CALLER only when a bound
        crosses the salt threshold (one footer-only count of one
        title's current files)."""
        bounds_were_none = bounds is None
        if bounds is None:
            bounds = {
                r["title"]: r["n"]
                for r in rows.groupBy("title")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }
        hot = {
            t: -(-n // self.SKEW_SPLIT_ROWS)
            for t, n in bounds.items()
            if t is not None and n > self.SKEW_SPLIT_ROWS
        }
        if hot:
            buckets = F.element_at(
                F.create_map(*[F.lit(x) for kv in hot.items() for x in kv]),
                F.col("title"),
            )
            salt = F.when(
                buckets.isNotNull(), F.pmod(F.xxhash64("id"), buckets)
            ).otherwise(F.lit(0))
            # EXPLICIT partition count: an un-numbered repartition is
            # AQE-coalescable, and AQE happily merges the salt buckets
            # back into one task — defeating the split. A user-given
            # count is respected; size it so distinct (title, salt)
            # keys rarely collide.
            total = sum(hot.values()) + (len(bounds) - len(hot))
            n_parts = max(
                2 * total, self.spark.sparkContext.defaultParallelism
            )
            part = rows.repartition(n_parts, F.col("title"), salt)
        else:
            part = rows.repartition("title")
        (
            part.write.mode("overwrite")  # fresh nonce dir; inert
            .partitionBy("title")
            .parquet(f"{self.path}/{gen}")
        )
        return dict(bounds), bounds_exact or bounds_were_none

    def _count_title_rows(self, gen_dir: str, title: str) -> int:
        """Exact live rows of one title in one generation — a
        footer-only scan of that title's partition directory (the
        re-anchor step when a bound crosses the salt threshold)."""
        return (
            self.spark.read.parquet(f"{self.path}/{gen_dir}")
            .filter(F.col("title").cast("string") == title)
            .count()
        )

    def snapshot_info(self) -> tuple[int, dict[str, str]]:
        """(manifest version, title→generation map) of the current
        snapshot — the identity a derived index (``index_sync``) stamps
        itself with and later diffs against: a title's rows changed
        since a snapshot iff its generation entry differs."""
        version, parts, _catalog = self._state()
        return version, parts

    # -- reads (snapshot-isolated) ----------------------------------------

    def exists(self) -> bool:
        return self._vlog.latest() is not None

    def _empty(self) -> DataFrame:
        return self.spark.createDataFrame([], INDEX_SCHEMA)

    def read(self, titles: Sequence[str] | None = None) -> DataFrame:
        """Snapshot read: resolves the manifest once; the returned
        DataFrame only references immutable generation files, so it
        stays consistent while writers commit (until vacuum passes the
        retention window). ``titles`` prunes driver-side before any
        scan is planned (the reference's ``$in`` metadata filter)."""
        m = self._vlog.latest()
        if m is None:
            return self._empty()
        # per-generation scan restricted to the titles the manifest
        # says are CURRENT in that generation: the isin on the
        # partition column becomes a PartitionFilter, so superseded
        # titles' files in the same generation are never read; the
        # title cast happens BEFORE the isin so "007" never prunes as 7
        # (shared body with leased reads — _read_manifest_payload)
        return self._read_manifest_payload(m, titles)

    def read_catalog(self) -> DataFrame:
        m = self._vlog.latest()
        if m is None:
            return self.spark.createDataFrame([], FORM_CATALOG_SCHEMA)
        rows = [
            (form, datetime.fromisoformat(ts))
            for form, ts in sorted(m["catalog"].items())
        ]
        if not rows:
            return self.spark.createDataFrame([], FORM_CATALOG_SCHEMA)
        return self.spark.createDataFrame(rows, FORM_CATALOG_SCHEMA)

    def dimension(self) -> int | None:
        """S11: index vector dimension (pipeline2.py:134). Served from
        the manifest's ``dim`` stamp (written by the first uniform
        upsert) — zero Spark jobs on the steady path; a manifest
        without a stamp (mixed-dimension first batch) falls back to the
        original data probe."""
        m = self._vlog.latest()
        if m is None or not m["partitions"]:
            return None
        d = m.get("dim")
        if d is not None:
            return int(d)
        row = self.read().select(F.size("vector").alias("d")).head()
        return None if row is None else row["d"]

    # -- S11/S12: create + bulk upsert (replace-by-id) ---------------------

    def upsert(self, updates: DataFrame) -> None:
        """MERGE-by-id limited to the touched title partitions.

        updates: DataFrame(id, vector, title, text). survivors = old
        rows of the touched titles anti-joined on id, union the
        updates; the merged rows land in a FRESH generation directory
        and one manifest commit repoints the touched titles — readers
        of the previous snapshot keep their (immutable) files.
        """
        with self.write_lock():
            self._upsert_locked(updates)

    def _upsert_locked(self, updates: DataFrame) -> None:
        updates = updates.select("id", "vector", "title", "text")
        # one aggregation serves the touched-title list, the per-title
        # update counts the skew bound needs, AND the batch's vector
        # dimension range (the S11 guard + the manifest dim stamp) —
        # this used to be a distinct() plus a separate filter/count job
        # per upsert
        agg_rows = (
            updates.groupBy("title")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.min(F.size("vector")).alias("d_lo"),
                F.max(F.size("vector")).alias("d_hi"),
            )
            .collect()
        )
        upd_counts = {r["title"]: r["n"] for r in agg_rows}
        batch_dims = {
            d
            for r in agg_rows
            for d in (r["d_lo"], r["d_hi"])
            if d is not None
        }
        titles = sorted(upd_counts)
        if not titles:
            return
        version, parts, catalog = self._state()
        fresh_index = not parts
        if parts:
            dim = self.dimension()
            if dim is not None:
                # S11 dimension check: reject mismatched vectors upfront
                # (driver-side against the batch's min/max — no extra job)
                if any(d != dim for d in batch_dims):
                    raise ValueError(f"vector dimension mismatch (index dim={dim})")
        merge_titles = set(titles)
        # tiered auto-fold: if this commit would push the live
        # generation count past AUTO_FOLD_MAX, carry the OLDEST
        # generations' titles along into this generation — bounds the
        # read plan width without ever rewriting the whole index
        live_dirs = sorted(set(parts.values()))
        if len(live_dirs) + 1 > self.AUTO_FOLD_MAX:
            to_fold = len(live_dirs) + 1 - self.AUTO_FOLD_MAX + 1
            for d in live_dirs[:to_fold]:  # oldest first (version-prefixed names)
                merge_titles.update(t for t, pd_ in parts.items() if pd_ == d)
        old = self.read(titles=sorted(merge_titles)) if parts else self._empty()
        survivors = old.join(updates.select("id"), "id", "left_anti").select(
            "id", "vector", "title", "text"
        )
        merged = survivors.unionByName(updates)
        gen = self._new_generation(version + 1)
        # skew bound per merged title: previous stamp (replaced ids
        # double-count — an upper bound is all salting needs) plus this
        # batch. A stale BOUND stamp that would cross the salt
        # threshold is re-anchored first (one footer-only count of that
        # title's current files) so replace churn cannot over-salt
        # forever; a pre-row-counts manifest (no stamp for a live
        # title) falls back to one explicit count pass.
        old_counts = self._manifest_row_counts()
        bound_titles = self._manifest_count_bounds()
        bounds: dict[str, int] | None = {}
        for t in merge_titles:
            base = old_counts.get(t, 0)
            if t in parts and t not in old_counts:
                bounds = None
                break
            b = base + upd_counts.get(t, 0)
            if t in bound_titles and b > self.SKEW_SPLIT_ROWS:
                base = self._count_title_rows(parts[t], t)
                b = base + upd_counts.get(t, 0)
            bounds[t] = b
        # pure insert (every merged title is new): no survivors exist,
        # so the batch counts ARE exact
        pure_insert = bounds is not None and all(
            t not in parts for t in merge_titles
        )
        written, exact = self._write_generation(
            merged, gen, bounds=bounds, bounds_exact=pure_insert
        )
        now = datetime.now(timezone.utc).isoformat()
        for t in merge_titles:
            parts[t] = gen
        for t in titles:
            catalog.setdefault(t, now)  # insert-if-absent, pipeline2.py:315-331
        for t in merge_titles:
            old_counts.pop(t, None)
            bound_titles.discard(t)
        old_counts.update(written)
        if not exact:
            bound_titles.update(written)
        # dim stamp: a fresh index whose first batch is provably uniform
        # records its dimension in the manifest (later upserts/serving
        # read it driver-side); an existing stamp carries forward
        # unchanged (the S11 guard above keeps it true). A fresh index
        # with a mixed/unknown first batch stamps nothing — dimension()
        # then keeps the legacy data-probe behavior.
        if fresh_index:
            stamp = batch_dims.pop() if len(batch_dims) == 1 else None
            self._publish_manifest(
                version + 1,
                parts,
                catalog,
                row_counts=old_counts,
                row_count_bounds=bound_titles,
                dim=stamp,
            )
        else:
            self._publish_manifest(
                version + 1,
                parts,
                catalog,
                row_counts=old_counts,
                row_count_bounds=bound_titles,
            )

    # -- S13: point fetch ---------------------------------------------------

    def fetch_by_ids(self, vector_ids: Sequence[str]) -> DataFrame:
        return self.read().filter(F.col("id").isin(list(vector_ids)))

    def forms_of_ids(self, vector_ids: Sequence[str]) -> list[str]:
        """get_forms_by_id (pipeline2.py:152-157): titles of the ids, in
        input order (duplicates preserved)."""
        rows = {
            r["id"]: r["title"]
            for r in self.fetch_by_ids(vector_ids).select("id", "title").collect()
        }
        return [rows[v] for v in vector_ids if v in rows]

    # -- P9: existence check ------------------------------------------------

    def form_check(self, form_name: str) -> bool:
        # manifest invariant: a title is mapped iff it has rows
        m = self._vlog.latest()
        return m is not None and form_name in m["partitions"]

    # -- S14: deletes ---------------------------------------------------------

    def delete_by_ids(self, vector_ids: Sequence[str]) -> None:
        """Delete ids, then cascade: forms left with no vectors are
        removed from the catalog (pipeline2.py:171-193 without the
        sleep — partition mapping and catalog move in one commit)."""
        with self.write_lock():
            self._delete_by_ids_locked(vector_ids)

    def _delete_by_ids_locked(self, vector_ids: Sequence[str]) -> None:
        affected = sorted(set(self.forms_of_ids(vector_ids)))
        if not affected:
            return
        version, parts, catalog = self._state()
        remaining = (
            self.read(titles=affected)
            .filter(~F.col("id").isin(list(vector_ids)))
            .select("id", "vector", "title", "text")
        )
        surviving = {
            r["title"] for r in remaining.select("title").distinct().collect()
        }
        old_counts = self._manifest_row_counts()
        bound_titles = self._manifest_count_bounds()
        written: dict[str, int] = {}
        exact = True
        if surviving:
            gen = self._new_generation(version + 1)
            # deletion only shrinks: the previous stamps bound the
            # rewrite (None → count fallback for unstamped titles);
            # post-delete stamps are bounds (the deleted quantity per
            # title is unknown without a count)
            bounds = (
                {t: old_counts[t] for t in affected if t in old_counts}
                if all(t in old_counts for t in affected)
                else None
            )
            written, exact = self._write_generation(
                remaining, gen, bounds=bounds
            )
            for t in surviving:
                parts[t] = gen
        for t in affected:
            old_counts.pop(t, None)
            bound_titles.discard(t)
            if t not in surviving:
                parts.pop(t, None)
                catalog.pop(t, None)  # J4 cascade
        old_counts.update(written)
        if not exact:
            bound_titles.update(written)
        self._publish_manifest(
            version + 1,
            parts,
            catalog,
            row_counts=old_counts,
            row_count_bounds=bound_titles,
        )

    def delete_by_form(self, form_titles: Sequence[str]) -> None:
        """delete_by_form (pipeline2.py:195-197): MANIFEST-ONLY — the
        titles' mapping entries are dropped in one commit; no file is
        read or written (vs the reference's full-index enumeration with
        a dummy query vector, pipeline2.py:214-225). Vacuum reclaims
        the orphaned bytes later."""
        with self.write_lock():
            version, parts, catalog = self._state()
            if version == 0:
                return
            for t in form_titles:
                parts.pop(t, None)
                catalog.pop(t, None)
            self._publish_manifest(version + 1, parts, catalog)

    def delete_all(self) -> None:
        """delete_all (pipeline2.py:199-202) + catalog truncate (:333-338)."""
        with self.write_lock():
            fs, jvm = self._fs()
            hp = jvm.org.apache.hadoop.fs.Path(self.path)
            if fs.exists(hp):
                fs.delete(hp, True)

    # -- S15: stats -----------------------------------------------------------

    def stats(self) -> dict:
        snapshot = self.read()
        agg = snapshot.agg(
            F.count(F.lit(1)).alias("total_vector_count"),
            F.min(F.size("vector")).alias("dimension"),
        ).head()
        per_form = {
            r["title"]: r["n"]
            for r in snapshot.groupBy("title").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        return {
            "total_vector_count": agg["total_vector_count"],
            "dimension": agg["dimension"],
            "namespaces": per_form,
        }

    # -- maintenance: compaction + vacuum -------------------------------------

    def _partition_file_counts(self) -> dict[str, int]:
        """Data-file count per LIVE title (skips _SUCCESS etc.).
        Matching is on UNESCAPED partition values (Hadoop escapes
        special characters as %XX in directory names), keyed by the
        manifest's true title strings — a title like ``Form A=B%`` is
        counted and compacted like any other."""
        _version, parts, _catalog = self._state()
        out: dict[str, int] = {}
        by_dir: dict[str, set[str]] = {}
        for t, d in parts.items():
            by_dir.setdefault(d, set()).add(t)
        fs, jvm = self._fs()
        for d, live in by_dir.items():
            gen_root = jvm.org.apache.hadoop.fs.Path(f"{self.path}/{d}")
            if not fs.exists(gen_root):
                continue
            for st in fs.listStatus(gen_root):
                name = st.getPath().getName()
                if not (st.isDirectory() and name.startswith("title=")):
                    continue
                title = urllib.parse.unquote(name[len("title="):])
                if title not in live:
                    continue  # superseded rows parked in this generation
                out[title] = sum(
                    1
                    for f in fs.listStatus(st.getPath())
                    if f.isFile() and not f.getPath().getName().startswith("_")
                )
        return out

    def compact(self, *, max_files_per_partition: int = 1) -> dict[str, int]:
        """Consolidate fragmented titles and stale generations.

        Victims: titles with more than ``max_files_per_partition`` data
        files, plus every title NOT living in the newest generation
        (generation spread is the new fragmentation: each one is a
        union branch in the read plan and a listing round-trip at
        scale). Victims are rewritten into ONE new generation — one
        file per title — and the manifest repointed in a single commit;
        titles already compact in the newest generation keep their
        files untouched. Returns pre-compaction file counts for the
        rewritten titles. Run :meth:`vacuum` afterwards to reclaim the
        superseded bytes."""
        with self.write_lock():
            version, parts, catalog = self._state()
            if not parts:
                return {}
            counts = self._partition_file_counts()
            newest_dir = max(set(parts.values()))  # version-prefixed names sort
            victims = {
                t: counts.get(t, 0)
                for t in parts
                if counts.get(t, 0) > max_files_per_partition or parts[t] != newest_dir
            }
            if not victims:
                return {}
            rows = self.read(titles=sorted(victims)).select(
                "id", "vector", "title", "text"
            )
            gen = self._new_generation(version + 1)
            # one reduce partition per title — except hot titles, which
            # _write_generation salt-splits (compaction TARGET is one
            # file per title, but never at the price of one task
            # holding a million-chunk form); rewrite preserves row
            # sets, so the previous stamps carry with their previous
            # exactness (a victim with a BOUND stamp stays a bound)
            old_counts = self._manifest_row_counts()
            bound_titles = self._manifest_count_bounds()
            if all(t in old_counts for t in victims):
                # stamps and their exact/bound flags carry UNCHANGED —
                # a row-preserving rewrite can't change either
                bounds = {t: old_counts[t] for t in victims}
                self._write_generation(
                    rows, gen, bounds=bounds, bounds_exact=True
                )
            else:
                # unstamped victim (pre-row-counts manifest): the
                # fallback pre-count yields exact stamps for all
                written, _ = self._write_generation(rows, gen)
                old_counts.update(written)
                for t in written:
                    bound_titles.discard(t)
            for t in victims:
                parts[t] = gen
            self._publish_manifest(
                version + 1,
                parts,
                catalog,
                row_counts=old_counts,
                row_count_bounds=bound_titles,
            )
            return victims

    # -- reader leases (retention enforcement) ------------------------------

    @property
    def lease_dir(self) -> str:
        return self._vlog.lease_dir

    @contextlib.contextmanager
    def reader_lease(self, *, ttl_sec: float = 3600.0):
        """Pin the current snapshot for a long-running reader: while
        the lease file exists and is unexpired, :meth:`vacuum` will not
        reclaim the pinned manifest's generations, so the reader's
        DataFrames stay scannable to completion. Yields a
        :class:`PinnedSnapshot`; the lease is released on exit. A
        reader outliving ``ttl_sec`` loses the guarantee (crash-safety:
        an orphaned lease self-expires) — re-acquire before then, or
        expect :class:`SnapshotExpiredError` / a failed scan. The pin
        is verified against a racing vacuum (:class:`VersionLog`)."""
        with self._vlog.lease(ttl_sec) as m:
            yield PinnedSnapshot(self, m["version"])

    def _read_manifest_payload(self, payload: dict, titles=None) -> DataFrame:
        """Frames for an explicit manifest payload (the shared body of
        :meth:`read` and leased reads)."""
        parts = dict(payload["partitions"])
        if titles is not None:
            want = set(titles)
            parts = {t: d for t, d in parts.items() if t in want}
        by_dir: dict[str, list[str]] = {}
        for t, d in parts.items():
            by_dir.setdefault(d, []).append(t)
        frames = []
        for d, ts in by_dir.items():
            # NB: no explicit read schema here — the vector column's
            # element type follows whatever the caller upserted (float
            # or double; round-9 tried pinning array<float> and the
            # double-vector streaming-ingest suites caught it), so the
            # footer inference is load-bearing.
            df = (
                self.spark.read.parquet(f"{self.path}/{d}")
                .select(
                    "id",
                    "vector",
                    F.col("title").cast("string").alias("title"),
                    "text",
                )
                .filter(F.col("title").isin(ts))
            )
            frames.append(df)
        if not frames:
            return self._empty()
        return reduce(DataFrame.unionByName, frames)

    def vacuum(
        self, *, keep_versions: int = 2, min_age_sec: float = 600.0
    ) -> dict:
        """Reclaim generations referenced by none of the RETAINED
        manifests, and drop the other manifests. Retention ENFORCES the
        reader contract: the newest ``keep_versions`` manifests, any
        manifest pinned by an unexpired :meth:`reader_lease`, and any
        superseded manifest whose successor is younger than
        ``min_age_sec`` are retained (:class:`VersionLog`). Runs under
        the writer lock."""
        with self.write_lock():
            retained, removed = self._vlog.vacuum(
                keep_versions=keep_versions, min_age_sec=min_age_sec
            )
            referenced: set[str] = set()
            for m in retained.values():
                with contextlib.suppress(Exception):
                    referenced.update(m["partitions"].values())
            removed_dirs = []
            for name in self._list_dir(f"{self.path}/data"):
                rel = f"data/{name}"
                if rel not in referenced:
                    self._delete_path(f"{self.path}/{rel}", recursive=True)
                    removed_dirs.append(rel)
            return {
                "data_dirs_removed": removed_dirs,
                "manifests_removed": removed,
                "retained_versions": sorted(retained),
            }

    # -- J3/J4: catalog sync ---------------------------------------------------

    def sync_catalog_orphans(self) -> list[str]:
        """J4: forms in the catalog with no surviving vectors → removed.
        With the manifest invariant (a title is mapped iff it has rows)
        this is a driver-side set difference — the reference's
        poll-sleep-recheck loop (pipeline2.py:352-367) and even the
        anti join disappear."""
        with self.write_lock():
            version, parts, catalog = self._state()
            orphans = sorted(set(catalog) - set(parts))
            if orphans:
                for n in orphans:
                    catalog.pop(n, None)
                self._publish_manifest(version + 1, parts, catalog)
            return orphans
