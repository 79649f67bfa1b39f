"""Versioned-snapshot log: the commit protocol under both the primary
:class:`~.index_maintenance.VectorIndex` (its manifests) and the
derived indexes of :mod:`.index_sync` (their metas).

The reference gets this from Pinecone, one store that never serves a
torn index (``airflow-pipeline/dags/pipeline2.py:117-150``). Here each
index keeps a small commit log of JSON snapshots next to its immutable
data directories; :class:`VersionLog` is that log.
"""

from __future__ import annotations

import contextlib
import copy
import json
import uuid
from datetime import datetime, timedelta, timezone
from typing import Callable

__all__ = ["VersionLog"]


class VersionLog:
    """Numbered, immutable JSON snapshots in ``log_dir`` plus TTL
    reader leases in ``lease_dir``. File IO goes through ``store`` (a
    :class:`~.index_maintenance.VectorIndex`: ``_list_dir``,
    ``_read_small_file``, ``_create_exclusive``, ``_delete_path``), so
    the store's atomic-create / conditional-put contract applies.

    The protocol:

    - **Publish.** Version ``v`` is ``{log_dir}/v<v, 20 digits>.json``,
      written once by create-if-absent and never rewritten. The create
      is the commit point and the fencing token: a writer that finds
      its version taken gets ``conflict_error`` and retries the whole
      mutation.
    - **Load latest.** Readers take the highest listed version whose
      file parses and that ``accept`` takes. A torn or unaccepted
      newest file falls back one version, so v(N+1) becomes visible
      only once fully durable; ``accept`` may instead raise to refuse
      the log outright. Parses are cached per version (the files are
      immutable), but only versions in the CURRENT listing are looked
      up, so a vacuumed version is never served from memory. Each call
      returns a deep copy, with the version stamped under
      ``version_key``, so a caller mutating it cannot poison the cache.
    - **Lease.** A lease is ``{lease_dir}/v<version>-<id>.json``
      holding the pinned version (under ``version_key``) and
      ``expires_utc``. Pin then verify: after the lease file lands, the
      pinned version must still be listed, since a vacuum may have
      reclaimed it between the load and the write. A lost race drops
      the lease and pins the then-newest version; after three tries
      the lease raises ``expired_error``. An orphaned lease (reader
      crash) self-expires: the lease scan deletes expired files and
      ignores torn ones, so neither blocks vacuum.
    - **Retention.** Vacuum keeps the newest ``keep_versions``, every
      version an unexpired lease pins, and every version whose
      successor was committed (``committed_utc``) less than
      ``min_age_sec`` ago or cannot be dated: an unleased reader that
      resolved it has that long to finish (table-format minimum-age
      VACUUM).
    - **Ordering invariant.** Snapshot files are deleted BEFORE data
      dirs: :meth:`vacuum` deletes the unretained snapshot files and
      only then returns the retained snapshots the caller needs to
      decide which data dirs to reclaim. Pin-then-verify checks
      snapshot presence, so it must observe a vacuum's decision before
      any data that snapshot references can disappear; deleting data
      first would let a verify pass while the (slow, recursive) data
      deletion was in flight.
    """

    def __init__(
        self,
        store,
        log_dir: str,
        lease_dir: str,
        *,
        version_key: str,
        accept: Callable[[dict], bool],
        conflict_error: type[Exception],
        expired_error: type[Exception],
    ):
        self.store = store
        self.log_dir = log_dir
        self.lease_dir = lease_dir
        self.version_key = version_key
        self.accept = accept
        self.conflict_error = conflict_error
        self.expired_error = expired_error
        self._parse_cache: dict[int, dict] = {}

    # -- snapshots ----------------------------------------------------------

    def path(self, version: int) -> str:
        return f"{self.log_dir}/v{version:020d}.json"

    def versions(self) -> list[int]:
        out = []
        for name in self.store._list_dir(self.log_dir):
            if name.startswith("v") and name.endswith(".json"):
                with contextlib.suppress(ValueError):
                    out.append(int(name[1:-5]))
        return sorted(out)

    def read(self, version: int) -> dict | None:
        """Parsed snapshot file, or None if unreadable or torn; no
        ``accept`` check (vacuum and fsck see every file as written)."""
        data = self.store._read_small_file(self.path(version))
        if data is None:
            return None
        try:
            payload = json.loads(data)
        except ValueError:
            return None
        return payload if isinstance(payload, dict) else None

    def load(self, version: int) -> dict | None:
        """One version's snapshot if it parses and is accepted."""
        payload = self.read(version)
        return payload if payload is not None and self.accept(payload) else None

    def latest(self) -> dict | None:
        """Highest accepted snapshot (a deep copy), or None."""
        cache = self._parse_cache
        for version in reversed(self.versions()):
            hit = cache.get(version)
            if hit is None:
                hit = self.load(version)
                if hit is None:
                    continue
                hit[self.version_key] = version
                cache[version] = hit
                for v in sorted(cache)[:-4]:  # bound: the live tail
                    del cache[v]
            return copy.deepcopy(hit)
        return None

    def publish(self, version: int, data: bytes) -> None:
        if not self.store._create_exclusive(self.path(version), data):
            raise self.conflict_error(
                f"v{version} already exists at {self.log_dir} — a "
                "concurrent commit won that version; retry the operation"
            )

    # -- reader leases ------------------------------------------------------

    def read_leases(self):
        """Yield ``(file name, pinned version, expiry)`` per lease file;
        version and expiry are None for a torn or unreadable file."""
        for name in self.store._list_dir(self.lease_dir):
            if not name.endswith(".json"):
                continue
            data = self.store._read_small_file(f"{self.lease_dir}/{name}")
            try:
                payload = json.loads(data)
                lease = (
                    int(payload[self.version_key]),
                    datetime.fromisoformat(payload["expires_utc"]),
                )
            except Exception:
                lease = (None, None)
            yield (name, *lease)

    def leased_versions(self) -> set[int]:
        """Versions pinned by an unexpired lease; expired lease files
        are deleted here, so a leaked lease costs at most its TTL."""
        now = datetime.now(timezone.utc)
        pinned: set[int] = set()
        for name, version, expires in self.read_leases():
            if expires is None:
                continue  # torn lease write: never blocks vacuum
            if expires < now:
                with contextlib.suppress(Exception):
                    self.store._delete_path(f"{self.lease_dir}/{name}")
                continue
            pinned.add(version)
        return pinned

    @contextlib.contextmanager
    def lease(self, ttl_sec: float):
        """Pin the newest snapshot for ``ttl_sec``; yields it (as
        :meth:`latest` returns it) and removes the lease file on exit."""
        target = None
        try:
            for _attempt in range(3):
                snapshot = self.latest()
                if snapshot is None:
                    raise self.expired_error(
                        f"nothing committed at {self.log_dir}; build or "
                        "commit first"
                    )
                version = snapshot[self.version_key]
                target = (
                    f"{self.lease_dir}/v{version:020d}-{uuid.uuid4().hex[:12]}.json"
                )
                expires = datetime.now(timezone.utc) + timedelta(seconds=ttl_sec)
                payload = {
                    self.version_key: version,
                    "expires_utc": expires.isoformat(),
                }
                if not self.store._create_exclusive(
                    target, json.dumps(payload).encode()
                ):
                    # collision means ANOTHER holder owns that file —
                    # clear target so the finally can't delete it
                    collided, target = target, None
                    raise RuntimeError(f"lease file collision at {collided}")
                if version in self.versions():
                    break  # pinned AND still live: vacuum now retains it
                with contextlib.suppress(Exception):
                    self.store._delete_path(target)
                target = None
            else:
                raise self.expired_error(
                    f"could not pin a live snapshot at {self.log_dir}: every "
                    "candidate was vacuumed before the lease landed "
                    "(zero-retention vacuum racing this reader?)"
                )
            yield snapshot
        finally:
            if target is not None:
                with contextlib.suppress(Exception):
                    self.store._delete_path(target)

    # -- retention ----------------------------------------------------------

    def vacuum(
        self, *, keep_versions: int, min_age_sec: float
    ) -> tuple[dict[int, dict | None], int]:
        """Delete every unretained snapshot file. Returns (retained
        version → its parsed snapshot, None if torn; files deleted);
        the caller reclaims data dirs only after this returns."""
        if keep_versions < 1:
            raise ValueError("keep_versions must be >= 1")
        versions = self.versions()
        snapshots = {v: self.read(v) for v in versions}
        retained = set(versions[-keep_versions:])
        retained |= self.leased_versions() & set(versions)
        if min_age_sec > 0:
            now = datetime.now(timezone.utc)
            for older, successor in zip(versions, versions[1:]):
                try:
                    t = datetime.fromisoformat(
                        snapshots[successor]["committed_utc"]
                    )
                except Exception:
                    retained.add(older)  # undatable successor: keep
                    continue
                if (now - t).total_seconds() < min_age_sec:
                    retained.add(older)
        removed = 0
        for v in versions:
            if v not in retained:
                self.store._delete_path(self.path(v))
                removed += 1
        return {v: snapshots[v] for v in sorted(retained)}, removed
