"""Commit-store seam for table-format metadata: the tiny key/value substrate
the snapshot table (io/snapshot_table.py) and streaming fanout markers
(streaming/jobs.py) commit through.

The reference dispatches all IO through a storage abstraction
(src/bears/reader/Reader.py:81-116, writer/dataframe/DataFrameWriter.py:99-307)
so the same code runs on local disk or S3. This seam plays that role for the
COMMIT PROTOCOL only — bulk data files are written by Spark itself, which
already speaks every Hadoop filesystem; what needs a portability seam is the
handful of small, atomic metadata operations a table format is built from:

* ``put_if_absent`` — compare-and-swap on key existence. This is the commit
  primitive: two writers racing to publish manifest v(N+1) both call
  put_if_absent; exactly one wins, the loser re-reads the new parent and
  retries. Object stores provide it natively (S3 ``If-None-Match:*``, GCS
  ``ifGenerationMatch=0``, Azure ``If-None-Match``); the local-fs
  implementation uses hard-link publication (write tmp, ``os.link`` — link
  fails atomically if the target exists, and the target only ever appears
  with its full contents).
* ``replace`` — last-writer-wins atomic overwrite, for advisory pointers.
* ``read`` / ``list_prefix`` / ``delete`` / ``exists`` — the rest of what a
  manifest log needs.

Keys are plain paths (slash-separated); values are small byte strings
(manifests, markers, pointers) — never bulk data.
"""

from __future__ import annotations

import os
import threading
import time
import uuid
from abc import ABC, abstractmethod


class CommitConflictError(RuntimeError):
    """put_if_absent lost the race: the key already exists (another committer
    published this version first). Re-read the parent and retry."""


class CommitStore(ABC):
    @abstractmethod
    def put_if_absent(self, key: str, data: bytes) -> bool:
        """Atomically create ``key`` with ``data``. True if this call created
        it; False if the key already existed (contents untouched)."""

    @abstractmethod
    def replace(self, key: str, data: bytes) -> None:
        """Atomically overwrite ``key`` (create if absent), last writer wins.
        Readers never observe a partial value."""

    @abstractmethod
    def read(self, key: str) -> bytes:
        """Return the full value of ``key``; raise FileNotFoundError if absent."""

    @abstractmethod
    def list_prefix(self, prefix: str, start_after: str | None = None) -> list[str]:
        """All keys under ``prefix`` (a directory-like namespace), sorted.
        ``start_after`` keeps only keys whose name part AFTER the prefix is
        strictly greater — pushed down to the store's own listing API where
        one exists (S3 ``StartAfter``, GCS ``start_offset``), so a
        pointer-guided reader of a million-commit log lists only the
        suffix server-side instead of paging the whole namespace."""

    @abstractmethod
    def delete(self, key: str) -> None:
        """Remove ``key``; absent keys are a no-op."""

    def exists(self, key: str) -> bool:
        try:
            self.read(key)
            return True
        except FileNotFoundError:
            return False


class LocalCommitStore(CommitStore):
    """Default store over a driver-visible filesystem (local disk, NFS, fuse).

    put_if_absent publishes via hard link: the value is written to a private
    tmp file, then ``os.link(tmp, key)`` — POSIX guarantees link() fails with
    EEXIST if the target exists and otherwise makes the COMPLETE file visible
    in one metadata operation, so concurrent committers serialize correctly
    and readers never see a torn manifest."""

    # A zero-byte manifest can only be a claim-then-swap claim whose owner
    # crashed before os.replace (claims normally live microseconds). After
    # this grace period it is treated as abandoned and cleared so the table
    # doesn't wedge forever; tests may lower it.
    ABANDONED_CLAIM_GRACE = 10.0

    def _tmp(self, key: str) -> str:
        return f"{key}.{uuid.uuid4().hex}.tmp"

    def _reclaim_abandoned(self, key: str) -> bool:
        """Clear a crashed committer's permanent zero-byte claim. The claim is
        moved aside with os.rename — atomic, so of N committers racing to
        reclaim, every one that observes the key gone (its own rename or a
        FileNotFoundError) retries put_if_absent, where the normal link /
        O_EXCL race picks exactly one winner. Returns True when the key is
        known absent and a retry is worthwhile."""
        try:
            st = os.stat(key)
        except FileNotFoundError:
            return True  # someone else already cleared it
        if st.st_size != 0 or time.time() - st.st_mtime <= self.ABANDONED_CLAIM_GRACE:
            return False  # real manifest, or a claim young enough to be live
        try:
            os.rename(key, f"{key}.{uuid.uuid4().hex}.abandoned.tmp")
        except FileNotFoundError:
            pass  # another reclaimer won the rename; key is absent either way
        return True

    def put_if_absent(self, key: str, data: bytes, _reclaim: bool = True) -> bool:
        os.makedirs(os.path.dirname(key), exist_ok=True)
        tmp = self._tmp(key)
        with open(tmp, "wb") as f:
            f.write(data)
        try:
            os.link(tmp, key)
            return True
        except FileExistsError:
            if _reclaim and self._reclaim_abandoned(key):
                return self.put_if_absent(key, data, _reclaim=False)
            return False
        except OSError:
            # filesystem without hard links (some fuse/SMB mounts): claim
            # then swap — O_CREAT|O_EXCL is the atomic existence claim, and
            # the payload lands by os.replace of the fully-written tmp file
            # over the claimed key, so readers never observe a PARTIAL
            # manifest (at worst a momentary zero-byte claim, which
            # _load_manifest retries; object stores use conditional put and
            # never hit this path)
            try:
                fd = os.open(key, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            except FileExistsError:
                if _reclaim and self._reclaim_abandoned(key):
                    return self.put_if_absent(key, data, _reclaim=False)
                return False
            os.close(fd)
            os.replace(tmp, key)
            return True
        finally:
            try:
                os.unlink(tmp)
            except FileNotFoundError:
                pass  # consumed by the claim-then-swap os.replace

    def replace(self, key: str, data: bytes) -> None:
        os.makedirs(os.path.dirname(key), exist_ok=True)
        tmp = self._tmp(key)
        with open(tmp, "wb") as f:
            f.write(data)
        os.replace(tmp, key)

    def read(self, key: str) -> bytes:
        with open(key, "rb") as f:
            return f.read()

    def list_prefix(self, prefix: str, start_after: str | None = None) -> list[str]:
        if not os.path.isdir(prefix):
            return []
        names = (n for n in os.listdir(prefix) if not n.endswith(".tmp"))
        if start_after is not None:
            names = (n for n in names if n > start_after)
        return sorted(os.path.join(prefix, n) for n in names)

    def delete(self, key: str) -> None:
        try:
            os.unlink(key)
        except FileNotFoundError:
            pass


class InMemoryCommitStore(CommitStore):
    """Mock object store for tests: a dict guarded by a lock, with the same
    CAS semantics as S3 conditional put. Lets multi-writer conflict behavior
    be asserted without a real object store (tests/test_snapshot_table.py)."""

    def __init__(self) -> None:
        self._data: dict[str, bytes] = {}
        self._lock = threading.Lock()
        self.cas_failures = 0  # observability for tests

    def put_if_absent(self, key: str, data: bytes) -> bool:
        with self._lock:
            if key in self._data:
                self.cas_failures += 1
                return False
            self._data[key] = data
            return True

    def replace(self, key: str, data: bytes) -> None:
        with self._lock:
            self._data[key] = data

    def read(self, key: str) -> bytes:
        with self._lock:
            if key not in self._data:
                raise FileNotFoundError(key)
            return self._data[key]

    def list_prefix(self, prefix: str, start_after: str | None = None) -> list[str]:
        p = prefix.rstrip("/") + "/"
        floor = p + start_after if start_after is not None else None
        with self._lock:
            return sorted(
                k for k in self._data if k.startswith(p) and (floor is None or k > floor)
            )

    def delete(self, key: str) -> None:
        with self._lock:
            self._data.pop(key, None)


def _strip_object_uri(key: str, scheme_prefixes: tuple[str, ...], bucket: str) -> str:
    """Map a path-like key to an object key: strip a leading
    ``<scheme>://<bucket>/`` if present (SnapshotTable joins keys with
    os.path, so keys may arrive as full URIs or bare object keys)."""
    for sp in scheme_prefixes:
        full = f"{sp}://{bucket}/"
        if key.startswith(full):
            return key[len(full):]
    return key.lstrip("/")


class _ObjectCommitStore(CommitStore):
    """The conditional-put retry loop the object stores share.

    A timeout or 5xx on the conditional put is AMBIGUOUS — the put may have
    landed before the response was lost — so every retry first re-reads the
    key and compares payloads: equal -> our commit landed (True, no duplicate
    version); different -> another committer won (False, a real conflict);
    absent -> the put never landed, retry it. A subclass classifies its
    client's errors: ``_is_retryable``, ``_key_exists`` (412) and
    ``_lost_race`` (another conditional write is in flight)."""

    RETRIES = 4
    RETRY_BACKOFF = 0.2  # seconds, doubled per attempt

    def _lost_race(self, exc: Exception) -> bool:
        return False

    def _conditional_put(self, key: str, data: bytes, put) -> bool:
        for attempt in range(self.RETRIES + 1):
            try:
                put()
                return True
            except Exception as exc:
                if self._lost_race(exc) or (attempt == 0 and self._key_exists(exc)):
                    return False
                if self._key_exists(exc):
                    # a prior attempt on THIS call failed ambiguously; the 412
                    # may be our own landed payload — resolve by content
                    try:
                        return self.read(key) == data
                    except FileNotFoundError:
                        return False
                if not self._is_retryable(exc) or attempt == self.RETRIES:
                    raise
            time.sleep(self.RETRY_BACKOFF * (2**attempt))
            try:
                existing = self.read(key)
            except Exception as exc:
                # the put never landed, or the read is flaky too: retry the put
                if isinstance(exc, FileNotFoundError) or self._is_retryable(exc):
                    continue
                raise
            return existing == data
        raise RuntimeError("unreachable")  # pragma: no cover


class S3CommitStore(_ObjectCommitStore):
    """Object-store commit protocol over S3 conditional writes.

    ``put_if_absent`` is PutObject with ``IfNoneMatch="*"`` — S3 returns
    412 PreconditionFailed when the key already exists and 409
    ConditionalRequestConflict when another conditional write is in flight
    on the same key; both mean "you lost the CAS" (the 409 loser retries
    through the normal commit loop, where it will read the winner's
    manifest). This is the exact primitive Delta/Iceberg use for
    coordination-free commits on S3 — no DynamoDB lock table needed since
    S3 shipped conditional writes.

    ``client`` is injectable (any object speaking the boto3 S3 client
    surface) so the CAS semantics are testable through a stub transport
    without network or credentials; by default a real boto3 client is
    constructed lazily, with an informative error when boto3 is absent.
    """

    _SCHEMES = ("s3", "s3a", "s3n")

    def __init__(self, bucket: str, client=None) -> None:
        self.bucket = bucket
        if client is None:
            try:
                import boto3
            except ImportError as exc:  # pragma: no cover - env-dependent
                raise ImportError(
                    "S3CommitStore needs boto3 (or pass an explicit client)"
                ) from exc
            client = boto3.client("s3")
        self.client = client

    def _key(self, key: str) -> str:
        return _strip_object_uri(key, self._SCHEMES, self.bucket)

    # transient server-side failures worth retrying with backoff
    _RETRYABLE_CODES = ("InternalError", "ServiceUnavailable", "SlowDown",
                        "RequestTimeout", "500", "503")

    @staticmethod
    def _error_code(exc: Exception) -> str:
        err = getattr(exc, "response", None) or {}
        return str(err.get("Error", {}).get("Code", "")) if isinstance(err, dict) else ""

    def _is_retryable(self, exc: Exception) -> bool:
        return (
            self._error_code(exc) in self._RETRYABLE_CODES
            or "Timeout" in type(exc).__name__  # botocore Read/ConnectTimeoutError
        )

    def _key_exists(self, exc: Exception) -> bool:
        return self._error_code(exc) == "PreconditionFailed"  # 412

    def _lost_race(self, exc: Exception) -> bool:
        return self._error_code(exc) == "ConditionalRequestConflict"  # 409

    def put_if_absent(self, key: str, data: bytes) -> bool:
        return self._conditional_put(
            key,
            data,
            lambda: self.client.put_object(Bucket=self.bucket, Key=self._key(key), Body=data, IfNoneMatch="*"),
        )

    def replace(self, key: str, data: bytes) -> None:
        self.client.put_object(Bucket=self.bucket, Key=self._key(key), Body=data)

    def read(self, key: str) -> bytes:
        try:
            resp = self.client.get_object(Bucket=self.bucket, Key=self._key(key))
        except Exception as exc:
            if self._error_code(exc) in ("NoSuchKey", "404"):
                raise FileNotFoundError(key) from exc
            raise
        body = resp["Body"]
        return body.read() if hasattr(body, "read") else body

    def list_prefix(self, prefix: str, start_after: str | None = None) -> list[str]:
        p = self._key(prefix).rstrip("/") + "/"
        keys: list[str] = []
        token = None
        while True:
            kwargs = {"Bucket": self.bucket, "Prefix": p}
            if start_after is not None and token is None:
                # server-side suffix listing: S3 returns only keys strictly
                # after this one (continuation pages carry it implicitly)
                kwargs["StartAfter"] = p + start_after
            if token:
                kwargs["ContinuationToken"] = token
            resp = self.client.list_objects_v2(**kwargs)
            keys.extend(o["Key"] for o in resp.get("Contents", []))
            if not resp.get("IsTruncated"):
                break
            token = resp.get("NextContinuationToken")
        return sorted(keys)

    def delete(self, key: str) -> None:
        self.client.delete_object(Bucket=self.bucket, Key=self._key(key))


class GCSCommitStore(_ObjectCommitStore):
    """Object-store commit protocol over GCS generation preconditions:
    ``put_if_absent`` uploads with ``if_generation_match=0`` (the object may
    only be created, never replaced — GCS's native CAS; 412
    PreconditionFailed means the key exists). Requires google-cloud-storage;
    ``bucket_obj`` is injectable for stub-transport tests."""

    _SCHEMES = ("gs",)

    def __init__(self, bucket: str, bucket_obj=None) -> None:
        self.bucket = bucket
        if bucket_obj is None:
            try:
                from google.cloud import storage  # type: ignore
            except ImportError as exc:  # pragma: no cover - env-dependent
                raise ImportError(
                    "GCSCommitStore needs google-cloud-storage "
                    "(or pass an explicit bucket_obj)"
                ) from exc
            bucket_obj = storage.Client().bucket(bucket)
        self.bucket_obj = bucket_obj

    def _key(self, key: str) -> str:
        return _strip_object_uri(key, self._SCHEMES, self.bucket)

    def _is_retryable(self, exc: Exception) -> bool:
        code = getattr(exc, "code", None)
        return code in (500, 502, 503, 504) or "Timeout" in type(exc).__name__

    def _key_exists(self, exc: Exception) -> bool:
        return getattr(exc, "code", None) == 412 or type(exc).__name__ == "PreconditionFailed"

    def put_if_absent(self, key: str, data: bytes) -> bool:
        blob = self.bucket_obj.blob(self._key(key))
        return self._conditional_put(key, data, lambda: blob.upload_from_string(data, if_generation_match=0))

    def replace(self, key: str, data: bytes) -> None:
        self.bucket_obj.blob(self._key(key)).upload_from_string(data)

    def read(self, key: str) -> bytes:
        blob = self.bucket_obj.blob(self._key(key))
        try:
            return blob.download_as_bytes()
        except Exception as exc:
            code = getattr(exc, "code", None)
            if code == 404 or type(exc).__name__ == "NotFound":
                raise FileNotFoundError(key) from exc
            raise

    def list_prefix(self, prefix: str, start_after: str | None = None) -> list[str]:
        p = self._key(prefix).rstrip("/") + "/"
        if start_after is None:
            return sorted(b.name for b in self.bucket_obj.list_blobs(prefix=p))
        # GCS start_offset is INCLUSIVE; the contract is strictly-after, so
        # the floor key itself is filtered out client-side
        floor = p + start_after
        return sorted(
            b.name
            for b in self.bucket_obj.list_blobs(prefix=p, start_offset=floor)
            if b.name > floor
        )

    def delete(self, key: str) -> None:
        blob = self.bucket_obj.blob(self._key(key))
        try:
            blob.delete()
        except Exception as exc:
            code = getattr(exc, "code", None)
            if code == 404 or type(exc).__name__ == "NotFound":
                return
            raise
