"""Metadata-FS seam (bears_spark/io/metafs.py): local, commit-store-backed,
and pyarrow.fs-backed implementations must agree on the read-only surface
the lakehouse readers use (listdir children + start_after, read, exists,
mtime-or-None)."""

import os

import pytest

from bears_spark.io.commit_store import InMemoryCommitStore
from bears_spark.io.metafs import (
    ArrowMetaFS,
    CommitStoreMetaFS,
    LocalMetaFS,
    is_uri,
    metafs_for,
)


def test_is_uri():
    assert is_uri("s3://bucket/key")
    assert is_uri("gs://b/k")
    assert is_uri("file:///tmp/x")
    assert not is_uri("/tmp/x")
    assert not is_uri("relative/path")
    assert not is_uri("C:\\windows\\style")


def test_metafs_for_dispatch(tmp_path):
    assert isinstance(metafs_for(str(tmp_path)), LocalMetaFS)
    assert isinstance(metafs_for("s3://b/t"), ArrowMetaFS)
    store = InMemoryCommitStore()
    # explicit store wins over URI dispatch
    assert isinstance(metafs_for("s3://b/t", store=store), CommitStoreMetaFS)


def test_local_metafs(tmp_path):
    d = tmp_path / "log"
    d.mkdir()
    (d / "a.json").write_bytes(b"aa")
    (d / "b.json").write_bytes(b"bb")
    fs = LocalMetaFS()
    assert fs.listdir(str(d)) == ["a.json", "b.json"]
    assert fs.listdir(str(d), start_after="a.json") == ["b.json"]
    assert fs.listdir(str(tmp_path / "missing")) == []
    assert fs.read_bytes(str(d / "a.json")) == b"aa"
    assert fs.read_text(str(d / "b.json")) == "bb"
    assert fs.exists(str(d / "a.json")) and not fs.exists(str(d / "zz"))
    assert fs.isdir(str(d)) and not fs.isdir(str(d / "a.json"))
    assert fs.mtime(str(d / "a.json")) > 0
    with pytest.raises(FileNotFoundError):
        fs.read_bytes(str(d / "zz"))


def test_commit_store_metafs():
    store = InMemoryCommitStore()
    store.replace("s3://b/t/_delta_log/00000.json", b"x")
    store.replace("s3://b/t/_delta_log/00001.json", b"y")
    store.replace("s3://b/t/_delta_log/_sidecars/s1.parquet", b"z")
    fs = CommitStoreMetaFS(store)
    # immediate children only: the nested sidecar shows as its directory name
    assert fs.listdir("s3://b/t/_delta_log") == [
        "00000.json", "00001.json", "_sidecars"
    ]
    assert fs.listdir("s3://b/t/_delta_log", start_after="00000.json") == [
        "00001.json", "_sidecars"
    ]
    assert fs.listdir("s3://b/t/empty") == []
    assert fs.read_bytes("s3://b/t/_delta_log/00000.json") == b"x"
    assert fs.exists("s3://b/t/_delta_log/00001.json")
    assert not fs.exists("s3://b/t/_delta_log/00002.json")
    assert fs.isdir("s3://b/t/_delta_log")
    assert not fs.isdir("s3://b/t/nope")
    # no cheap stat on a commit store: callers must refuse, not guess
    assert fs.mtime("s3://b/t/_delta_log/00000.json") is None
    with pytest.raises(FileNotFoundError):
        fs.read_bytes("s3://b/t/_delta_log/00002.json")


def test_arrow_metafs_file_uri(tmp_path):
    """ArrowMetaFS over file:// exercises the same pyarrow.fs dispatch the
    s3://gs:// paths use, without needing credentials or network."""
    d = tmp_path / "meta"
    d.mkdir()
    (d / "v1.json").write_bytes(b"{}")
    (d / "v2.json").write_bytes(b"{}")
    fs = ArrowMetaFS()
    base = f"file://{d}"
    assert fs.listdir(base) == ["v1.json", "v2.json"]
    assert fs.listdir(base, start_after="v1.json") == ["v2.json"]
    assert fs.read_bytes(f"{base}/v1.json") == b"{}"
    assert fs.exists(f"{base}/v1.json")
    assert not fs.exists(f"{base}/v9.json")
    assert fs.isdir(base)
    assert fs.mtime(f"{base}/v1.json") > 0
    with pytest.raises(FileNotFoundError):
        fs.read_bytes(f"{base}/v9.json")
    # filesystem handle is cached per scheme+authority
    assert len(fs._cache) == 1


def test_arrow_metafs_missing_dir(tmp_path):
    fs = ArrowMetaFS()
    assert fs.listdir(f"file://{tmp_path}/absent") == []
    assert not fs.isdir(f"file://{tmp_path}/absent")


class _BucketRelativeStore(InMemoryCommitStore):
    """Mimics S3CommitStore's key space: list_prefix returns BUCKET-RELATIVE
    keys (no scheme/bucket), and _key maps full URIs to that space."""

    _PREFIX = "s3://bucket/"

    def _key(self, key: str) -> str:
        return key[len(self._PREFIX):] if key.startswith(self._PREFIX) else key.lstrip("/")

    def put(self, key: str, data: bytes) -> None:
        self.replace(self._key(key), data)

    def read(self, key: str) -> bytes:
        return super().read(self._key(key))

    def list_prefix(self, prefix: str, start_after: str | None = None) -> list[str]:
        return super().list_prefix(self._key(prefix), start_after)


def test_commit_store_metafs_bucket_relative_keys():
    """Real S3/GCS stores return bucket-relative keys; listdir must match
    them through the store's own key mapper, list immediate children only,
    and never basename-flatten nested keys into phantom entries (a backup/
    subdir commit must NOT surface as a parent-level commit)."""
    store = _BucketRelativeStore()
    store.put("s3://bucket/t/_delta_log/00000000000000000000.json", b"a")
    store.put("s3://bucket/t/_delta_log/backup/00000000000000000005.json", b"b")
    fs = CommitStoreMetaFS(store)
    assert fs.listdir("s3://bucket/t/_delta_log") == [
        "00000000000000000000.json", "backup"
    ]
    assert fs.read_bytes("s3://bucket/t/_delta_log/00000000000000000000.json") == b"a"
    assert fs.exists("s3://bucket/t/_delta_log/00000000000000000000.json")


def test_arrow_metafs_single_from_uri(tmp_path):
    """The per-root cache must make from_uri a ONE-TIME cost: a manifest
    walk re-handshaking per file defeats the cache's purpose."""
    from types import SimpleNamespace

    import pyarrow.fs as pafs

    d = tmp_path / "m"
    d.mkdir()
    (d / "a").write_bytes(b"1")
    (d / "b").write_bytes(b"2")
    calls = {"n": 0}

    def counting(uri):
        calls["n"] += 1
        return pafs.FileSystem.from_uri(uri)

    fs = ArrowMetaFS()
    # pyarrow's FileSystem type is immutable: shim the module handle instead
    fs._pafs = SimpleNamespace(
        FileSystem=SimpleNamespace(from_uri=counting),
        FileSelector=pafs.FileSelector,
        FileType=pafs.FileType,
    )
    base = f"file://{d}"
    assert fs.read_bytes(f"{base}/a") == b"1"
    assert fs.read_bytes(f"{base}/b") == b"2"
    assert fs.listdir(base) == ["a", "b"]
    assert fs.exists(f"{base}/a")
    assert calls["n"] == 1


def test_arrow_metafs_percent_escaped_root(tmp_path):
    """A %-escaped (or non-ASCII) URI root must resolve every path under it
    even after the per-scheme handle is cached: pyarrow percent-decodes rel,
    so deriving later rels by slicing a cached character count maps them to
    wrong keys (ADVICE r8 #1). rel is re-derived per call by URI parsing."""
    from urllib.parse import quote

    d = tmp_path / "meta dir ü"
    d.mkdir()
    (d / "a.json").write_bytes(b"1")
    (d / "b.json").write_bytes(b"22")
    fs = ArrowMetaFS()
    base = f"file://{quote(str(d))}"
    # cache miss (from_uri's own rel) ...
    assert fs.read_bytes(f"{base}/a.json") == b"1"
    # ... and every later call under the cached handle must agree
    assert fs.read_bytes(f"{base}/b.json") == b"22"
    assert fs.listdir(base) == ["a.json", "b.json"]
    assert fs.exists(f"{base}/a.json")
    assert not fs.exists(f"{base}/c.json")
    assert fs.mtime(f"{base}/a.json") > 0
    assert len(fs._cache) == 1
