"""Snapshot-versioned parquet tables: atomic commits, time travel, and
manifest-driven data skipping — the lakehouse table-format layer the reference
leaves to raw directories (src/bears/writer/dataframe/DataFrameWriter.py:30
writes files; nothing versions them or indexes their contents).

Layout (keys live in a :class:`~bears_spark.io.commit_store.CommitStore`;
bulk data files are written by Spark itself)::

    <table>/
      _manifests/v00000001.json    one immutable manifest per committed version
      _current                     advisory pointer (cache; listing is truth)
      data/<uuid>/part-*.parquet   immutable data files, never rewritten

A manifest lists the table's data files with per-file, per-column min/max
stats harvested from the parquet footers. Commits are O(delta): an append
writes only the new files and a manifest that references the parent's file
list. The commit point is ``put_if_absent`` of the next manifest — a
compare-and-swap, so two concurrent committers serialize: exactly one
publishes v(N+1); the loser reloads the new parent and retries its commit
against it. On the default local-filesystem store the CAS is hard-link
publication; on an object store it is conditional put. Readers resolve the
current version by listing the manifest log (never a torn read: manifests
appear whole or not at all).

Data skipping: ``read(where=...)`` prunes whole files whose [min, max] range
cannot satisfy the predicate BEFORE Spark plans the scan — on a 100 TB table
sorted or clustered by the predicate column (see functions/sketch.py Z-order
/ Hilbert layouts) this is the difference between scanning everything and
scanning a handful of files. Temporal stats (date/timestamp) are serialized
as epoch-micros, decimals as strings, so skipping works on time-clustered
streaming tables — the most common 100 TB layout. Row-group-level pruning
inside surviving files still happens via Spark's normal parquet pushdown.

``delete_where`` is copy-on-write: files provably outside the predicate are
carried over untouched; only overlapping files are rewritten filtered (SQL
DELETE semantics: NULL-keyed rows never match a predicate, so they survive).
Cost is proportional to the data that actually changes, never table size.

Streaming ingest is exactly-once via Delta-style transaction stamps: each
commit records (app_id, batch_id); a replayed micro-batch is skipped only
when BOTH match, so a new checkpoint (epoch ids restart at 0) never
collides with a previous ingest's stamps. Stamps accumulate into every
child manifest, so expiring old manifests never forgets them.
"""

from __future__ import annotations

import datetime
import decimal
import json
import operator
import os
import time
import uuid
from dataclasses import dataclass, field

import pyarrow as pa
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession

from bears_spark.io.commit_store import CommitConflictError, CommitStore, LocalCommitStore
from bears_spark.io.metafs import datafs_for, is_uri, join_path, parquet_metadata, spark_path

_OPS = {
    "=": operator.eq, "==": operator.eq, "<": operator.lt, "<=": operator.le,
    ">": operator.gt, ">=": operator.ge,
}


class ConstraintViolationError(ValueError):
    """A commit's incoming rows violate a table CHECK constraint (or
    ``add_check_constraint`` found existing rows that do). The commit is
    aborted; the table is unchanged."""


class BranchConflictError(RuntimeError):
    """``publish_branch`` found main advanced past the branch's fork point —
    the fast-forward contract of write-audit-publish is broken. Re-fork (or
    pass ``force=True`` to publish the branch state over main anyway)."""

_EPOCH_DT = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
_EPOCH_D = datetime.date(1970, 1, 1)
_US = datetime.timedelta(microseconds=1)


def _encode_stat(v):
    """Parquet footer stat -> JSON-storable value. int/float/str/bool pass
    through; date/timestamp become tagged epoch-micros, decimals tagged
    strings; anything else (binary, nested) returns None = no stat."""
    if isinstance(v, bool) or type(v) in (int, float, str):
        return v
    if isinstance(v, datetime.datetime):
        aware = v if v.tzinfo else v.replace(tzinfo=datetime.timezone.utc)
        return {"t": "ts", "v": (aware - _EPOCH_DT) // _US}
    if isinstance(v, datetime.date):
        return {"t": "ts", "v": (v - _EPOCH_D).days * 86_400_000_000}
    if isinstance(v, decimal.Decimal):
        return {"t": "dec", "v": str(v)}
    return None


# Delta's statsColumns convention: string min/max are truncated to a fixed
# prefix so a long-text column never embeds document bodies in every
# manifest — at 100 TB, manifest bytes are planning-latency and driver-heap
# bytes. 32 chars matches Delta's dataSkippingStringPrefixLength default.
STAT_STRING_PREFIX = 32


def _truncate_string_stats(stats: dict, width: int = STAT_STRING_PREFIX) -> dict:
    """Widen string stats to a bounded-prefix form: min keeps its first
    ``width`` chars (a valid lower bound); max keeps the prefix with its
    last code point incremented (a valid upper bound for EVERY string
    sharing the prefix — the standard Delta/Iceberg upper-bound trick,
    skipping the surrogate gap). A prefix of all U+10FFFF has no upper
    bound, so that column's stat is dropped entirely (conservative: no
    stat = always match). Non-string stats pass through untouched."""
    out = {}
    for col, s in stats.items():
        mn, mx = s["min"], s["max"]
        if not (isinstance(mn, str) and isinstance(mx, str)):
            out[col] = s
            continue
        if len(mn) <= width and len(mx) <= width:
            out[col] = s
            continue
        new_mn = mn[:width]
        if len(mx) <= width:
            out[col] = {"min": new_mn, "max": mx}
            continue
        t = mx[:width]
        new_mx = None
        for i in range(len(t) - 1, -1, -1):
            cp = ord(t[i])
            if cp < 0x10FFFF:
                nxt = cp + 1
                if 0xD800 <= nxt <= 0xDFFF:
                    nxt = 0xE000  # never emit a lone surrogate
                new_mx = t[:i] + chr(nxt)
                break
        if new_mx is None:
            continue  # unbounded above: drop the stat, keep the file matchable
        out[col] = {"min": new_mn, "max": new_mx}
    return out


def _coerce_value(value, stat):
    """Predicate value -> the stat's comparison domain (epoch-micros for
    tagged temporal stats, Decimal for tagged decimals, raw otherwise).
    None means 'cannot compare' -> the caller conservatively matches."""
    if isinstance(stat, dict):
        if stat.get("t") == "ts":
            v = value
            if isinstance(v, str):
                try:
                    v = datetime.datetime.fromisoformat(v)
                except ValueError:
                    return None
            if isinstance(v, datetime.datetime):
                aware = v if v.tzinfo else v.replace(tzinfo=datetime.timezone.utc)
                return (aware - _EPOCH_DT) // _US
            if isinstance(v, datetime.date):
                return (v - _EPOCH_D).days * 86_400_000_000
            return None
        if stat.get("t") == "dec":
            try:
                return decimal.Decimal(str(value))
            except decimal.InvalidOperation:
                return None
        return None
    # raw stats: numeric compares with numeric, str with str, else punt
    if isinstance(value, (int, float)) != isinstance(stat, (int, float)):
        return None
    return value


def _decode_stat(stat):
    if isinstance(stat, dict):
        return decimal.Decimal(stat["v"]) if stat.get("t") == "dec" else stat["v"]
    return stat


@dataclass
class FileEntry:
    path: str
    rows: int  # PHYSICAL rows in the file; live rows = rows - dv cardinality
    stats: dict = field(default_factory=dict)  # col -> {"min": v, "max": v}
    # col -> {"m": bits, "k": hashes, "bits": hex bitmap} — per-file Bloom
    # filters (Delta/Iceberg-style) for point-lookup pruning on columns whose
    # min/max ranges overlap across files (unclustered keys)
    blooms: dict = field(default_factory=dict)
    # merge-on-read deletion vector (delete_where mode="mor"):
    # {"path", "offset", "sizeInBytes", "cardinality"} — Delta-framed roaring
    # bitmap of deleted row positions (io/dv.py). None = every row live.
    # Stats/blooms stay valid SUPERSETS under a DV (pruning only ever skips
    # files that provably contain no match). DV files are immutable: every
    # new delete writes a fresh one, so (path, dv.path) is a snapshot-stable
    # identity for conflict detection and incremental consumers.
    dv: dict | None = None
    # physical column name -> Spark DDL type the file was WRITTEN with —
    # powers alter_column_type's explicit-schema reads and the Delta
    # exporter's physical/declared type match check. Empty on files written
    # before type tracking (treated as unknown, conservatively).
    types: dict = field(default_factory=dict)

    @property
    def live_rows(self) -> int:
        return self.rows - (int(self.dv["cardinality"]) if self.dv else 0)

    def identity(self) -> tuple[str, str | None]:
        """Snapshot-stable content identity: the file path plus its DV file
        (both immutable). Two manifests referencing the same identity hold
        byte-identical LIVE row sets."""
        return (self.path, self.dv["path"] if self.dv else None)

    def _bloom_rejects(self, col: str, value) -> bool:
        """True when the file's Bloom filter PROVES ``col = value`` matches no
        row. False negatives are impossible (standard Bloom guarantee), so
        this only ever removes files the equality scan could skip anyway.

        Bits were built from Spark's cast-to-string of an int/string column
        (enforced at write). A probe whose Python rendering differs from the
        storage rendering (float 41.0 -> '41.0' vs bigint '41') would hash
        to different positions and silently prune a matching file — so the
        probe is normalized to every PLAUSIBLE storage rendering and the
        file is rejected only when ALL of them are absent (ADVICE r5 #4).
        Probes with no trustworthy rendering fall through to range stats."""
        import hashlib

        b = self.blooms.get(col)
        if not b:
            return False
        if isinstance(value, bool):
            return False  # blooms are never built on boolean columns
        if isinstance(value, (int, str)):
            renderings = [str(value)]
        elif isinstance(value, float) and value.is_integer():
            # could be probing a bigint column ('41') or a string column
            # storing '41.0' — must miss under BOTH to reject
            renderings = [str(int(value)), str(value)]
        elif isinstance(value, float):
            renderings = [str(value)]
        else:
            return False  # decimal/date/...: rendering ambiguous, use stats
        bits = int(b["bits"], 16)
        for rendering in renderings:
            for i in range(b["k"]):
                # mirror functions/sketch.bloom_positions: md5_hash64(cast-
                # to-string value, salt=i) % m
                h = int(hashlib.md5(f"{i}:{rendering}".encode()).hexdigest()[:15], 16) % b["m"]
                if not (bits >> h) & 1:
                    break  # this rendering is provably absent
            else:
                return False  # rendering may be present: cannot reject
        return True

    def may_match(self, col: str, op: str, value) -> bool:
        """False only when NO row in this file can satisfy ``col op value``.
        Missing stats (absent column, all-null chunk, un-encodable type)
        conservatively match."""
        if op in ("=", "==") and self._bloom_rejects(col, value):
            return False
        s = self.stats.get(col)
        if not s or s.get("min") is None or s.get("max") is None:
            return True
        v = _coerce_value(value, s["min"])
        if v is None:
            return True  # stat/value domain mismatch: conservatively match
        lo, hi = _decode_stat(s["min"]), _decode_stat(s["max"])
        if op in ("=", "=="):
            return lo <= v <= hi
        if op == "<":
            return lo < v
        if op == "<=":
            return lo <= v
        if op == ">":
            return hi > v
        if op == ">=":
            return hi >= v
        raise ValueError(f"unsupported operator {op!r}")


class SnapshotTable:
    """Handle to a snapshot-versioned parquet table rooted at ``path``.

    ``store`` is the commit-protocol seam (manifests, pointer, markers);
    defaults to the local filesystem. Concurrent committers are safe: the
    manifest CAS serializes them and losers retry against the new parent
    (``max_commit_retries`` bounds the loop)."""

    def __init__(self, spark: SparkSession, path: str, store: CommitStore | None = None,
                 max_commit_retries: int = 10, bloom_cols: list[str] | None = None,
                 bloom_bits: int = 4096, bloom_k: int = 3,
                 branch: str | None = None):
        self.spark = spark
        self.path = path
        # a branch handle commits to its own manifest namespace
        # (_branches/<name>/_manifests) but shares the data-file pool —
        # the Iceberg refs model; obtain one via table.branch(name)
        self.branch_name = branch
        # data-plane seam (VERDICT r8 #2): DV blobs, footer reads and vacuum
        # route through a writable filesystem — pyarrow.fs for URI roots,
        # plain os calls (byte-identical to the local-only engine) otherwise.
        # Bulk parquet is still written/read by Spark, which speaks every
        # Hadoop filesystem; spark_path() translates s3:// -> s3a:// at that
        # boundary.
        self.fs = datafs_for(path)
        if store is None:
            if is_uri(path) and not path.startswith("file://"):
                # the local hard-link CAS cannot serialize commits on an
                # object store — refuse loudly instead of writing manifests
                # to a literal "s3:" directory under the CWD
                raise ValueError(
                    f"a {path.split('://', 1)[0]}:// table root needs an "
                    f"explicit CommitStore (S3CommitStore / GCSCommitStore / "
                    f"InMemoryCommitStore for tests)"
                )
            store = LocalCommitStore()
        self.store = store
        # manifest keys live in the store's own key space: the default
        # LocalCommitStore speaks os paths, so a file:// root is decoded to
        # its local form for METADATA keys only (data keeps the URI, proving
        # the pyarrow-side plumbing end to end)
        self._meta_root = path
        if isinstance(store, LocalCommitStore) and path.startswith("file://"):
            from urllib.parse import unquote, urlparse

            self._meta_root = unquote(urlparse(path).path)
        self.max_commit_retries = max_commit_retries
        # per-file Bloom filters on these (int/string) columns: point-lookup
        # pruning where min/max can't help — an unclustered key's range spans
        # every file, but its VALUE set per file is small and bloomable
        self.bloom_cols = list(bloom_cols or [])
        self.bloom_bits = bloom_bits
        self.bloom_k = bloom_k

    # -- commit protocol ----------------------------------------------------
    def _namespace_root(self) -> str:
        if self.branch_name is None:
            return self._meta_root
        return join_path(self._meta_root, "_branches", self.branch_name)

    def _manifest_key(self, version: int) -> str:
        return join_path(self._namespace_root(), "_manifests", f"v{version:08d}.json")

    def current_version(self) -> int:
        """Latest committed version = max of the manifest log listing (the
        advisory ``_current`` pointer is a cache, never the authority — a
        committer that crashed after CAS but before the pointer update must
        still win)."""
        keys = self.store.list_prefix(join_path(self._namespace_root(), "_manifests"))
        versions = []
        for k in keys:
            name = os.path.basename(k)
            if name.startswith("v") and name.endswith(".json"):
                try:
                    versions.append(int(name[1:-5]))
                except ValueError:
                    continue
        return max(versions, default=0)

    def _load_manifest(self, version: int | str | None = None) -> dict:
        if isinstance(version, str):
            version = self._resolve_tag(version)
        v = self.current_version() if version is None else version
        if v == 0:
            return {"version": 0, "operation": "empty", "files": [], "txns": {}}
        # the no-hardlink LocalCommitStore fallback publishes claim-then-swap,
        # so a reader can momentarily observe the zero-byte claim before the
        # payload replaces it — retry briefly; partial JSON is impossible
        # (os.replace is atomic), so one live committer resolves this fast
        last: Exception | None = None
        for _ in range(50):
            raw = self.store.read(self._manifest_key(v))
            try:
                return json.loads(raw)
            except json.JSONDecodeError as e:
                last = e
                import time

                time.sleep(0.01)
        if not raw:
            # a committer crashed between claim and swap and the grace period
            # hasn't elapsed yet; the next put_if_absent on this key after
            # ABANDONED_CLAIM_GRACE reclaims it automatically
            raise RuntimeError(
                f"manifest v{v} is a zero-byte claim-then-swap claim whose "
                f"committer appears to have crashed; a later commit will "
                f"reclaim it after the grace period"
            ) from last
        raise last

    # -- schema evolution (column mapping) ------------------------------------
    def column_mapping(self, version: int | None = None) -> list[dict] | None:
        """The snapshot's ordered logical->physical column mapping
        (``[{"id", "name", "physical"}]``), or None for a table whose schema
        never evolved. Physical names are the column names inside the
        immutable parquet files and NEVER change; ``rename_column`` moves
        only the logical name (Delta's columnMapping model, Iceberg's
        field-id model — the exporters translate to each). A DROPPED column
        stays in the list with ``"dropped": True`` — its field id is retired
        and its physical name reserved (old files still store it, and the
        Iceberg exporter's name-mapping must keep resolving it); live-view
        consumers filter the tombstones out."""
        return self._load_manifest(version).get("columns")

    @staticmethod
    def _live_cols(mapping: list[dict]) -> list[dict]:
        return [c for c in mapping if not c.get("dropped")]

    def _synthesize_mapping(self, parent_m: dict) -> list[dict]:
        """First-evolution bootstrap: identity mapping from the current
        merged snapshot schema, ids by position (1-based) — the SAME ids the
        Iceberg exporter's pre-mapping enumeration assigned, so a replica's
        field ids stay stable across the table's first rename."""
        files = [FileEntry(**e) for e in parent_m["files"]]
        if not files:
            raise ValueError(
                "cannot evolve the schema of an empty table (no schema source)"
            )
        schema = self._scan(files).schema
        return [
            {"id": i + 1, "name": f.name, "physical": f.name}
            for i, f in enumerate(schema.fields)
        ]

    @staticmethod
    def _physical_col(col: str, mapping: list[dict] | None) -> str:
        """Translate one LOGICAL column name to its physical name."""
        if mapping is None:
            return col
        for c in mapping:
            if not c.get("dropped") and c["name"] == col:
                return c["physical"]
        raise ValueError(
            f"unknown column {col!r} (live columns: "
            f"{[c['name'] for c in mapping if not c.get('dropped')]})"
        )

    def _to_physical_df(self, df: DataFrame, mapping: list[dict] | None) -> DataFrame:
        """Rename a LOGICAL-named incoming df to physical names for writing.
        Columns outside the mapping are NEW columns (their physical name is
        their logical name) — unless the name collides with another column's
        physical name, which refuses: under name-keyed mapping the new data
        would silently read back as the OLD column."""
        from pyspark.sql import functions as F

        if mapping is None:
            return df
        l2p = {c["name"]: c["physical"] for c in mapping if not c.get("dropped")}
        reserved = {c["physical"]: c for c in mapping}
        cols = []
        for name in df.columns:
            phys = l2p.get(name)
            if phys is None:
                # a new column: its physical name is its own — refuse if a
                # live OR dropped column already owns that physical name
                # (name-keyed translation would silently alias the old data)
                owner = reserved.get(name)
                if owner is not None:
                    raise ValueError(
                        f"column {name!r} collides with the physical name of "
                        f"{'dropped ' if owner.get('dropped') else 'renamed '}"
                        f"column {owner['name']!r}; pick a different name"
                    )
                cols.append(F.col(name))
            elif phys == name:
                cols.append(F.col(name))
            else:
                cols.append(F.col(name).alias(phys))
        return df.select(cols)

    @staticmethod
    def _project_mapping(df: DataFrame, mapping: list[dict] | None) -> DataFrame:
        """Physical scan -> logical view: select mapped columns (in mapping
        order) under their logical names. Dropped columns vanish here without
        touching a data byte; a mapped column absent from every scanned file
        (a stats-pruned subset predating its add) is simply absent, matching
        the unmapped engine's subset-scan behavior."""
        from pyspark.sql import functions as F

        if mapping is None:
            return df
        present = set(df.columns)
        cols = []
        for c in mapping:
            if c.get("dropped"):
                continue
            if c["physical"] in present:
                cols.append(F.col(c["physical"]).alias(c["name"]))
            elif c.get("type"):
                # add_column before any data arrived: a typed NULL, the
                # Iceberg/Delta add-column read contract
                cols.append(F.expr(f"CAST(NULL AS {c['type']})").alias(c["name"]))
        return df.select(*cols)

    @staticmethod
    def _extend_mapping(mapping: list[dict], df_columns: list[str],
                        df_types: dict[str, str] | None = None) -> list[dict]:
        """Additive evolution under a mapping: unseen df columns join the
        mapping with fresh ids (physical = logical, like mergeSchema appends
        on an unmapped table). On a FULLY TYPED mapping (post
        alter_column_type — every live entry carries a type, switching scans
        to the explicit-schema path) the new entries must carry their type
        too, taken from ``df_types``; an untyped mapping stays untyped so
        pre-widening subset-scan semantics are untouched."""
        known = {c["name"] for c in mapping if not c.get("dropped")}
        reserved = {c["physical"] for c in mapping}
        typed = all("type" in c for c in mapping if not c.get("dropped"))
        out = [dict(c) for c in mapping]
        next_id = max((int(c["id"]) for c in mapping), default=0) + 1
        for name in df_columns:
            if name in known:
                continue
            if name in reserved:
                raise ValueError(
                    f"column name {name!r} is retired (the physical name of a "
                    f"dropped or renamed column); pick a different name"
                )
            entry = {"id": next_id, "name": name, "physical": name}
            if typed:
                if not df_types or name not in df_types:
                    raise ValueError(
                        f"cannot add column {name!r} to a type-widened table "
                        f"without its type (explicit-schema reads need it)"
                    )
                entry["type"] = df_types[name]
            out.append(entry)
            next_id += 1
        return out

    def rename_column(self, old: str, new: str) -> int:
        """Metadata-only column rename: no data file is touched — the commit
        re-points the logical name at the same physical column (first
        evolution synthesizes the identity mapping). Time travel across the
        rename serves each snapshot under ITS OWN names. Refuses a taken
        logical name and a name shadowing another column's physical name
        (name-keyed translation would turn that into silent misreads).
        Exports map to Delta columnMapping / Iceberg field-id evolution."""

        def build_cols(parent_m: dict) -> list[dict]:
            mapping = parent_m.get("columns") or self._synthesize_mapping(parent_m)
            names = [c["name"] for c in self._live_cols(mapping)]
            if old not in names:
                raise ValueError(f"unknown column {old!r} (live columns: {names})")
            if new in names:
                raise ValueError(f"column {new!r} already exists")
            for c in mapping:
                owns_old = not c.get("dropped") and c["name"] == old
                if not owns_old and c["physical"] == new:
                    raise ValueError(
                        f"{new!r} is the physical name of "
                        f"{'dropped ' if c.get('dropped') else ''}column "
                        f"{c['name']!r}; renaming onto it would make writes "
                        f"ambiguous"
                    )
            out = [
                dict(c, name=new) if (not c.get("dropped") and c["name"] == old)
                else dict(c)
                for c in mapping
            ]
            self._refuse_ddl_breaking_constraints(
                parent_m, out, f"rename column {old!r}"
            )
            return out

        return self._commit(
            "rename-column",
            lambda parent_m: [FileEntry(**e) for e in parent_m["files"]],
            build_columns=build_cols,
        )

    def add_column(self, col: str, dtype: str) -> int:
        """Metadata-only column ADD (completing the rename/drop/add DDL verb
        set): no data file is touched — the new column reads as a typed NULL
        until data arrives (Iceberg/Delta add-column semantics). ``dtype`` is
        a Spark DDL type string ("double", "bigint", "string", ...). Refuses
        a live name and a name shadowing a reserved physical name."""
        # validate the DDL type NOW, not at first read
        self.spark.createDataFrame([], f"`__probe__` {dtype}")

        def build_cols(parent_m: dict) -> list[dict]:
            mapping = parent_m.get("columns") or self._synthesize_mapping(parent_m)
            live = {c["name"] for c in self._live_cols(mapping)}
            if col in live:
                raise ValueError(f"column {col!r} already exists")
            if any(c["physical"] == col for c in mapping):
                raise ValueError(
                    f"column name {col!r} is retired (the physical name of a "
                    f"dropped or renamed column); pick a different name"
                )
            next_id = max(int(c["id"]) for c in mapping) + 1
            return [dict(c) for c in mapping] + [
                {"id": next_id, "name": col, "physical": col, "type": dtype}
            ]

        return self._commit(
            "add-column",
            lambda parent_m: [FileEntry(**e) for e in parent_m["files"]],
            build_columns=build_cols,
        )

    # type-widening promotions: Iceberg's legal set (also what Spark 4's
    # parquet readers natively widen when handed an explicit read schema) —
    # integer chain, float->double, decimal precision increase at same scale
    _WIDEN_RULES = {
        "tinyint": {"smallint", "int", "bigint"},
        "smallint": {"int", "bigint"},
        "int": {"bigint"},
        "float": {"double"},
    }

    @classmethod
    def _widen_ok(cls, old: str, new: str) -> bool:
        old, new = old.lower(), new.lower()
        if new in cls._WIDEN_RULES.get(old, ()):
            return True
        if old.startswith("decimal(") and new.startswith("decimal("):
            po, so = (int(x) for x in old[8:-1].split(","))
            pn, sn = (int(x) for x in new[8:-1].split(","))
            return sn == so and pn > po
        return False

    def alter_column_type(self, col: str, new_type: str) -> int:
        """Metadata-only type WIDENING (Iceberg type promotion / Delta type
        widening): no data file is rewritten — old files keep their narrow
        physical type and every scan reads through an explicit widened
        schema (Spark 4's parquet readers upcast int32->int64 etc. natively).
        Legal promotions: tinyint->smallint->int->bigint, float->double,
        decimal(p,s)->decimal(p+,s). The first widen materializes the full
        per-column type map into the manifest mapping, switching all
        subsequent scans off mergeSchema (which cannot reconcile mixed
        widths) onto the explicit schema."""
        self.spark.createDataFrame([], f"`__probe__` {new_type}")  # DDL check

        def build_cols(parent_m: dict) -> list[dict]:
            mapping = parent_m.get("columns") or self._synthesize_mapping(parent_m)
            live = self._live_cols(mapping)
            names = [c["name"] for c in live]
            if col not in names:
                raise ValueError(f"unknown column {col!r} (live columns: {names})")
            out = [dict(c) for c in mapping]
            # first widen: fill in the current type of EVERY live column so
            # the explicit-schema read path covers the whole projection
            if any("type" not in c for c in out if not c.get("dropped")):
                files = [FileEntry(**e) for e in parent_m["files"]]
                if not files:
                    raise ValueError("cannot widen a column on an empty table")
                phys_types = {
                    f.name: f.dataType.simpleString()
                    for f in self._scan(files).schema.fields
                }
                for c in out:
                    if not c.get("dropped") and "type" not in c:
                        c["type"] = phys_types[c["physical"]]
            target = next(c for c in out if not c.get("dropped") and c["name"] == col)
            old = target["type"]
            if not self._widen_ok(old, new_type):
                raise ValueError(
                    f"cannot alter {col!r} from {old} to {new_type}: only "
                    f"widening promotions are supported (int chain up to "
                    f"bigint, float->double, decimal precision increase)"
                )
            target["type"] = new_type
            target.setdefault("widened_from", old)  # keep the ORIGINAL width
            return out

        return self._commit(
            "alter-column-type",
            lambda parent_m: [FileEntry(**e) for e in parent_m["files"]],
            build_columns=build_cols,
        )

    @staticmethod
    def _read_schema_from_mapping(mapping: list[dict] | None) -> str | None:
        """Explicit physical read schema (DDL string) when the mapping
        carries a type for every live column (true after the first
        alter_column_type) — the scan then reads every file through the
        widened schema instead of mergeSchema, which cannot reconcile a
        mixed-width file set. None = pre-widening mapping: scans keep their
        original mergeSchema behavior, byte-identical plans."""
        if not mapping:
            return None
        live = [c for c in mapping if not c.get("dropped")]
        if any("type" not in c for c in live):
            return None
        return ", ".join(f"`{c['physical']}` {c['type']}" for c in live)

    def drop_column(self, col: str) -> int:
        """Metadata-only column drop: the physical data stays in every
        already-written file (prior snapshots still read it); the current
        mapping just stops projecting it. Refuses to drop the last column."""

        def build_cols(parent_m: dict) -> list[dict]:
            mapping = parent_m.get("columns") or self._synthesize_mapping(parent_m)
            live = self._live_cols(mapping)
            names = [c["name"] for c in live]
            if col not in names:
                raise ValueError(f"unknown column {col!r} (live columns: {names})")
            if len(live) == 1:
                raise ValueError("cannot drop the last column")
            out = [
                dict(c, dropped=True)
                if (not c.get("dropped") and c["name"] == col)
                else dict(c)
                for c in mapping
            ]
            self._refuse_ddl_breaking_constraints(parent_m, out, f"drop column {col!r}")
            return out

        return self._commit(
            "drop-column",
            lambda parent_m: [FileEntry(**e) for e in parent_m["files"]],
            build_columns=build_cols,
        )

    # -- CHECK constraints (Delta's ALTER TABLE ADD CONSTRAINT model) --------
    def constraints(self, version: int | None = None) -> dict[str, str]:
        """The snapshot's named CHECK constraints (``{name: sql_expr}``,
        expressions over LOGICAL column names). Time travel serves each
        version's own constraint set."""
        return dict(self._load_manifest(version).get("constraints") or {})

    def add_check_constraint(self, name: str, expr: str) -> int:
        """Add a named CHECK constraint (Delta's ``ALTER TABLE ... ADD
        CONSTRAINT name CHECK (expr)``): ``expr`` is a Spark SQL boolean
        expression over logical column names. SQL-standard semantics — a row
        violates only when the expression evaluates to FALSE; NULL/unknown
        passes (so ``col IS NOT NULL`` expresses a NOT NULL constraint).
        Existing rows are validated first (one scan, like Delta); every
        subsequent data commit validates its ADDED files (O(churn)). The
        Delta exporter publishes the set as ``delta.constraints.<name>``
        with the matching writer-protocol gate."""
        if not name or not name.replace("_", "").isalnum():
            raise ValueError(f"constraint name must be an identifier, got {name!r}")

        def build_cons(parent_m: dict) -> dict:
            cons = dict(parent_m.get("constraints") or {})
            if name in cons:
                raise ValueError(f"constraint {name!r} already exists: {cons[name]!r}")
            entries = [FileEntry(**e) for e in parent_m["files"]]
            self._validate_constraints(
                entries, parent_m.get("columns"), {name: expr}, "add-constraint"
            )
            cons[name] = expr
            return cons

        return self._commit(
            "add-constraint",
            lambda parent_m: [FileEntry(**e) for e in parent_m["files"]],
            build_constraints=build_cons,
        )

    def drop_constraint(self, name: str) -> int:
        def build_cons(parent_m: dict) -> dict:
            cons = dict(parent_m.get("constraints") or {})
            if name not in cons:
                raise ValueError(
                    f"unknown constraint {name!r} (have: {sorted(cons)})"
                )
            del cons[name]
            return cons

        return self._commit(
            "drop-constraint",
            lambda parent_m: [FileEntry(**e) for e in parent_m["files"]],
            build_constraints=build_cons,
        )

    def _validate_constraints(
        self, entries: list, mapping: list[dict] | None, cons: dict[str, str],
        operation: str,
    ) -> None:
        """ONE aggregate pass over ``entries`` counting rows whose constraint
        expression is FALSE (null-safe: NULL passes, SQL-standard CHECK).
        Catalyst prunes the scan to the referenced columns. Raises with
        per-constraint counts; an unresolvable expression (e.g. an overwrite
        that removed a constrained column) aborts the commit too."""
        from pyspark.sql import functions as F

        if not entries or not cons:
            return
        df = self._project_mapping(
            self._scan(entries, read_schema=self._read_schema_from_mapping(mapping)),
            mapping,
        )
        aggs = [
            F.sum(
                F.when(F.expr(e).eqNullSafe(F.lit(False)), 1).otherwise(0)
            ).alias(n)
            for n, e in cons.items()
        ]
        row = df.agg(*aggs).first()
        bad = {n: int(row[n]) for n in cons if row[n]}
        if bad:
            raise ConstraintViolationError(
                f"{operation!r} violates CHECK constraint(s) "
                + ", ".join(f"{n!r} ({cons[n]}): {c} row(s)" for n, c in sorted(bad.items()))
            )

    def _refuse_ddl_breaking_constraints(self, parent_m: dict, new_mapping: list[dict], verb: str) -> None:
        """Refuse a rename/drop that would leave a stored constraint
        expression unresolvable (Delta refuses the same way). The probe is a
        limit(0) analysis against the POST-DDL logical schema — footer
        metadata only, no data read."""
        from pyspark.sql import functions as F

        cons = parent_m.get("constraints") or {}
        if not cons:
            return
        entries = [FileEntry(**e) for e in parent_m["files"]]
        probe = self._project_mapping(
            self._scan(entries, read_schema=self._read_schema_from_mapping(new_mapping)),
            new_mapping,
        ).limit(0)
        for cname, cexpr in cons.items():
            try:
                # select, NOT filter: the analyzer back-fills missing
                # references through projections for Filter (so a renamed
                # column would still "resolve"); a Project does not
                probe.select(F.expr(cexpr)).schema  # noqa: B018 — forces analysis
            except AnalysisException:
                raise ValueError(
                    f"cannot {verb}: CHECK constraint {cname!r} ({cexpr}) "
                    f"references it; drop the constraint first"
                ) from None

    # -- refs: tags and branches (Iceberg's refs model) ----------------------
    def _tag_key(self, name: str) -> str:
        return join_path(self._meta_root, "_tags", f"{name}.json")

    def create_tag(self, name: str, version: int | None = None) -> int:
        """Pin an IMMUTABLE named reference to a snapshot version (Iceberg
        tags). Tagged versions survive ``expire_snapshots`` until the tag is
        deleted, and every version-taking read API accepts the tag name as
        its ``version``. Tags live in the MAIN namespace only."""
        if self.branch_name is not None:
            raise ValueError("tags are main-namespace refs; tag from the main handle")
        if not name or not name.replace("_", "").replace("-", "").isalnum():
            raise ValueError(f"tag name must be an identifier, got {name!r}")
        v = self.current_version() if version is None else int(version)
        if v < 1 or v > self.current_version():
            raise ValueError(f"cannot tag nonexistent version {v}")
        self._load_manifest(v)  # refuse tagging an already-expired version
        if not self.store.put_if_absent(
            self._tag_key(name), json.dumps({"version": v}).encode()
        ):
            raise ValueError(f"tag {name!r} already exists (tags are immutable)")
        return v

    def delete_tag(self, name: str) -> None:
        if name not in self.tags():
            raise ValueError(f"unknown tag {name!r} (have: {sorted(self.tags())})")
        self.store.delete(self._tag_key(name))

    def tags(self) -> dict[str, int]:
        out = {}
        for k in self.store.list_prefix(join_path(self._meta_root, "_tags")):
            base = os.path.basename(k)
            if base.endswith(".json"):
                out[base[:-5]] = int(json.loads(self.store.read(k))["version"])
        return out

    def _resolve_tag(self, name: str) -> int:
        t = self.tags()
        if name not in t:
            raise ValueError(f"unknown tag {name!r} (have: {sorted(t)})")
        return t[name]

    def branch(self, name: str) -> "SnapshotTable":
        """A handle onto an existing branch: same table path and data-file
        pool, its own manifest line. Every operation (write, DDL,
        constraint, time travel, export) works on the handle unchanged."""
        if name not in self.branches():
            raise ValueError(f"unknown branch {name!r} (have: {sorted(self.branches())})")
        return SnapshotTable(
            self.spark, self.path, store=self.store,
            max_commit_retries=self.max_commit_retries,
            bloom_cols=self.bloom_cols, bloom_bits=self.bloom_bits,
            bloom_k=self.bloom_k, branch=name,
        )

    def branches(self) -> list[str]:
        # LocalCommitStore lists one directory level (child = branch dir);
        # object stores list recursive keys (first path segment = branch)
        names = set()
        prefix = join_path(self._meta_root, "_branches")
        for k in self.store.list_prefix(prefix):
            rel = k[len(prefix):].lstrip("/")
            name = rel.split("/", 1)[0]
            if name:
                names.add(name)
        return sorted(names)

    def create_branch(self, name: str, from_version: int | str | None = None) -> "SnapshotTable":
        """Fork a branch from a main snapshot (write-audit-publish's WRITE
        side): branch v1 is a zero-copy snapshot of the fork point — files,
        column mapping, constraints and txn stamps all carry over; data
        files are shared, never copied. Returns the branch handle. The fork
        version is recorded for ``publish_branch``'s fast-forward check."""
        if self.branch_name is not None:
            raise ValueError("branch from the main handle, not another branch")
        if not name or not name.replace("_", "").replace("-", "").isalnum():
            raise ValueError(f"branch name must be an identifier, got {name!r}")
        src = self._load_manifest(from_version)
        if src["version"] == 0:
            raise ValueError("cannot branch an empty table (no snapshot to fork)")
        m = {
            "version": 1,
            "parent": 0,
            "operation": "branch-create",
            "ts_ms": max(int(time.time() * 1000), int(src.get("ts_ms") or 0) + 1),
            "files": src["files"],
            "txns": src.get("txns", {}),
            "forked_from": src["version"],
        }
        for k in ("columns", "constraints"):
            if src.get(k):
                m[k] = src[k]
        handle = SnapshotTable(
            self.spark, self.path, store=self.store,
            max_commit_retries=self.max_commit_retries,
            bloom_cols=self.bloom_cols, bloom_bits=self.bloom_bits,
            bloom_k=self.bloom_k, branch=name,
        )
        if not self.store.put_if_absent(
            handle._manifest_key(1), json.dumps(m).encode()
        ):
            raise ValueError(f"branch {name!r} already exists")
        return handle

    def drop_branch(self, name: str) -> None:
        """Delete a branch's manifest line (data files it alone referenced
        become unreferenced — the next ``vacuum`` reclaims them)."""
        if name not in self.branches():
            raise ValueError(f"unknown branch {name!r} (have: {sorted(self.branches())})")
        self._delete_key_tree(join_path(self._meta_root, "_branches", name))

    def _delete_key_tree(self, prefix: str) -> None:
        """Store-agnostic recursive delete: local stores list one directory
        level (recurse into children, rmdir after), object stores list full
        keys under the prefix (each lists only itself — deleted directly)."""
        for k in self.store.list_prefix(prefix):
            if k == prefix:
                continue
            self._delete_key_tree(k)
        try:
            self.store.delete(prefix)
        except OSError:
            pass  # a local directory: handled by rmdir below
        try:
            os.rmdir(prefix)
        except OSError:
            pass  # an object-store key, a file already deleted, or non-empty

    def publish_branch(self, name: str, force: bool = False) -> int:
        """Write-audit-publish's PUBLISH: commit the branch head's state
        (files, mapping, constraints) to main as one atomic snapshot —
        zero data movement, Iceberg's fast-forward. Refuses with
        :class:`BranchConflictError` when main advanced past the fork point
        (the audit ran against a stale base) unless ``force=True``. The
        branch's txn stamps merge into main, so exactly-once writers survive
        the publish. The branch itself is left intact; drop it when done.
        A branch is SINGLE-publish: the publish commit itself advances main
        past the fork point, so a second publish of the same branch refuses
        — re-fork per ingest batch (the WAP cadence)."""
        if self.branch_name is not None:
            raise ValueError("publish from the main handle")
        bt = self.branch(name)
        head = bt._load_manifest()
        fork = bt._load_manifest(1).get("forked_from", 0)

        def build_files(parent_m: dict) -> list[FileEntry]:
            if not force and parent_m["version"] != fork:
                raise BranchConflictError(
                    f"main is at v{parent_m['version']} but branch {name!r} "
                    f"forked from v{fork}; the audit ran against a stale "
                    f"base — re-fork, or publish with force=True"
                )
            return [FileEntry(**e) for e in head["files"]]

        return self._commit(
            "publish",
            build_files,
            build_columns=lambda parent_m: head.get("columns"),
            build_constraints=lambda parent_m: head.get("constraints") or {},
            merge_txns=head.get("txns") or {},
        )

    def _write_files(self, df: DataFrame, to_physical: bool = True) -> list[FileEntry]:
        """Write df as immutable parquet files under data/<uuid>/ and harvest
        per-file row counts + column min/max from the footers (driver-side
        metadata reads — bytes proportional to file count, not data size).
        ``to_physical`` translates a LOGICAL-named df to physical column
        names first; internal rewrites (compact/CoW delete/merge output) scan
        physical names already and pass False."""
        mapping = self._load_manifest().get("columns")
        if to_physical:
            df = self._to_physical_df(df, mapping)
        # per-file physical column types power the type-widening read path
        # (explicit-schema scans) and the Delta exporter's all-files-match
        # check; recorded at write time — footer-free at read time
        ptypes = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        subdir = join_path(self.path, "data", uuid.uuid4().hex)
        df.write.mode("overwrite").parquet(spark_path(subdir))
        entries = []
        for name in self.fs.listdir(subdir):
            if not name.endswith(".parquet"):
                continue
            fpath = join_path(subdir, name)
            md = parquet_metadata(fpath, self.fs)
            stats: dict = {}
            dropped: set[str] = set()
            for rg in range(md.num_row_groups):
                g = md.row_group(rg)
                for ci in range(g.num_columns):
                    c = g.column(ci)
                    try:
                        st = c.statistics
                        if st is None or not st.has_min_max:
                            continue
                        raw_mn, raw_mx = st.min, st.max
                    except pa.ArrowNotImplementedError:
                        # types pyarrow can't extract stats for (e.g. some
                        # decimals): a stat is an optimization, never a
                        # requirement
                        continue
                    col = c.path_in_schema
                    if col in dropped:
                        continue
                    mn, mx = _encode_stat(raw_mn), _encode_stat(raw_mx)
                    if mn is None or mx is None:
                        # un-encodable type (binary/nested): no stat for this
                        # column in ANY row group -> conservative match
                        dropped.add(col)
                        stats.pop(col, None)
                        continue
                    cur = stats.get(col)
                    if cur is None:
                        stats[col] = {"min": mn, "max": mx}
                    else:
                        kmn, kmx = _decode_stat(mn), _decode_stat(mx)
                        if kmn < _decode_stat(cur["min"]):
                            cur["min"] = mn
                        if kmx > _decode_stat(cur["max"]):
                            cur["max"] = mx
            entries.append(
                FileEntry(
                    path=fpath, rows=md.num_rows,
                    stats=_truncate_string_stats(stats), types=dict(ptypes),
                )
            )
        # zero-row output splits (a CoW rewrite whose partition lost every
        # row): a stat-less empty entry can never match yet can never be
        # pruned, so it would tax every future scan/export/metadata answer —
        # drop them. When EVERY output is empty, keep exactly one as the
        # schema carrier: an intentionally-empty write (empty-seed
        # overwrite, an IVM view that emptied) must stay readable.
        nonempty = [e for e in entries if e.rows > 0]
        entries = nonempty or entries[:1]
        self._attach_blooms(subdir, entries, mapping)
        return entries

    def _attach_blooms(
        self, subdir: str, entries: list[FileEntry], mapping: list[dict] | None = None
    ) -> None:
        """Fit per-file Bloom filters for ``bloom_cols`` with ONE distributed
        pass over the just-written files (grouped by input_file_name); the
        driver collects at most files x m_bits positions per column, never
        row data. At cluster scale this pass pipelines with the write job
        itself; the post-pass here keeps the commit path simple."""
        if not self.bloom_cols:
            return
        from pyspark.sql import functions as F

        from bears_spark.functions.sketch import bloom_positions
        from bears_spark.io.dv import dv_join_key

        src = self.spark.read.parquet(spark_path(subdir))
        # bloom_cols are LOGICAL names; the just-written files are physical
        # (a column outside the mapping — unmapped table or a new column —
        # has physical = logical)
        want = [
            self._physical_col(c, mapping)
            if mapping and any(m["name"] == c for m in self._live_cols(mapping))
            else c
            for c in self.bloom_cols
        ]
        cols = [c for c in dict.fromkeys(want) if c in src.columns]
        if not cols:
            return
        # int/string only: the read-side membership probe re-hashes the probe
        # value with Python str(), which matches Spark's cast-to-string for
        # these types; float/date/timestamp renderings can differ, which
        # would silently break the no-false-negative guarantee
        allowed = {"tinyint", "smallint", "int", "bigint", "string"}
        bad = [c for c in cols if dict(src.dtypes)[c] not in allowed]
        if bad:
            raise ValueError(
                f"bloom_cols must be integer or string columns; got {bad} "
                f"({[dict(src.dtypes)[c] for c in bad]})"
            )
        # keyed by the shared dv_join_key spelling (io/dv.py) so local paths,
        # file:// roots and object-store URIs all resolve the same way the
        # merge-on-read joins do
        by_path = {dv_join_key(e.path): e for e in entries}
        from bears_spark.io.dv import spark_file_norm

        base = src.select(spark_file_norm(F.input_file_name()).alias("__f"), *cols)
        for col in cols:
            rows = (
                base.select(
                    "__f", F.explode(bloom_positions(F.col(col), self.bloom_bits, self.bloom_k)).alias("__p")
                )
                # null keys hash to null positions; '=' probes never match
                # null rows (SQL semantics), so they contribute no bits
                .filter(F.col("__p").isNotNull())
                .distinct()
                .collect()
            )
            acc: dict[str, int] = {}
            for r in rows:
                acc[r["__f"]] = acc.get(r["__f"], 0) | (1 << r["__p"])
            for key, bits in acc.items():
                e = by_path.get(key)
                if e is not None:
                    e.blooms[col] = {"m": self.bloom_bits, "k": self.bloom_k, "bits": format(bits, "x")}

    def _commit(self, operation: str, build_files, txn: tuple[str, int] | None = None,
                build_columns=None, build_constraints=None,
                merge_txns: dict | None = None) -> int:
        """CAS commit loop: build the file list against the current parent,
        try put_if_absent of manifest v(parent+1); on conflict reload the
        parent and rebuild. ``build_files(parent_manifest) -> list[FileEntry]``
        re-runs per attempt so parent-derived lists stay consistent.
        ``txn=(app_id, batch_id)`` stamps the commit for exactly-once
        streaming ingest; stamps merge cumulatively into every child.
        ``build_columns(parent_manifest) -> list | None`` sets the commit's
        column mapping; by default the parent's mapping (if any) carries
        forward, so every operation preserves schema evolution.
        ``build_constraints(parent_manifest) -> dict`` likewise sets the
        CHECK-constraint set; files ADDED by this commit are validated
        against the effective constraints before the CAS (one aggregate
        scan of the new files only — O(churn), never O(table))."""
        for _ in range(self.max_commit_retries + 1):
            parent_m = self._load_manifest()
            parent = parent_m["version"]
            if self.branch_name is not None and parent == 0:
                # a branch ALWAYS starts at v1 (create_branch): an empty
                # namespace means the branch was dropped — refuse, or a
                # zombie writer would resurrect it with partial state
                raise ValueError(
                    f"branch {self.branch_name!r} was dropped; this handle "
                    f"is stale (re-fork to continue)"
                )
            if txn is not None and parent_m.get("txns", {}).get(txn[0], -1) >= txn[1]:
                return parent  # another committer already landed this batch
            files = build_files(parent_m)
            columns = (
                build_columns(parent_m) if build_columns is not None
                else parent_m.get("columns")
            )
            cons = (
                build_constraints(parent_m) if build_constraints is not None
                else parent_m.get("constraints")
            )
            if cons:
                parent_paths = {e["path"] for e in parent_m["files"]}
                added = [e for e in files if e.path not in parent_paths]
                self._validate_constraints(added, columns, cons, operation)
            version = parent + 1
            txns = dict(parent_m.get("txns", {}))
            if txn is not None:
                txns[txn[0]] = txn[1]
            for app, b in (merge_txns or {}).items():  # publish: union stamps
                txns[app] = max(int(txns.get(app, -1)), int(b))
            # wall-clock commit stamp, kept monotone vs the parent so clock
            # skew can't reorder history — powers expire_snapshots(
            # older_than_ms=) and snapshots() ts_ms reporting
            ts_ms = max(int(time.time() * 1000), int(parent_m.get("ts_ms") or 0) + 1)
            manifest = {
                "version": version,
                "parent": parent,
                "operation": operation,
                "ts_ms": ts_ms,
                "files": [vars(e) for e in files],
                "txns": txns,
            }
            if columns is not None:
                manifest["columns"] = columns
            if cons:  # {} after a drop_constraint: omit the key entirely
                manifest["constraints"] = cons
            if txn is not None:
                manifest["batch_id"] = txn[1]
            payload = json.dumps(manifest).encode()
            if self.store.put_if_absent(self._manifest_key(version), payload):
                # advisory pointer for external tooling; listing is authority
                self.store.replace(
                    join_path(self._namespace_root(), "_current"), str(version).encode()
                )
                return version
            # CAS lost: another writer published this version — retry on it
        raise CommitConflictError(
            f"commit of {operation!r} lost the manifest CAS "
            f"{self.max_commit_retries + 1} times; giving up"
        )

    # -- write operations ---------------------------------------------------
    def overwrite(self, df: DataFrame, txn: tuple[str, int] | None = None) -> int:
        """Replace the table's contents. ``txn=(app_id, batch_id)`` stamps
        the commit for idempotent writers (e.g. incremental-view refresh):
        a replay or an older racing writer of the same app is skipped.
        Under a column mapping, surviving logical names keep their ids and
        physical names (exports stay field-id-stable); absent ones drop."""
        df_cols = list(df.columns)
        df_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        new = self._write_files(df)

        def build_cols(parent_m: dict):
            mapping = parent_m.get("columns")
            if mapping is None:
                return None
            # live columns absent from the new contents become tombstones
            # (ids retired, physical names reserved); new columns extend
            kept = [
                dict(c, dropped=True)
                if (not c.get("dropped") and c["name"] not in set(df_cols))
                else dict(c)
                for c in mapping
            ]
            return self._extend_mapping(kept, df_cols, df_types)

        return self._commit("overwrite", lambda parent_m: new, txn=txn,
                            build_columns=build_cols)

    def append(self, df: DataFrame) -> int:
        df_cols = list(df.columns)
        df_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        new = self._write_files(df)  # written once; CAS retries only re-list the parent

        def build_cols(parent_m: dict):
            mapping = parent_m.get("columns")
            return (None if mapping is None
                    else self._extend_mapping(mapping, df_cols, df_types))

        return self._commit(
            "append",
            lambda parent_m: [FileEntry(**e) for e in parent_m["files"]] + new,
            build_columns=build_cols,
        )

    def delete_where(self, col: str, op: str, value, mode: str = "cow") -> int:
        """Delete rows matching ``col op value``. SQL DELETE semantics: a
        NULL key never satisfies the predicate, so null-keyed rows always
        survive.

        ``mode="cow"`` (default): copy-on-write — files whose stats prove no
        match are carried by reference; overlapping files are rewritten with
        the matching rows filtered out (the survivor filter is ``NOT pred OR
        col IS NULL`` — plain ``NOT pred`` is NULL for null keys and
        filter() would silently drop them). Rewriting also MATERIALIZES any
        existing deletion vectors on the touched files.

        ``mode="mor"``: merge-on-read — instead of rewriting, each affected
        file gets an immutable roaring deletion vector of the newly-deleted
        row positions (merged with its existing DV), written EXECUTOR-side
        per file and committed as manifest metadata. Cost is O(delete set),
        not O(affected bytes) — the Delta/Iceberg answer to sparse deletes
        on 100 TB tables; reads apply DVs as a distributed (file, pos)
        anti-join, and the next compact()/merge()/CoW-delete touching the
        file materializes them away. A file whose every row is deleted is
        dropped from the manifest outright."""
        from pyspark.sql import functions as F

        # predicates arrive on LOGICAL names; files/stats speak physical
        col = self._physical_col(col, self._load_manifest().get("columns"))
        if mode == "mor":
            return self._delete_where_mor(col, op, value)
        if mode != "cow":
            raise ValueError(f"unknown delete mode {mode!r} (use 'cow' or 'mor')")

        def build(parent_m: dict) -> list[FileEntry]:
            prior = [FileEntry(**e) for e in parent_m["files"]]
            keep = [e for e in prior if not e.may_match(col, op, value)]
            rewrite = [e for e in prior if e.may_match(col, op, value)]
            new = []
            if rewrite:
                rs = self._read_schema_from_mapping(parent_m.get("columns"))
                pred = _OPS[op](F.col(col), F.lit(value))
                survivors = self._scan(rewrite, merge_schema=False, read_schema=rs).filter(
                    ~pred | F.col(col).isNull()
                )
                new = self._write_files(survivors, to_physical=False)
            return keep + new

        return self._commit("delete", build)

    def _delete_where_mor(self, col: str, op: str, value, max_rebuild_attempts: int = 3) -> int:
        from pyspark.sql import functions as F

        return self._delete_mor(
            col,
            lambda e: e.may_match(col, op, value),
            lambda c: _OPS[op](c, F.lit(value)),
            max_rebuild_attempts=max_rebuild_attempts,
        )

    def _delete_mor(
        self, col: str, match_entry, match_rows, max_rebuild_attempts: int = 3,
        txn: tuple[str, int] | None = None, operation: str = "delete-mor",
        extra_files=None,
    ) -> int:
        """Merge-on-read delete core (see delete_where / delete_keys). Each
        attempt reads the current snapshot, computes matching (file,
        position) pairs among the LIVE rows of stats-affected files
        (``match_entry(entry)`` selects them, ``match_rows(col)`` builds the
        row predicate; null keys never match, per SQL DELETE), unions them
        with those files' existing DV positions, and writes one fresh DV
        file per affected file in a grouped executor pass (the driver sees
        one descriptor row per file, never positions). The commit closure
        verifies every affected (path, dv) identity is still present in the
        parent it commits against — a concurrent writer that rewrote or
        re-deleted one of them forces a rebuild, exactly compact()'s
        conflict rule, so two racing MoR deletes can never lose each other's
        tombstones. ``extra_files(affected_entries, parent_manifest) ->
        list[FileEntry]`` (MoR UPDATE) appends per-attempt-built files in
        the same commit, covered by the same stale-input rule."""
        import pandas as pd  # noqa: F401 — applyInPandas ships the closure
        from pyspark.sql import functions as F

        from bears_spark.io.dv import (
            dv_join_key,
            positions_df,
            read_dv_blob,
            spark_file_norm,
        )

        # every file-path key below lives in _metadata.file_path's URI
        # encoding (dv_join_key), so roots with spaces/%/non-ASCII — and
        # file://- or object-store-rooted tables — match
        def _key(e: FileEntry) -> str:
            return dv_join_key(e.path)

        class _Stale(Exception):
            pass

        for _ in range(max_rebuild_attempts):
            parent_m = self._load_manifest()
            prior = [FileEntry(**e) for e in parent_m["files"]]
            affected = [e for e in prior if match_entry(e)]
            if not affected:
                # SQL DELETE/UPDATE still commits a (no-op) version, like CoW
                return self._commit(
                    operation, lambda m: [FileEntry(**e) for e in m["files"]], txn=txn
                )
            norm = spark_file_norm(F.col("_metadata.file_path"))
            rs = self._read_schema_from_mapping(parent_m.get("columns"))
            rdr = (self.spark.read.schema(rs) if rs is not None
                   else self.spark.read.option("mergeSchema", "true"))
            matches = (
                rdr.parquet(*[spark_path(e.path) for e in affected])
                .select(
                    norm.alias("__fp__"),
                    F.col("_metadata.row_index").alias("__pos__"),
                    F.col(col).alias("__c__"),
                )
                .filter(match_rows(F.col("__c__")) & F.col("__c__").isNotNull())
                .select("__fp__", "__pos__")
            )
            existing = [(_key(e), read_dv_blob(e.dv)) for e in affected if e.dv]
            if existing:
                # merge: new DV = old positions ∪ new matches (old positions
                # are already-deleted rows; re-matching them is harmless)
                old = positions_df(self.spark, existing).select(
                    F.col("__dv_path__").alias("__fp__"), F.col("__dv_pos__").alias("__pos__")
                )
                matches = matches.unionByName(old)
            subdir = join_path(self.path, "data", uuid.uuid4().hex)
            self.fs.mkdirs(subdir)

            def _build_dv(key, pdf):
                import uuid as _uuid

                import pandas as _pd

                from bears_spark.io.dv import write_dv_file
                from bears_spark.io.metafs import join_path as _join

                desc = write_dv_file(
                    _join(subdir, f"dv-{_uuid.uuid4().hex}.bin"),
                    pdf["__pos__"].tolist(),
                )
                return _pd.DataFrame(
                    {"fp": [key[0]], "dvp": [desc["path"]], "off": [desc["offset"]],
                     "size": [desc["sizeInBytes"]], "card": [desc["cardinality"]]}
                )

            built = {
                r["fp"]: r
                for r in matches.groupBy("__fp__")
                .applyInPandas(_build_dv, "fp string, dvp string, off int, size long, card long")
                .collect()
            }
            affected_ids = {e.identity() for e in affected}
            extra = extra_files(affected, parent_m) if extra_files is not None else []

            def build(parent_m2: dict, built=built, affected_ids=affected_ids,
                      extra=extra) -> list[FileEntry]:
                prior2 = [FileEntry(**e) for e in parent_m2["files"]]
                present = {e.identity() for e in prior2}
                if not affected_ids <= present:
                    # an affected file was rewritten/re-deleted concurrently:
                    # committing our DV would lose that writer's change
                    raise _Stale()
                out = []
                for e in prior2:
                    r = built.get(_key(e)) if e.identity() in affected_ids else None
                    if r is None:
                        out.append(e)  # untouched, or affected-but-no-match
                    elif int(r["card"]) >= e.rows:
                        continue  # every physical row deleted: drop the file
                    else:
                        out.append(
                            FileEntry(
                                path=e.path, rows=e.rows, stats=e.stats, blooms=e.blooms,
                                dv={"path": r["dvp"], "offset": int(r["off"]),
                                    "sizeInBytes": int(r["size"]),
                                    "cardinality": int(r["card"])},
                            )
                        )
                return out + extra

            try:
                return self._commit(operation, build, txn=txn)
            except _Stale:
                continue
        raise CommitConflictError(
            f"merge-on-read {operation} inputs were concurrently rewritten "
            f"{max_rebuild_attempts} times; giving up"
        )

    def delete_keys(self, col: str, keys, mode: str = "cow",
                    txn: tuple[str, int] | None = None) -> int:
        """Bulk keyed delete — the GDPR/right-to-be-forgotten path: given a
        forget-list of key values, touch ONLY the files that can contain
        any of them (every pruning signal applies per key: Bloom filters
        prove absence on unclustered keys, min/max on clustered ones).
        ``mode="cow"`` rewrites those files with the keys anti-joined out;
        ``mode="mor"`` tombstones the matching positions as deletion
        vectors instead (see delete_where) — the cheap shape when the
        forget-list touches many large files sparsely. Null-keyed rows
        always survive (no key in the list IS a null). ``keys``: list of
        values or a 1-column DataFrame (collected — a forget-list is
        bounded by contract; for a huge one, batch calls)."""
        from pyspark.sql import functions as F

        if isinstance(keys, DataFrame):
            kcol = keys.columns[0]
            key_vals = [r[kcol] for r in keys.select(kcol).distinct().collect()]
        else:
            key_vals = list(dict.fromkeys(keys))
        key_vals = [k for k in key_vals if k is not None]
        # forget-list keys arrive on a LOGICAL column name
        col = self._physical_col(col, self._load_manifest().get("columns"))
        if not key_vals:
            if txn is not None:
                # an idempotent-writer batch with nothing to forget must
                # still land its stamp, or a replay would re-run it
                return self._commit(
                    "delete-keys", lambda m: [FileEntry(**e) for e in m["files"]], txn=txn
                )
            return self.current_version()
        if mode == "mor":
            return self._delete_mor(
                col,
                lambda e: any(e.may_match(col, "=", k) for k in key_vals),
                lambda c: c.isin(key_vals),
                txn=txn,
            )
        if mode != "cow":
            raise ValueError(f"unknown delete mode {mode!r} (use 'cow' or 'mor')")

        def build(parent_m: dict) -> list[FileEntry]:
            prior = [FileEntry(**e) for e in parent_m["files"]]
            keep, rewrite = [], []
            for e in prior:
                if any(e.may_match(col, "=", k) for k in key_vals):
                    rewrite.append(e)
                else:
                    keep.append(e)
            new = []
            if rewrite:
                rs = self._read_schema_from_mapping(parent_m.get("columns"))
                survivors = self._scan(rewrite, merge_schema=False, read_schema=rs).filter(
                    ~F.col(col).isin(key_vals) | F.col(col).isNull()
                )
                new = self._write_files(survivors, to_physical=False)
            return keep + new

        return self._commit("delete-keys", build, txn=txn)

    def update_where(self, col: str, op: str, value, set: dict,
                     mode: str = "cow") -> int:
        """SQL UPDATE: rows matching ``col op value`` get the ``set``
        assignments applied; all other rows are carried unchanged. ``set``
        maps LOGICAL column names to a literal or a pyspark Column built
        over LOGICAL names (``{"price": F.col("price") * 1.1}``), and each
        assignment is implicitly cast to the column's current type (the
        Delta/Spark UPDATE contract). A NULL predicate key never matches,
        so null-keyed rows stay unchanged, per SQL. Reference UPDATE
        surface: bears has none (ScalableDataFrame is immutable); this is
        the table-format verb Delta calls UPDATE.

        ``mode="cow"`` (default): files whose stats prove no match are
        carried by reference; overlapping files are rewritten with the
        assignments applied under ``F.when(pred, ...)`` — existing deletion
        vectors on touched files are materialized away by the rewrite, like
        CoW delete.

        ``mode="mor"``: deletion-vector update — ONE commit that tombstones
        the matched positions on the affected files AND appends new files
        holding the updated rows. Cost is O(matched rows), not O(affected
        bytes) — the shape for sparse updates on huge tables. Same
        stale-input conflict rule as MoR delete: if a concurrent writer
        rewrites an affected file, the attempt rebuilds.

        Rewritten/appended rows are validated against the table's CHECK
        constraints by the commit path — an UPDATE that would break a
        constraint aborts with :class:`ConstraintViolationError`."""
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        if not set:
            raise ValueError("update_where needs at least one SET assignment")

        def _apply_set(df_logical: DataFrame) -> DataFrame:
            """pred + assignments on a LOGICAL-named df; unmatched rows (and
            NULL-pred rows) keep their original values via otherwise(). ONE
            projection, so every RHS reads the OLD row — SQL UPDATE
            semantics: SET a = b, b = a swaps, it doesn't chain."""
            pred = _OPS[op](F.col(col), F.lit(value))
            types = {f.name: f.dataType for f in df_logical.schema.fields}
            missing = [c for c in set if c not in types]
            if missing:
                raise ValueError(
                    f"update_where SET names unknown column(s) {missing}; "
                    f"table columns: {list(types)}"
                )
            exprs = []
            for c in df_logical.columns:
                if c in set:
                    v = set[c]
                    expr = v if isinstance(v, Column) else F.lit(v)
                    exprs.append(
                        F.when(pred, expr.cast(types[c])).otherwise(F.col(c)).alias(c)
                    )
                else:
                    exprs.append(F.col(c))
            return df_logical.select(exprs)

        # stats/files speak PHYSICAL names; the predicate column arrives logical
        pcol = self._physical_col(col, self._load_manifest().get("columns"))
        if mode == "mor":
            return self._update_where_mor(col, pcol, op, value, _apply_set)
        if mode != "cow":
            raise ValueError(f"unknown update mode {mode!r} (use 'cow' or 'mor')")

        def build(parent_m: dict) -> list[FileEntry]:
            mapping = parent_m.get("columns")
            prior = [FileEntry(**e) for e in parent_m["files"]]
            keep = [e for e in prior if not e.may_match(pcol, op, value)]
            rewrite = [e for e in prior if e.may_match(pcol, op, value)]
            new = []
            if rewrite:
                rs = self._read_schema_from_mapping(mapping)
                scanned = self._scan(rewrite, merge_schema=False, read_schema=rs)
                updated = _apply_set(self._project_mapping(scanned, mapping))
                new = self._write_files(
                    self._to_physical_df(updated, mapping), to_physical=False
                )
            return keep + new

        return self._commit("update", build)

    def update_keys(self, col: str, keys, set: dict, mode: str = "cow") -> int:
        """Bulk keyed UPDATE — the GDPR right-to-RECTIFICATION twin of
        :meth:`delete_keys` (e.g. pseudonymize or correct the rows of a
        bounded key list): only files that can contain any key are touched
        (Bloom filters prove absence on unclustered keys, min/max on
        clustered ones), the ``set`` assignments follow
        :meth:`update_where`'s contract (old-row RHS, implicit cast, CHECK
        constraints), null-keyed rows never match. ``mode="mor"`` tombstones
        the matched positions and appends the updated rows in one commit —
        O(matched rows) for a sparse key list on a huge table. ``keys``: a
        list of values or a 1-column DataFrame (collected — bounded by
        contract, like a forget-list)."""
        from pyspark.sql import Column
        from pyspark.sql import functions as F

        if not set:
            raise ValueError("update_keys needs at least one SET assignment")
        if isinstance(keys, DataFrame):
            kcol = keys.columns[0]
            key_vals = [r[kcol] for r in keys.select(kcol).distinct().collect()]
        else:
            key_vals = list(dict.fromkeys(keys))
        key_vals = [k for k in key_vals if k is not None]
        mapping = self._load_manifest().get("columns")
        pcol = self._physical_col(col, mapping)
        if not key_vals:
            return self.current_version()  # nothing to rectify, no commit

        def _apply_set(df_logical: DataFrame) -> DataFrame:
            pred = F.col(col).isin(key_vals)
            types = {f.name: f.dataType for f in df_logical.schema.fields}
            missing = [c for c in set if c not in types]
            if missing:
                raise ValueError(
                    f"update_keys SET names unknown column(s) {missing}; "
                    f"table columns: {list(types)}"
                )
            exprs = []
            for c in df_logical.columns:
                if c in set:
                    v = set[c]
                    expr = v if isinstance(v, Column) else F.lit(v)
                    exprs.append(
                        F.when(pred, expr.cast(types[c])).otherwise(F.col(c)).alias(c)
                    )
                else:
                    exprs.append(F.col(c))
            return df_logical.select(exprs)

        def _match_entry(e: "FileEntry") -> bool:
            return any(e.may_match(pcol, "=", k) for k in key_vals)

        if mode == "mor":
            return self._update_mor_core(
                pcol, _match_entry, lambda c: c.isin(key_vals),
                lambda logical: _apply_set(
                    logical.filter(F.col(col).isin(key_vals) & F.col(col).isNotNull())
                ),
            )
        if mode != "cow":
            raise ValueError(f"unknown update mode {mode!r} (use 'cow' or 'mor')")

        def build(parent_m: dict) -> list[FileEntry]:
            m2 = parent_m.get("columns")
            prior = [FileEntry(**e) for e in parent_m["files"]]
            keep = [e for e in prior if not _match_entry(e)]
            rewrite = [e for e in prior if _match_entry(e)]
            new = []
            if rewrite:
                rs = self._read_schema_from_mapping(m2)
                scanned = self._scan(rewrite, merge_schema=False, read_schema=rs)
                updated = _apply_set(self._project_mapping(scanned, m2))
                new = self._write_files(
                    self._to_physical_df(updated, m2), to_physical=False
                )
            return keep + new

        return self._commit("update", build)

    def _update_mor_core(self, pcol: str, match_entry, match_rows,
                         build_updated_rows, max_rebuild_attempts: int = 3) -> int:
        """Shared deletion-vector UPDATE core: DV-tombstone matched live
        positions + append the files ``build_updated_rows(logical_df)``
        produces from the DV-applied affected scan, in ONE commit."""

        def extra_files(affected, parent_m) -> list:
            mapping = parent_m.get("columns")
            rs = self._read_schema_from_mapping(mapping)
            scanned = self._scan(affected, merge_schema=False, read_schema=rs)
            logical = self._project_mapping(scanned, mapping)
            updated = build_updated_rows(logical)
            return self._write_files(
                self._to_physical_df(updated, mapping), to_physical=False
            )

        return self._delete_mor(
            pcol, match_entry, match_rows,
            max_rebuild_attempts=max_rebuild_attempts,
            operation="update-mor", extra_files=extra_files,
        )

    def _update_where_mor(self, col: str, pcol: str, op: str, value,
                          apply_set, max_rebuild_attempts: int = 3) -> int:
        """Deletion-vector UPDATE for a range/point predicate: DV-tombstone
        the matched live positions + append the updated rows — scanned
        DV-APPLIED so already-deleted rows can't be resurrected — in the
        SAME commit (see :meth:`_update_mor_core`)."""
        from pyspark.sql import functions as F

        return self._update_mor_core(
            pcol,
            lambda e: e.may_match(pcol, op, value),
            lambda c: _OPS[op](c, F.lit(value)),
            lambda logical: apply_set(
                logical.filter(
                    _OPS[op](F.col(col), F.lit(value)) & F.col(col).isNotNull()
                )
            ),
            max_rebuild_attempts=max_rebuild_attempts,
        )

    def restore(self, version: int) -> int:
        """Delta-style RESTORE: roll the table back to ``version`` as a NEW
        commit — the file list of the old snapshot becomes the current one,
        history stays intact (the bad commits remain time-travelable for the
        post-mortem), and no data is copied (files are immutable and still
        on disk as long as they haven't been vacuumed). Raises if ``version``
        has been expired."""
        target = self._load_manifest(version)
        files = [FileEntry(**e) for e in target["files"]]
        # RESTORE rolls back schema evolution AND the constraint set: the
        # restored snapshot's mapping/constraints (possibly none) become
        # current — Delta RESTORE's full-metadata semantics. Restored files
        # are validated against the TARGET set, never the abandoned one, so
        # a rollback can't be blocked by a constraint added after ``version``.
        return self._commit(
            "restore", lambda parent_m: files,
            build_columns=lambda parent_m: target.get("columns"),
            build_constraints=lambda parent_m: target.get("constraints") or {},
        )

    def overwrite_clustered(self, df: DataFrame, cluster_cols: list[str], bits: int = 8, num_files: int | None = None) -> int:
        """Z-order-clustered overwrite: quantize the cluster columns from
        their global min/max, lay rows out along the Morton curve
        (functions/sketch.py zorder_layout — one output file per range
        partition), and commit. The payoff is at read time: per-file min/max
        stats become tight on EVERY cluster column, so ``read(where=...)``
        prunes files on any of them — multi-dimensional data skipping, where
        a plain sort only skips on its leading column."""
        from pyspark.sql import functions as F

        from bears_spark.functions.sketch import zorder_layout, zorder_quantize

        df_cols = list(df.columns)
        df_types = {f.name: f.dataType.simpleString() for f in df.schema.fields}
        mapping = self._load_manifest().get("columns")
        df = self._to_physical_df(df, mapping)
        pcols = [
            self._physical_col(c, mapping)
            if mapping and any(m["name"] == c for m in self._live_cols(mapping))
            else c
            for c in cluster_cols
        ]
        bounds = df.agg(
            *[f for c in pcols for f in (F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max"))]
        ).first()
        qcols = [
            zorder_quantize(F.col(c), int(bounds[f"{c}__min"]), int(bounds[f"{c}__max"]), bits)
            for c in pcols
        ]
        laid = zorder_layout(df, qcols, bits=bits, num_partitions=num_files)
        new = self._write_files(laid, to_physical=False)

        def build_cols(parent_m: dict):
            m = parent_m.get("columns")
            if m is None:
                return None
            kept = [
                dict(c, dropped=True)
                if (not c.get("dropped") and c["name"] not in set(df_cols))
                else dict(c)
                for c in m
            ]
            return self._extend_mapping(kept, df_cols, df_types)

        return self._commit("overwrite-clustered", lambda parent_m: new,
                            build_columns=build_cols)

    def merge(self, source: DataFrame, key: str, txn: tuple[str, int] | None = None) -> int:
        """MERGE INTO this table (upsert): source rows update matching target
        rows and insert new ones — SQL MERGE semantics via
        functions/cdc.py merge_into, made copy-on-write by the manifest.
        ``txn=(app_id, batch_id)`` stamps the commit for exactly-once
        streaming upserts (see streaming_merge).

        Files whose ``key`` stats provably cannot contain any source key are
        carried by reference; only the overlapping files join the source.
        With source keys clustered (a CDC batch usually is) and the table
        written clustered/compacted on the key, the rewrite set is a sliver
        of the table — the Delta/Iceberg MERGE cost model, reproduced with a
        manifest and a full-outer join."""
        from pyspark.sql import functions as F

        from bears_spark.functions.cdc import merge_into

        # translate the LOGICAL-named source (and key) to physical names
        # once; the rewrite then joins physical target against physical source
        src_cols = list(source.columns)
        src_types = {f.name: f.dataType.simpleString() for f in source.schema.fields}
        mapping = self._load_manifest().get("columns")
        source = self._to_physical_df(source, mapping)
        key = self._physical_col(key, mapping) if mapping else key
        b = source.agg(F.min(key).alias("lo"), F.max(key).alias("hi")).first()

        def build(parent_m: dict) -> list[FileEntry]:
            prior = [FileEntry(**e) for e in parent_m["files"]]
            if b["lo"] is None:  # empty source: MERGE is a no-op version
                return prior

            def overlaps(e: FileEntry) -> bool:
                return e.may_match(key, ">=", b["lo"]) and e.may_match(key, "<=", b["hi"])

            keep = [e for e in prior if not overlaps(e)]
            hit = [e for e in prior if overlaps(e)]
            if hit:
                rs = self._read_schema_from_mapping(parent_m.get("columns"))
                target = self._scan(hit, merge_schema=False, read_schema=rs)
                merged = merge_into(target, source, on=key)
            else:
                merged = source
            return keep + self._write_files(merged, to_physical=False)

        def build_cols(parent_m: dict):
            m = parent_m.get("columns")
            return None if m is None else self._extend_mapping(m, src_cols, src_types)

        return self._commit("merge", build, txn=txn, build_columns=build_cols)

    def optimize_clustered(
        self,
        cluster_cols: list[str],
        target_rows_per_file: int = 1_000_000,
        bits: int = 8,
        max_rebuild_attempts: int = 3,
    ) -> int:
        """Delta's ``OPTIMIZE ... ZORDER BY``: incremental re-clustering —
        compact the small files AND lay their rows out along the Morton
        curve, so per-file stats become tight on every ``cluster_cols``
        member for the rewritten subset. On a streaming-fed table this is
        the maintenance job that turns a day's worth of arrival-ordered
        micro-batch files into a skippable layout WITHOUT rewriting the
        (already-clustered) bulk of the table. Same conflict safety as
        compact()."""
        return self.compact(
            target_rows_per_file=target_rows_per_file,
            max_rebuild_attempts=max_rebuild_attempts,
            cluster_cols=cluster_cols,
            bits=bits,
        )

    def compact(
        self,
        target_rows_per_file: int = 1_000_000,
        max_rebuild_attempts: int = 3,
        cluster_cols: list[str] | None = None,
        bits: int = 8,
    ) -> int:
        """Small-file maintenance: bin-pack files below the target into
        ~target-sized replacements, carrying already-large files by
        reference. Commits a new version; every prior snapshot still reads
        its original files (data files are immutable). On a streaming-fed
        100 TB table this is the job that keeps file counts — and therefore
        planning time and open-file overhead — bounded. With
        ``cluster_cols`` the replacement files are written in Z-order
        (see optimize_clustered).

        Concurrency (ADVICE r5 #2): the replacement files are materialized
        from a snapshot taken BEFORE the commit CAS, so the build closure
        verifies every compacted input is still present in the parent
        manifest it commits against. If a concurrent delete/merge/compact
        rewrote one of them, blindly committing would resurrect deleted
        rows (or duplicate rows under two racing compacts) — Delta/Iceberg
        abort this conflict, and so do we: the attempt's output files are
        abandoned (unreferenced, reclaimable by vacuum) and the compaction
        re-reads and re-writes against the new snapshot, up to
        ``max_rebuild_attempts`` before raising CommitConflictError."""
        import math

        class _StaleInputs(Exception):
            pass

        if cluster_cols:
            m0 = self._load_manifest().get("columns")
            cluster_cols = [
                self._physical_col(c, m0)
                if m0 and any(mc["name"] == c for mc in self._live_cols(m0)) else c
                for c in cluster_cols
            ]
        for _ in range(max_rebuild_attempts):
            entries = [FileEntry(**e) for e in self._load_manifest()["files"]]
            # DV-bearing files are compaction candidates regardless of size:
            # rewriting them MATERIALIZES the deletion vector away (the
            # standard MoR maintenance contract)
            small = [e for e in entries if e.live_rows < target_rows_per_file or e.dv]
            if len(small) <= 1 and not any(e.dv for e in small):
                return self.current_version()  # nothing to gain
            merged = self._scan(
                small, merge_schema=False,
                read_schema=self._read_schema_from_mapping(
                    self._load_manifest().get("columns")
                ),
            )
            n_out = max(1, math.ceil(sum(e.live_rows for e in small) / target_rows_per_file))
            if cluster_cols:
                from pyspark.sql import functions as F

                from bears_spark.functions.sketch import zorder_layout, zorder_quantize

                bounds = merged.agg(
                    *[
                        f
                        for c in cluster_cols
                        for f in (F.min(c).alias(f"{c}__min"), F.max(c).alias(f"{c}__max"))
                    ]
                ).first()
                qcols = [
                    zorder_quantize(
                        F.col(c), int(bounds[f"{c}__min"]), int(bounds[f"{c}__max"]), bits
                    )
                    for c in cluster_cols
                ]
                laid = zorder_layout(merged, qcols, bits=bits, num_partitions=n_out)
                new = self._write_files(laid, to_physical=False)
            else:
                new = self._write_files(merged.repartition(n_out), to_physical=False)
            small_ids = {e.identity() for e in small}

            def build(parent_m: dict, small_ids=small_ids, new=new) -> list[FileEntry]:
                prior = [FileEntry(**e) for e in parent_m["files"]]
                prior_ids = {e.identity() for e in prior}
                if not small_ids <= prior_ids:
                    # a concurrent writer removed/rewrote a compacted input
                    # (or attached a new deletion vector to it) after we read
                    # it: committing would resurrect its old rows — rebuild
                    # from the new snapshot instead
                    raise _StaleInputs(sorted(small_ids - prior_ids))
                return [e for e in prior if e.identity() not in small_ids] + new

            try:
                return self._commit("optimize" if cluster_cols else "compact", build)
            except _StaleInputs:
                continue
        raise CommitConflictError(
            f"compact inputs were concurrently rewritten {max_rebuild_attempts} times; giving up"
        )

    # -- streaming ingest ---------------------------------------------------
    def committed_txns(self) -> dict[str, int]:
        """app_id -> last committed batch id (Delta txnAppId/txnVersion
        model). Carried cumulatively in every manifest, so reading the
        LATEST manifest suffices and snapshot expiry never loses stamps."""
        return dict(self._load_manifest().get("txns", {}))

    def committed_batch_ids(self, app_id: str | None = None) -> set[int]:
        """Last committed batch id per ingest app (all apps by default)."""
        txns = self.committed_txns()
        if app_id is not None:
            return {txns[app_id]} if app_id in txns else set()
        return set(txns.values())

    def streaming_append(self, stream_df: DataFrame, checkpoint_dir: str, available_now: bool = True,
                         app_id: str | None = None, export_delta_to: str | None = None,
                         export_iceberg_to: str | None = None):
        """Exactly-once streaming ingest via foreachBatch: each micro-batch
        commits an append manifest stamped with (app_id, epoch id) —
        Delta's txnAppId/txnVersion pattern. A replayed batch (checkpoint
        recovery re-delivers the last epoch) is detected because BOTH stamp
        halves match and is skipped; a NEW checkpoint (epoch ids restart at
        0) gets a different app_id, so its batches are never mistaken for
        replays of an earlier ingest. app_id defaults to the normalized
        checkpoint path — stable across restarts of the same stream,
        distinct per checkpoint. Returns the StreamingQuery (await it, or it
        runs to completion under available_now).

        ``export_delta_to``: continuous Delta replication — after every
        batch (including replayed ones) the table's current snapshot is
        re-exported as an O(churn) diff commit at that path, so external
        Delta readers tail the stream's output without speaking this
        table's manifest format. Safe under every crash point: the export
        diffs CURRENT manifest vs CURRENT exported state, a no-churn export
        writes nothing (idempotent), and the self-checkpoint cadence keeps
        external replay bounded.

        ``export_iceberg_to``: the Iceberg twin — each batch appends an
        O(churn) snapshot at that path (untouched manifests reused by
        reference); the DV-set fingerprint makes zero-churn re-export a
        no-op even while merge-on-read tombstones exist, so replayed
        batches never grow the exported metadata tree."""
        app = app_id or os.path.abspath(checkpoint_dir)

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            if self.committed_txns().get(app, -1) >= batch_id:
                pass  # replay after checkpoint recovery: already committed
            else:
                batch_cols = list(batch_df.columns)
                batch_types = {
                    f.name: f.dataType.simpleString() for f in batch_df.schema.fields
                }
                new = self._write_files(batch_df)
                self._commit(
                    "stream-append",
                    lambda parent_m: [FileEntry(**e) for e in parent_m["files"]] + new,
                    txn=(app, batch_id),
                    build_columns=lambda parent_m: (
                        None if parent_m.get("columns") is None
                        else self._extend_mapping(
                            parent_m["columns"], batch_cols, batch_types
                        )
                    ),
                )
            if export_delta_to is not None:
                # runs on replayed batches too: if the ingest committed but
                # the exporter crashed before this line, the replay heals
                # the export; if nothing changed, nothing is written
                from bears_spark.io.delta_log import export_delta_log

                export_delta_log(self, export_delta_to)
            if export_iceberg_to is not None:
                from bears_spark.io.iceberg_log import export_iceberg_metadata

                export_iceberg_metadata(self, export_iceberg_to)

        w = stream_df.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint_dir)
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    def streaming_merge(self, stream_df: DataFrame, checkpoint_dir: str, key: str,
                        available_now: bool = True, app_id: str | None = None,
                        export_delta_to: str | None = None,
                        export_iceberg_to: str | None = None):
        """Exactly-once streaming MERGE (CDC-apply): each micro-batch of
        upserts merges into the table under the same (app_id, epoch)
        transaction stamps streaming_append uses — a replayed batch after
        checkpoint recovery is skipped at the commit, so updates apply
        exactly once. Within a batch, duplicate keys are resolved by
        merge_into's last-writer contract; across batches, later epochs win
        (the Delta streaming-MERGE cost model: per-batch copy-on-write over
        only the key-overlapping files).

        The app_id namespace is suffixed '#merge' so an append stream and a
        merge stream sharing a checkpoint directory never confuse each
        other's epoch stamps. ``export_delta_to`` replicates each batch's
        result as an O(churn) Delta diff commit (see streaming_append) —
        MERGE rewrites export as remove+add of only the touched files."""
        app = app_id or os.path.abspath(checkpoint_dir) + "#merge"

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            if self.committed_txns().get(app, -1) < batch_id:
                self.merge(batch_df, key=key, txn=(app, batch_id))
            if export_delta_to is not None:
                from bears_spark.io.delta_log import export_delta_log

                export_delta_log(self, export_delta_to)
            if export_iceberg_to is not None:
                from bears_spark.io.iceberg_log import export_iceberg_metadata

                export_iceberg_metadata(self, export_iceberg_to)

        w = stream_df.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint_dir)
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    def streaming_delete_keys(self, stream_df: DataFrame, checkpoint_dir: str, col: str,
                              mode: str = "mor", available_now: bool = True,
                              app_id: str | None = None,
                              export_delta_to: str | None = None,
                              export_iceberg_to: str | None = None):
        """Exactly-once streaming DELETE (the CDC-delete / GDPR-stream twin
        of streaming_merge): each micro-batch is a forget-list of ``col``
        values, applied under the same (app_id, epoch) transaction stamps —
        a replayed batch after checkpoint recovery is skipped at the commit,
        including batches that matched nothing (the no-op version still
        lands its stamp). ``mode="mor"`` (default) tombstones positions as
        deletion vectors — the cheap shape for sparse forget-lists over
        large files; ``mode="cow"`` rewrites. The app_id namespace is
        suffixed '#delete' so append/merge/delete streams sharing a
        checkpoint directory never confuse each other's epoch stamps.
        ``export_delta_to`` replicates each batch's result as an O(churn)
        Delta diff commit (see streaming_append) — a MoR forget-list
        exports as re-adds of the SAME parquet with fresh DV descriptors,
        so downstream Delta readers forget the keys too."""
        app = app_id or os.path.abspath(checkpoint_dir) + "#delete"

        def _sink(batch_df: DataFrame, batch_id: int) -> None:
            if self.committed_txns().get(app, -1) < batch_id:
                self.delete_keys(col, batch_df.select(col), mode=mode, txn=(app, batch_id))
            if export_delta_to is not None:
                from bears_spark.io.delta_log import export_delta_log

                export_delta_log(self, export_delta_to)
            if export_iceberg_to is not None:
                from bears_spark.io.iceberg_log import export_iceberg_metadata

                export_iceberg_metadata(self, export_iceberg_to)

        w = stream_df.writeStream.foreachBatch(_sink).option("checkpointLocation", checkpoint_dir)
        if available_now:
            w = w.trigger(availableNow=True)
        return w.start()

    # -- read operations ----------------------------------------------------
    def _scan(self, entries: list[FileEntry], merge_schema: bool = True,
              read_schema: str | None = None) -> DataFrame:
        """Distributed scan of file entries with their deletion vectors
        applied (io/dv.py). DV-free entries keep the plain parquet read —
        byte-identical plan to the pre-DV engine. ``read_schema`` (a DDL
        string) reads every file through an explicit schema — the
        type-widening path, where mergeSchema cannot reconcile the mixed
        physical widths."""
        from bears_spark.io.dv import scan_with_dvs

        return scan_with_dvs(self.spark, entries, merge_schema=merge_schema,
                             read_schema=read_schema)

    def version_as_of(self, timestamp_ms: int) -> int:
        """Version current AS OF ``timestamp_ms``: the latest non-expired
        version whose monotone commit stamp is <= the probe. Unstamped
        (pre-stamping) manifests are not addressable by timestamp."""
        best = None
        for h in self.snapshots():
            ts = h.get("ts_ms")
            if ts is not None and int(ts) <= int(timestamp_ms):
                best = h["version"]
        if best is None:
            raise ValueError(
                f"no version at or before timestamp {timestamp_ms} "
                f"(table begins later, or its history predates commit stamps)"
            )
        return best

    def read(self, version: int | str | None = None, where: tuple | None = None,
             as_of_timestamp_ms: int | None = None) -> DataFrame:
        """Read a snapshot (latest by default). ``where=(col, op, value)``
        prunes files by manifest stats AND applies the predicate (pruning is
        an optimization, never a semantic change). ``as_of_timestamp_ms``
        time-travels by wall clock (mutually exclusive with ``version``).
        Merge-on-read deletion vectors, if any, are applied as a distributed
        (file, pos) anti-join."""
        from pyspark.sql import functions as F

        if as_of_timestamp_ms is not None:
            if version is not None:
                raise ValueError("pass version OR as_of_timestamp_ms, not both")
            version = self.version_as_of(as_of_timestamp_ms)
        m = self._load_manifest(version)
        mapping = m.get("columns")  # THIS snapshot's logical view — time
        # travel across a rename serves each version under its own names
        all_entries = [FileEntry(**e) for e in m["files"]]
        if not all_entries:
            raise ValueError("snapshot has no data files")
        entries = all_entries
        pwhere = None
        if where is not None:
            col, op, value = where
            pwhere = (self._physical_col(col, mapping), op, value)
            entries = [e for e in entries if e.may_match(*pwhere)]
            if not entries:
                # every file provably excluded: empty result over the FULL
                # merged snapshot schema (footer-only read), so pruning stays
                # semantically invisible even after schema evolution
                rs = self._read_schema_from_mapping(mapping)
                rdr = (self.spark.read.schema(rs) if rs is not None
                       else self.spark.read.option("mergeSchema", "true"))
                return self._project_mapping(
                    rdr.parquet(*[spark_path(e.path) for e in all_entries]).limit(0),
                    mapping,
                )
        # mergeSchema: appends may evolve the schema (new nullable columns);
        # older files surface nulls for columns they predate, and a
        # time-travel read of an old version sees that version's schema.
        df = self._project_mapping(
            self._scan(entries, read_schema=self._read_schema_from_mapping(mapping)),
            mapping,
        )
        if where is not None:
            col, op, value = where
            df = df.filter(_OPS[op](F.col(col), F.lit(value)))
        return df

    def changes_since(self, version: int) -> DataFrame:
        """Incremental consumer API: the rows in data files COMMITTED AFTER
        ``version`` — what a downstream pipeline polls instead of rescanning
        the table (IO is O(delta), the same asymmetry the streaming-ingest
        sink has on the write side). Exact for append-only history; a
        compaction or clustered overwrite REWRITES rows into new files, and a
        merge-on-read delete only SHRINKS existing files (an additive feed
        can't express either) — consumers should checkpoint a version before
        maintenance/delete windows (Delta's change-data-feed has the same
        caveat when CDF files are absent). New files' own deletion vectors
        ARE applied. Raises if ``version`` has been expired."""
        base = {e["path"] for e in self._load_manifest(version)["files"]}
        cur_m = self._load_manifest()
        cur = [FileEntry(**e) for e in cur_m["files"]]
        new = [e for e in cur if e.path not in base]
        if not new:
            return self.read().limit(0)
        cur_map = cur_m.get("columns")
        return self._project_mapping(
            self._scan(new, read_schema=self._read_schema_from_mapping(cur_map)),
            cur_map,
        )

    def change_feed(self, key: str, from_version: int, to_version: int | None = None) -> DataFrame:
        """Typed row-level change feed between two snapshots: full-outer join
        on ``key`` -> (key, change_type in added/removed/changed) via
        functions/cdc.snapshot_diff. Unlike ``changes_since`` this is exact
        under ANY operation mix (merge, delete, compaction) because it
        compares table STATES, at the cost of reading both snapshots — the
        file-skipping read keeps that bounded when the key is clustered.

        Schema evolution between the two versions is aligned BY FIELD
        IDENTITY, not by name: a renamed column still compares its values
        (under the ``to_version`` logical name — ``key`` is given in the
        caller's current view), and a rename alone marks nothing changed.
        Columns added or dropped between the versions are excluded from the
        value comparison (a DDL event is not a row change — Delta CDF's
        behavior across schema change); a ``key`` that did not exist yet at
        ``from_version`` is refused."""
        from bears_spark.functions.cdc import snapshot_diff

        from_map = self._load_manifest(from_version).get("columns")
        to_map = self._load_manifest(to_version).get("columns")
        old = self._align_to_mapping(self.read(from_version), from_map, to_map)
        if key not in old.columns:
            raise ValueError(
                f"key column {key!r} did not exist at version {from_version} "
                f"(columns then, under current names: {old.columns})"
            )
        return snapshot_diff(old, self.read(to_version), on=key)

    @staticmethod
    def _align_to_mapping(
        df: DataFrame, from_map: list[dict] | None, to_map: list[dict] | None
    ) -> DataFrame:
        """Serve a ``from``-version logical view under the ``to``-version's
        logical names. Physical names are the stable field identity (a
        rename moves only the logical name; physical names are reserved
        forever, io/snapshot_table.py::_to_physical_df), so the translation
        is logical_from -> physical -> logical_to. A field dropped by the
        ``to`` version is omitted (it has no current name to compare
        under)."""
        from pyspark.sql import functions as F

        if from_map is to_map or (from_map is None and to_map is None):
            return df
        l2p = (
            {c["name"]: c["physical"] for c in from_map if not c.get("dropped")}
            if from_map
            else {}
        )
        p2l = (
            {c["physical"]: c["name"] for c in to_map if not c.get("dropped")}
            if to_map
            else None
        )
        cols = []
        for name in df.columns:
            phys = l2p.get(name, name)
            logical = p2l.get(phys) if p2l is not None else phys
            if logical is None:
                continue  # dropped by the to-version: no current name
            cols.append(F.col(name).alias(logical) if logical != name else F.col(name))
        return df.select(*cols)

    def files(self, version: int | str | None = None, where: tuple | None = None) -> list[FileEntry]:
        m = self._load_manifest(version)
        entries = [FileEntry(**e) for e in m["files"]]
        if where is not None:
            col, op, value = where
            col = self._physical_col(col, m.get("columns"))
            entries = [e for e in entries if e.may_match(col, op, value)]
        return entries

    # -- metadata-only aggregates -------------------------------------------
    def count_rows(self, version: int | str | None = None) -> int:
        """Exact ``COUNT(*)`` from the manifest alone — O(files), zero data
        bytes read (the Iceberg/Delta "answer from metadata" optimization;
        the reference computes this with a full scan). ``live_rows`` already
        nets out merge-on-read deletion-vector tombstones."""
        return sum(e.live_rows for e in self.files(version))

    def stats_minmax(self, col: str, version: int | str | None = None,
                     return_scanned: bool = False):
        """Exact ``(MIN(col), MAX(col))`` served from per-file manifest stats
        wherever they are trustworthy, scanning ONLY the files whose stats
        cannot stand in for the data: DV-bearing files (a tombstoned row may
        have held the extreme), string stats at the truncation width (the
        stored bound is a prefix, not the value), temporal stats whose
        logical type isn't recorded, and files missing the column's stats
        (including all-null files — the footer stores no bound). At 100 TB
        this is O(manifest) + a scan of the churned sliver, not a corpus
        aggregate. SQL semantics: MIN/MAX ignore NULLs; an empty/all-null
        table yields ``(None, None)``. ``return_scanned`` appends the count
        of files that needed the data fallback (observability + tests).
        ``version`` (or a tag name) time-travels the answer, like
        :meth:`count_rows` — each snapshot's own mapping resolves ``col``."""
        import datetime as _dt

        from pyspark.sql import functions as F

        m = self._load_manifest(version)
        mapping = m.get("columns")
        if mapping is not None:
            live = {c["name"] for c in self._live_cols(mapping)}
            if col not in live:
                raise ValueError(
                    f"unknown column {col!r}; table columns: {sorted(live)}"
                )
        pcol = self._physical_col(col, mapping)
        mapped_type = None
        if mapping is not None:
            for c in mapping:
                if c["name"] == col and not c.get("dropped"):
                    mapped_type = c.get("type")
        entries = [FileEntry(**e) for e in m["files"]]

        def _decode(v, e):
            """Stat value -> exact python value, or None if the stat cannot
            be decoded exactly (caller scans the file instead)."""
            if isinstance(v, dict):
                if v.get("t") == "dec":
                    return decimal.Decimal(v["v"])
                if v.get("t") == "ts":
                    typ = (e.types or {}).get(pcol) or mapped_type
                    if typ == "date":
                        return _EPOCH_D + _dt.timedelta(
                            days=int(v["v"]) // 86_400_000_000
                        )
                    if typ and typ.startswith("timestamp"):
                        # naive UTC, matching what a UTC-session scan returns
                        return _dt.datetime(1970, 1, 1) + int(v["v"]) * _US
                    return None  # temporal flavor unknown: scan
                return None
            if isinstance(v, str) and len(v) >= STAT_STRING_PREFIX:
                return None  # at the truncation width: a prefix, not the value
            return v

        mins, maxs, scan_set = [], [], []
        for e in entries:
            if e.rows == 0:
                continue  # schema-carrying empty file: nothing to aggregate
            s = e.stats.get(pcol) if isinstance(e.stats, dict) else None
            lo = hi = None
            if e.dv is None and isinstance(s, dict):
                lo, hi = _decode(s.get("min"), e), _decode(s.get("max"), e)
            if lo is None or hi is None:
                scan_set.append(e)
            else:
                mins.append(lo)
                maxs.append(hi)
        if scan_set:
            rs = self._read_schema_from_mapping(mapping)
            scanned = self._project_mapping(
                self._scan(scan_set, merge_schema=False, read_schema=rs), mapping
            )
            r = scanned.agg(F.min(col).alias("lo"), F.max(col).alias("hi")).first()
            if r["lo"] is not None:
                mins.append(r["lo"])
                maxs.append(r["hi"])
        out = (min(mins) if mins else None, max(maxs) if maxs else None)
        return (*out, len(scan_set)) if return_scanned else out

    def expire_snapshots(self, keep_last: int = 1, older_than_ms: int | None = None) -> list[int]:
        """Drop the manifests of all but the newest ``keep_last`` versions
        (time travel to expired versions stops working; the live version is
        untouched — and txn stamps survive, because every manifest carries
        the cumulative stamp map). ``older_than_ms`` ADDITIONALLY requires a
        version's commit stamp to be older than the wall-clock cutoff —
        Iceberg's retention-policy shape — so recent history survives even
        past ``keep_last``; a manifest without a stamp (pre-stamping
        history) is conservatively KEPT under an age cutoff, never aged out
        on unknown age. Returns the expired version numbers. Run vacuum()
        after to reclaim data files only expired versions used."""
        cur = self.current_version()
        expired = []
        # tagged versions are pinned until the tag is deleted (Iceberg's
        # retention contract); tags are main-namespace refs
        pinned = set(self.tags().values()) if self.branch_name is None else set()
        # the live version is never expirable, whatever keep_last says
        for v in range(1, max(min(cur - keep_last, cur - 1), 0) + 1):
            if v in pinned:
                continue
            if older_than_ms is not None:
                try:
                    ts = self._load_manifest(v).get("ts_ms")
                except FileNotFoundError:
                    continue  # already expired
                if ts is None or int(ts) >= int(older_than_ms):
                    continue
            expired.append(v)
        for v in expired:
            self.store.delete(self._manifest_key(v))
        return expired

    def vacuum(self, min_age_s: float = 0.0) -> int:
        """Delete data files referenced by NO remaining manifest (files only
        expired snapshots pointed at, plus orphans from crashed writers —
        immutable data files are otherwise never removed). Returns the
        number of files deleted. The expire-then-vacuum split is the
        standard two-phase safety protocol: readers of still-live versions
        never lose a file underneath them. ``min_age_s`` is the
        crashed-writer grace period (Iceberg's remove_orphan_files shape):
        a concurrent committer writes its data files BEFORE the manifest
        CAS, so an unreferenced file younger than the cutoff may be an
        in-flight commit — skipped; an unknown mtime is likewise kept."""
        live: set[str] = set()
        # every namespace shares the data pool: walk main AND all branches —
        # a file only a branch references must survive a main-handle vacuum
        handles = [self if self.branch_name is None
                   else SnapshotTable(self.spark, self.path, store=self.store)]
        handles += [handles[0].branch(b) for b in handles[0].branches()]
        for h in handles:
            for v in range(1, h.current_version() + 1):
                try:
                    for e in h._load_manifest(v)["files"]:
                        live.add(e["path"])
                        if e.get("dv"):
                            live.add(e["dv"]["path"])  # referenced DV blobs stay
                except FileNotFoundError:
                    continue  # expired manifest
        removed = 0
        now = time.time()
        data_root = join_path(self.path, "data")
        for sub in self.fs.listdir(data_root) if self.fs.isdir(data_root) else []:
            subdir = join_path(data_root, sub)
            kept_any = False
            for name in self.fs.listdir(subdir):
                fpath = join_path(subdir, name)
                if not (name.endswith(".parquet") or name.endswith(".bin")) or fpath in live:
                    continue
                if min_age_s > 0:
                    mt = self.fs.mtime(fpath)
                    if mt is None or now - mt < min_age_s:
                        kept_any = True
                        continue  # possible in-flight commit: not ours to reap yet
                self.fs.remove(fpath)
                removed += 1
            if not kept_any and not any(
                join_path(subdir, n) in live for n in self.fs.listdir(subdir)
            ):
                self.fs.rmtree(subdir)
        return removed

    def snapshots(self) -> list[dict]:
        """Version history: (version, operation, commit stamp, file count,
        row count). ``ts_ms`` is the monotone wall-clock commit stamp (None
        on pre-stamping manifests)."""
        out = []
        for v in range(1, self.current_version() + 1):
            try:
                m = self._load_manifest(v)
            except FileNotFoundError:
                continue  # expired snapshot
            out.append(
                {
                    "version": v,
                    "operation": m["operation"],
                    "ts_ms": m.get("ts_ms"),
                    "n_files": len(m["files"]),
                    # LIVE rows: physical minus merge-on-read tombstones
                    "n_rows": sum(
                        e["rows"] - (e["dv"]["cardinality"] if e.get("dv") else 0)
                        for e in m["files"]
                    ),
                }
            )
        return out
