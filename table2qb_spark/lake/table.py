"""LakeTable — a from-scratch snapshot/manifest table format over parquet.

This container ships no Iceberg/Delta jars, so the engine implements the
lakehouse semantics the north rule needs directly (and keeps the interface
narrow so a real Iceberg catalog can be dropped in behind it on a cluster):

- **Atomic snapshot commits**: each commit writes an immutable manifest
  (``_meta/m{N}.json``, the bucket->files map) and a small snapshot header
  (``_meta/v{N}.json``) via temp-file + ``os.rename`` (atomic on POSIX), then
  swaps the ``_meta/VERSION`` pointer the same way. Readers only ever see a
  fully-committed snapshot. The snapshot header is O(1) per commit — file
  lists live in the manifest, not the header, exactly like Iceberg's
  metadata.json -> manifest-list split.
- **Idempotent commit manifests (exactly-once)**: every commit carries a
  ``commit_id`` recorded as a marker file under ``_meta/commits/``. Markers
  are written AFTER the VERSION swap; a crash in between leaves at most ONE
  snapshot (the current) without a marker, which ``has_commit`` /
  ``commit_files`` heal by consulting the current header's own commit_id.
  Re-applying a batch whose commit_id is already present is a no-op, so
  replay from any checkpoint converges to the identical final table state.
- **Optimistic concurrency**: writers compute their merge against a base
  snapshot and pass ``base_snapshot_id`` to ``commit_files``; if another
  commit landed in between, ``ConcurrentCommitError`` is raised instead of
  silently clobbering the interloper's buckets (Iceberg-style
  validate-then-retry; callers may re-read and re-merge).
- **Key-bucket layout**: data files live under ``data/b=<bucket>/`` where
  ``bucket = pmod(xxhash64(key_cols), n_buckets)``. MERGE rewrites only the
  buckets a batch touches (copy-on-write at bucket granularity, like
  Iceberg's bucket-partitioned COW) and both merge sides arrive
  hash-partitioned on the same key, so the join is co-located.
- **Schema evolution with column ids**: the snapshot schema is a list of
  ``{id, name, type}``; data files remember the schema version they were
  written under. Reads group files by schema version and rename columns
  id-wise to the current names (Iceberg-style name mapping), so ADD COLUMN
  and RENAME COLUMN never rewrite data.

Scale notes (100 TB / 1000 executors): n_buckets is the unit of merge
parallelism and file pruning — size it so one bucket's data fits an executor
(e.g. 4096+ at 100 TB). Snapshot headers are O(1); file lists live in one
immutable manifest PER BUCKET referenced from a per-snapshot pointer list,
and commits reuse untouched buckets' manifests verbatim, so commit metadata
I/O is O(touched buckets). Every file a commit attempt writes except the
exclusive header carries an attempt token in its name; concurrent attempts
therefore touch disjoint paths and a losing racer leaves only unreferenced
orphans (cleaned by lake/expire.py), never corruption.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from collections.abc import Mapping
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

META_DIR = "_meta"
DATA_DIR = "data"
COMMITS_DIR = "commits"


class ConcurrentCommitError(RuntimeError):
    """Another commit landed between this writer's base snapshot read and its
    commit attempt. The caller should re-read the table and retry the merge."""


def key_bucket_expr(key_cols: list[str], n_buckets: int) -> Column:
    """The bucket transform. MUST be stable across sessions/versions — it is
    part of the on-disk layout. xxhash64 over the key columns separated by a
    unit separator, mod n_buckets."""
    sep = F.lit("\x1f")
    parts: list[Column] = []
    for i, k in enumerate(key_cols):
        if i:
            parts.append(sep)
        parts.append(F.coalesce(F.col(k).cast("string"), F.lit("\x00")))
    return F.pmod(F.xxhash64(F.concat(*parts)), F.lit(n_buckets)).cast("int")


def key_left_join(left: DataFrame, right: DataFrame, key_cols: list[str]) -> DataFrame:
    """``left.join(right, key_cols, "left")`` with NULL keys matching each
    other: a NULL key column is a real key in the merge contract (the bucket
    transform above routes it like any value), which a plain equi-join would
    never match. Still an equi-join to the planner (EqualNullSafe keys), so
    broadcast and hash joins apply as before. Left's columns come first."""
    renamed = right.select(
        *[F.col(k).alias(f"__rk_{k}") for k in key_cols],
        *[c for c in right.columns if c not in key_cols],
    )
    cond = [F.col(k).eqNullSafe(F.col(f"__rk_{k}")) for k in key_cols]
    return left.join(renamed, cond, "left").drop(*[f"__rk_{k}" for k in key_cols])


class _BucketFiles(Mapping):
    """Lazy bucket -> file-entries map backed by per-bucket manifest files.

    Iterating KEYS is free (the pointer map is in memory); a bucket's entry
    list is loaded from its own manifest file on first access. This is what
    makes pruned reads/merges O(touched buckets) in metadata I/O too."""

    def __init__(self, root: str, pointers: dict[str, dict]):
        self._root = root
        self._ptr = pointers
        self._cache: dict[str, dict] = {}

    def _doc(self, b: str) -> dict:
        if b not in self._cache:
            ptr = self._ptr[b]  # KeyError for unknown buckets, like a dict
            with open(os.path.join(self._root, ptr["path"])) as f:
                self._cache[b] = json.load(f)
        return self._cache[b]

    def __getitem__(self, b) -> list[dict]:
        return self._doc(str(b))["files"]

    def deletes(self, b) -> list[dict]:
        """Equality-delete file entries for a bucket (merge-on-read commits;
        [] for COW-only buckets and every pre-MOR manifest)."""
        return self._doc(str(b)).get("delete_files", [])

    def pos_deletes(self, b) -> list[dict]:
        """POSITION-delete file entries for a bucket (Iceberg v2 position
        deletes: rows dead by (file, row ordinal), written by predicate
        DELETEs — lake/dml.py; [] everywhere else)."""
        return self._doc(str(b)).get("pos_delete_files", [])

    def __iter__(self):
        return iter(self._ptr)

    def __len__(self):
        return len(self._ptr)

    def __eq__(self, other):
        if isinstance(other, Mapping):
            return dict(self.items()) == dict(other.items())
        return NotImplemented

    __hash__ = None


@dataclass
class Snapshot:
    snapshot_id: int
    parent_id: int | None
    commit_id: str
    schema_version: int
    schemas: dict[str, list[dict]]  # version(str) -> [{id,name,type}]
    key_columns: list[str]
    n_buckets: int
    # bucket(str) -> [{path, schema_version, rows}] — hydrated (lazily, via
    # _BucketFiles) from per-bucket manifest files on load; NOT stored in the
    # snapshot header.
    files: Mapping
    n_commits: int
    summary: dict
    timestamp_ms: int
    # staged (write-audit-publish): the snapshot's header exists but VERSION
    # was never swapped to it — readers don't see it until publish_snapshot
    staged: bool = False
    # branch commits (Iceberg branch refs): staged snapshots OWNED by a named
    # branch — excluded from the WAP staged_snapshots() listing, published
    # only as a chain via fast_forward()
    branch: str | None = None
    # bucket(str) -> {"path": bucket-manifest relpath, "rows": n} — the
    # manifest LIST this snapshot was loaded from (None for legacy formats).
    # Commits reuse untouched buckets' pointers verbatim (Iceberg-style
    # manifest reuse), so commit metadata I/O is O(touched buckets).
    manifest_pointers: dict[str, dict] | None = field(default=None, compare=False)
    # table properties (Iceberg-style): set at create / set_properties, carried
    # forward verbatim by every commit. Known keys: bloom.columns / bloom.bits
    # / bloom.hashes (lake/bloom.py file-skipping blooms).
    properties: dict = field(default_factory=dict)

    def current_schema(self) -> list[dict]:
        return self.schemas[str(self.schema_version)]

    def delete_files(self, b) -> list[dict]:
        """Equality-delete entries for a bucket ([] when the bucket has only
        copy-on-write history, no manifest yet, or a legacy/in-memory file
        map)."""
        deletes = getattr(self.files, "deletes", None)
        if deletes is None or str(b) not in self.files:
            return []
        return deletes(b)

    def pos_delete_files(self, b) -> list[dict]:
        """Position-delete entries for a bucket (predicate DELETEs applied
        merge-on-read — lake/dml.py; [] everywhere else)."""
        pos = getattr(self.files, "pos_deletes", None)
        if pos is None or str(b) not in self.files:
            return []
        return pos(b)

    def header_json(self) -> dict:
        return {
            "snapshot_id": self.snapshot_id,
            "parent_id": self.parent_id,
            "commit_id": self.commit_id,
            "schema_version": self.schema_version,
            "schemas": self.schemas,
            "key_columns": self.key_columns,
            "n_buckets": self.n_buckets,
            # "manifest" is set by _write_snapshot (attempt-unique path)
            "n_commits": self.n_commits,
            "summary": self.summary,
            "timestamp_ms": self.timestamp_ms,
            **({"staged": True} if self.staged else {}),
            **({"branch": self.branch} if self.branch else {}),
            **({"properties": self.properties} if self.properties else {}),
        }

    @staticmethod
    def from_json(d: dict, files: Mapping) -> "Snapshot":
        return Snapshot(
            snapshot_id=d["snapshot_id"],
            parent_id=d.get("parent_id"),
            commit_id=d["commit_id"],
            schema_version=d["schema_version"],
            schemas=d["schemas"],
            key_columns=d["key_columns"],
            n_buckets=d["n_buckets"],
            files=files,
            n_commits=d.get("n_commits", len(d.get("applied_commits", []))),
            summary=d.get("summary", {}),
            timestamp_ms=d.get("timestamp_ms", 0),
            staged=bool(d.get("staged", False)),
            branch=d.get("branch"),
            properties=d.get("properties", {}),
        )


def _atomic_write(path: str, content: str) -> None:
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    os.rename(tmp, path)


def _exclusive_write(path: str, content: str) -> None:
    """Atomic CREATE-if-absent: os.link of a fully-fsynced temp fails with
    FileExistsError when ``path`` exists (true O_EXCL, unlike os.rename which
    silently overwrites). This is what makes two racing writers on the same
    snapshot id resolve to exactly one winner."""
    tmp = f"{path}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w", encoding="utf-8") as f:
        f.write(content)
        f.flush()
        os.fsync(f.fileno())
    try:
        os.link(tmp, path)
    finally:
        os.unlink(tmp)


class LakeTable:
    """Handle to one lake table rooted at ``path``."""

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        self.path = os.path.abspath(path)

    # ----- creation / loading ----------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        path: str,
        schema: list[tuple[str, str]],
        key_columns: list[str],
        n_buckets: int = 64,
        properties: dict | None = None,
    ) -> "LakeTable":
        """Create an empty table. ``schema``: [(name, spark_type_ddl)].
        ``properties``: Iceberg-style table properties (e.g.
        ``{"bloom.columns": "repo,path"}`` — lake/bloom.py)."""
        t = LakeTable(spark, path)
        os.makedirs(os.path.join(t.path, META_DIR, COMMITS_DIR), exist_ok=True)
        os.makedirs(os.path.join(t.path, DATA_DIR), exist_ok=True)
        cols = [{"id": i + 1, "name": n, "type": ty} for i, (n, ty) in enumerate(schema)]
        snap = Snapshot(
            snapshot_id=1,
            parent_id=None,
            commit_id="__create__",
            schema_version=1,
            schemas={"1": cols},
            key_columns=key_columns,
            n_buckets=n_buckets,
            files={},
            n_commits=1,
            summary={"row_count": 0, "max_seq": None},
            timestamp_ms=int(time.time() * 1000),
            properties=dict(properties or {}),
        )
        t._write_snapshot(snap, {})
        return t

    @staticmethod
    def exists(path: str) -> bool:
        return os.path.exists(os.path.join(os.path.abspath(path), META_DIR, "VERSION"))

    def _snapshot_path(self, snapshot_id: int) -> str:
        return os.path.join(self.path, META_DIR, f"v{snapshot_id:08d}.json")

    def _manifest_path(self, snapshot_id: int) -> str:
        return os.path.join(self.path, META_DIR, f"m{snapshot_id:08d}.json")

    def _marker_path(self, commit_id: str) -> str:
        return os.path.join(self.path, META_DIR, COMMITS_DIR, commit_id)

    def _bucket_manifest_rel(self, snapshot_id: int, token: str, bucket: str) -> str:
        return f"{META_DIR}/mb-{snapshot_id:08d}-{token}-{bucket}.json"

    def _write_bucket_manifests(
        self,
        snapshot_id: int,
        new_files: dict,
        token: str,
        new_deletes: dict | None = None,
        new_pos_deletes: dict | None = None,
    ) -> dict[str, dict]:
        """One immutable manifest file per bucket (written BEFORE the
        exclusive header — crash orphans are invisible). Names carry a
        per-ATTEMPT token so two writers racing toward the same snapshot id
        can never overwrite each other's files: only the exclusive header
        decides whose get referenced; the loser's become unreferenced
        orphans. Returns the pointer entries for the manifest list.

        ``new_deletes`` (merge-on-read): per-bucket equality-delete file
        entries stored under ``delete_files``. Pointer ``rows`` stays the
        LIVE count: each delete entry masks exactly one then-live physical
        copy (the MOR writer only emits an entry when the key existed), so
        live = sum(file rows) - sum(delete entry rows).

        ``new_pos_deletes``: per-bucket POSITION-delete entries (predicate
        DELETE merge-on-read — lake/dml.py) under ``pos_delete_files``.
        Positions are emitted from a masked read, so each masks exactly one
        then-live row and the same arithmetic applies."""
        out: dict[str, dict] = {}
        for b, entries in new_files.items():
            rel = self._bucket_manifest_rel(snapshot_id, token, str(b))
            doc: dict = {"files": entries}
            dels = (new_deletes or {}).get(b) or (new_deletes or {}).get(str(b))
            del_rows = 0
            if dels:
                doc["delete_files"] = dels
                del_rows = sum(int(e.get("rows", 0) or 0) for e in dels)
            pdels = (new_pos_deletes or {}).get(b) or (new_pos_deletes or {}).get(
                str(b)
            )
            if pdels:
                doc["pos_delete_files"] = pdels
                del_rows += sum(int(e.get("rows", 0) or 0) for e in pdels)
            _atomic_write(os.path.join(self.path, rel), json.dumps(doc))
            out[str(b)] = {
                "path": rel,
                "rows": sum(int(e.get("rows", 0) or 0) for e in entries) - del_rows,
            }
        return out

    def _pointers_of(
        self, snap: Snapshot, next_snapshot_id: int, token: str
    ) -> dict[str, dict]:
        """The parent's manifest pointers, upgrading a legacy (monolithic /
        inline) snapshot by splitting it into per-bucket manifests once."""
        if snap.manifest_pointers is not None:
            return dict(snap.manifest_pointers)
        return self._write_bucket_manifests(next_snapshot_id, dict(snap.files), token)

    # How long a header that never became current must sit before a DIFFERENT
    # commit stream may reclaim its snapshot id. The window between a
    # writer's exclusive header link and its VERSION swap is microseconds;
    # the grace bounds a crashed writer's wedge without letting a merely
    # STALLED writer be usurped mid-commit. On a real deployment this CAS
    # lives in a catalog service; a lease-style grace is the file-system
    # equivalent.
    ORPHAN_GRACE_SEC = 300

    # A STAGED header (write-audit-publish) legitimately sits unpublished for
    # as long as the audit takes, so foreign reclaim waits much longer — a
    # staged snapshot abandoned past this is treated like any crashed orphan.
    STAGED_GRACE_SEC = 86400

    def _write_snapshot(
        self, snap: Snapshot, pointers: dict[str, dict], publish: bool = True
    ) -> None:
        """Commit order: manifest list (attempt-unique name) -> header
        (EXCLUSIVE create) -> VERSION swap -> commit marker. Every file a
        commit attempt writes EXCEPT the header carries an attempt token in
        its name (manifest list, per-bucket manifests, data directories), so
        concurrent attempts at the same snapshot id touch disjoint paths;
        v{N}.json is the single name-contended file and os.link gives true
        O_EXCL semantics there — the loser gets ConcurrentCommitError and
        its already-written files are unreferenced orphans (reclaimed by
        expire_snapshots), never corruption of the winner's.

        A crash leaves either (a) an invisible orphan header (VERSION
        unswapped): a retry of the SAME commit_id reclaims it immediately;
        any OTHER writer reclaims it only after ORPHAN_GRACE_SEC (env
        SPARK_GRAFT_ORPHAN_GRACE_SEC) so a live writer mid-swap is never
        usurped — before that it gets ConcurrentCommitError (retryable); or
        (b) a visible snapshot missing only its marker (healed lazily from
        the header's commit_id)."""
        header_path = self._snapshot_path(snap.snapshot_id)
        token = uuid.uuid4().hex[:8]
        manifest_rel = f"{META_DIR}/m{snap.snapshot_id:08d}-{token}.json"
        header = snap.header_json()
        header["manifest"] = manifest_rel
        header_json = json.dumps(header)
        _atomic_write(
            os.path.join(self.path, manifest_rel), json.dumps({"buckets": pointers})
        )
        try:
            _exclusive_write(header_path, header_json)
        except FileExistsError:
            if self.current_snapshot_id() >= snap.snapshot_id:
                raise ConcurrentCommitError(
                    f"Snapshot {snap.snapshot_id} already committed by another writer"
                ) from None
            existing = self._read_header(snap.snapshot_id)
            if existing.get("staged"):
                # a staged snapshot (write-audit-publish) holds its id slot
                # for the whole audit window, not just the commit-swap
                # microseconds — foreign writers wait the (much longer)
                # staged grace before treating it as abandoned
                grace = float(
                    os.environ.get(
                        "SPARK_GRAFT_STAGED_GRACE_SEC", self.STAGED_GRACE_SEC
                    )
                )
            else:
                grace = float(
                    os.environ.get(
                        "SPARK_GRAFT_ORPHAN_GRACE_SEC", self.ORPHAN_GRACE_SEC
                    )
                )
            age = time.time() - os.path.getmtime(header_path)
            if existing.get("commit_id") != snap.commit_id and age < grace:
                raise ConcurrentCommitError(
                    f"Snapshot {snap.snapshot_id} header created by a concurrent "
                    f"writer (commit {existing.get('commit_id')!r}) {age:.0f}s ago; "
                    f"retry after its {grace:.0f}s orphan grace expires"
                ) from None
            # Orphan reclaim (our own crashed predecessor — same commit_id —
            # or a foreign orphan past the grace period). The reclaim itself
            # must be serialized: without a lock, two reclaimers could both
            # pass the checks and the second would unlink the FIRST one's
            # now-committed header. The lock is an exclusive marker file;
            # a stale lock (holder crashed) expires by the same grace rule.
            lock_path = self._acquire_reclaim_lock(
                header_path, snap.snapshot_id, snap.commit_id, grace
            )
            try:
                # RE-CHECK under the lock: the orphan may have become the
                # committed current snapshot while we raced for the lock
                if self.current_snapshot_id() >= snap.snapshot_id:
                    raise ConcurrentCommitError(
                        f"Snapshot {snap.snapshot_id} committed while awaiting "
                        "the reclaim lock"
                    ) from None
                if os.path.exists(header_path):
                    os.unlink(header_path)
                try:
                    _exclusive_write(header_path, header_json)
                except FileExistsError:
                    raise ConcurrentCommitError(
                        f"Snapshot {snap.snapshot_id} header re-created by a "
                        "concurrent writer during reclaim; retry"
                    ) from None
            finally:
                if os.path.exists(lock_path):
                    os.unlink(lock_path)
        if not publish:
            # STAGED commit (write-audit-publish): the header exists — the
            # snapshot id slot is held and its files are sweep-protected —
            # but VERSION never moves, so no reader sees it and the commit
            # marker is NOT written (exactly-once is decided at publish).
            return
        # Publish UNDER the reclaim lock: any reclaimer must hold this same
        # lock to unlink/rewrite our header, so verifying ownership and
        # swapping VERSION inside it closes the round-4 residual race (a
        # reclaim landing between the ownership re-check and the VERSION
        # swap, which would regress the usurper's commit and mark our
        # commit_id applied although our rows were replaced — a lost write
        # on redelivery). The manifest filename carries a per-attempt token,
        # so the check also distinguishes two attempts of the same
        # commit_id. If a reclaimer already holds the lock, our header is
        # about to be (or was) replaced — ConcurrentCommitError, retry.
        grace = float(
            os.environ.get("SPARK_GRAFT_ORPHAN_GRACE_SEC", self.ORPHAN_GRACE_SEC)
        )
        lock_path = self._acquire_reclaim_lock(
            header_path, snap.snapshot_id, snap.commit_id, grace
        )
        try:
            try:
                published = self._read_header(snap.snapshot_id)
            except FileNotFoundError:
                raise ConcurrentCommitError(
                    f"Snapshot {snap.snapshot_id} header vanished before the "
                    "VERSION swap (reclaimed by another writer); retry"
                ) from None
            if (
                published.get("commit_id") != snap.commit_id
                or published.get("manifest") != manifest_rel
            ):
                raise ConcurrentCommitError(
                    f"Snapshot {snap.snapshot_id} was reclaimed by another writer "
                    f"(now commit {published.get('commit_id')!r}) while this "
                    "writer was stalled; retry"
                )
            _atomic_write(
                os.path.join(self.path, META_DIR, "VERSION"), str(snap.snapshot_id)
            )
            self._write_marker(snap.commit_id)
        finally:
            if os.path.exists(lock_path):
                os.unlink(lock_path)

    def _acquire_reclaim_lock(
        self, header_path: str, snapshot_id: int, commit_id: str, grace: float
    ) -> str:
        """Take the per-snapshot reclaim lock (exclusive marker file) that
        serializes both orphan reclaims AND the publish step; a stale lock
        (holder crashed) expires after ``grace`` seconds. Returns the lock
        path; the caller must unlink it."""
        lock_path = f"{header_path}.reclaim"
        try:
            _exclusive_write(lock_path, commit_id)
        except FileExistsError:
            if time.time() - os.path.getmtime(lock_path) < grace:
                raise ConcurrentCommitError(
                    f"Snapshot {snapshot_id} header is locked by another "
                    "writer (reclaim or publish in flight); retry"
                ) from None
            os.unlink(lock_path)  # stale lock: its holder crashed
            try:
                _exclusive_write(lock_path, commit_id)
            except FileExistsError:
                raise ConcurrentCommitError(
                    f"Snapshot {snapshot_id} reclaim lock contended; retry"
                ) from None
        return lock_path

    def _write_marker(self, commit_id: str) -> None:
        marker = self._marker_path(commit_id)
        if not os.path.exists(marker):
            os.makedirs(os.path.dirname(marker), exist_ok=True)
            _atomic_write(marker, "")

    def current_snapshot_id(self) -> int:
        with open(os.path.join(self.path, META_DIR, "VERSION")) as f:
            return int(f.read().strip())

    def _read_header(self, snapshot_id: int) -> dict:
        with open(self._snapshot_path(snapshot_id)) as f:
            return json.load(f)

    def snapshot(self, snapshot_id: int | None = None) -> Snapshot:
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        d = self._read_header(sid)
        pointers = None
        if "files" in d:  # legacy header with inline file lists
            files: Mapping = d["files"]
        else:
            with open(os.path.join(self.path, d["manifest"])) as f:
                m = json.load(f)
            if "buckets" in m:  # per-bucket manifest pointers (round 3)
                pointers = m["buckets"]
                files = _BucketFiles(self.path, pointers)
            else:  # round-2 monolithic manifest
                files = m["files"]
        snap = Snapshot.from_json(d, files)
        snap.manifest_pointers = pointers
        return snap

    def snapshot_as_of(self, ts_ms: int) -> Snapshot:
        """Time travel by TIMESTAMP: the latest snapshot committed at or
        before ``ts_ms`` (epoch millis) — what "the table as of last
        Tuesday" means when the caller has a wall clock, not a snapshot id.
        Walks the current ancestry (id-ordered headers, newest first), so
        cost is O(snapshots-newer-than-ts) header reads, not O(history).
        Raises if the timestamp predates the oldest retained snapshot
        (expired history cannot be reconstructed)."""
        snap = self.snapshot()
        while snap.timestamp_ms > ts_ms:
            if snap.parent_id is None:
                raise ValueError(
                    f"no snapshot at or before ts={ts_ms}: oldest retained "
                    f"snapshot {snap.snapshot_id} was committed at "
                    f"{snap.timestamp_ms}"
                )
            try:
                snap = self.snapshot(snap.parent_id)
            except FileNotFoundError:
                raise ValueError(
                    f"no snapshot at or before ts={ts_ms}: history older "
                    f"than snapshot {snap.snapshot_id} has been expired"
                ) from None
        return snap

    # ----- write-audit-publish (staged snapshots) --------------------------

    def staged_snapshots(self) -> list[int]:
        """Ids of staged (unpublished) snapshot headers. Staged headers
        always sit ABOVE the current VERSION (the slot is held until
        publish/discard/grace-reclaim), so the walk is O(staged), not
        O(history)."""
        out = []
        sid = self.current_snapshot_id() + 1
        while os.path.exists(self._snapshot_path(sid)):
            h = self._read_header(sid)
            # branch-owned staged snapshots are published via fast_forward,
            # not the WAP publish/discard surface — don't list them here
            if h.get("staged") and not h.get("branch"):
                out.append(sid)
            sid += 1
        return out

    def publish_snapshot(self, snapshot_id: int) -> Snapshot:
        """Make a staged snapshot the current one (write-audit-publish):
        verifies the staged commit was computed against the CURRENT snapshot
        (else the audit looked at a result that would clobber interleaved
        commits — discard and re-stage), clears the staged flag, writes the
        commit marker (exactly-once is decided HERE, so an audit-rejected
        batch replays cleanly later) and swaps VERSION — all under the same
        reclaim lock as a direct commit's publish step."""
        header_path = self._snapshot_path(snapshot_id)
        d = self._read_header(snapshot_id)  # FileNotFoundError: no such
        if not d.get("staged"):
            raise ValueError(f"snapshot {snapshot_id} is not staged")
        grace = float(
            os.environ.get("SPARK_GRAFT_STAGED_GRACE_SEC", self.STAGED_GRACE_SEC)
        )
        lock_path = self._acquire_reclaim_lock(
            header_path, snapshot_id, d["commit_id"], grace
        )
        try:
            current = self.current_snapshot_id()
            if d.get("parent_id") != current:
                raise ConcurrentCommitError(
                    f"staged snapshot {snapshot_id} was computed against "
                    f"snapshot {d.get('parent_id')} but current is {current}: "
                    "publishing would clobber interleaved commits — discard "
                    "and re-stage"
                )
            d2 = self._read_header(snapshot_id)
            if d2.get("commit_id") != d.get("commit_id"):
                raise ConcurrentCommitError(
                    f"staged snapshot {snapshot_id} was replaced by another "
                    f"writer (now commit {d2.get('commit_id')!r}); re-audit"
                )
            d2.pop("staged", None)
            _atomic_write(header_path, json.dumps(d2))
            _atomic_write(
                os.path.join(self.path, META_DIR, "VERSION"), str(snapshot_id)
            )
            self._write_marker(d2["commit_id"])
        finally:
            if os.path.exists(lock_path):
                os.unlink(lock_path)
        return self.snapshot(snapshot_id)

    def discard_snapshot(self, snapshot_id: int) -> None:
        """Drop a staged snapshot without publishing (audit rejected it).
        Metadata-only: the header is unlinked — its attempt-unique manifest
        list, per-bucket manifests and data files become unreferenced
        orphans that the next expire sweep GCs (shared parent manifests are
        referenced by retained snapshots and survive, same two-phase logic
        as expiry). The commit marker was never written, so a later replay
        RE-APPLIES the batch."""
        header_path = self._snapshot_path(snapshot_id)
        d = self._read_header(snapshot_id)
        if not d.get("staged"):
            raise ValueError(
                f"snapshot {snapshot_id} is not staged (discarding a "
                "published snapshot is rollback + expire, not discard)"
            )
        grace = float(
            os.environ.get("SPARK_GRAFT_STAGED_GRACE_SEC", self.STAGED_GRACE_SEC)
        )
        lock_path = self._acquire_reclaim_lock(
            header_path, snapshot_id, d["commit_id"], grace
        )
        try:
            if os.path.exists(header_path):
                os.unlink(header_path)
        finally:
            if os.path.exists(lock_path):
                os.unlink(lock_path)

    # ----- named refs (tags) ----------------------------------------------

    def _ref_path(self, name: str) -> str:
        return os.path.join(self.path, META_DIR, "refs", f"{name}.json")

    @staticmethod
    def _check_tag_name(name: str) -> None:
        if (
            not name
            or not all(c.isalnum() or c in "._-" for c in name)
            or name.isdigit()
        ):
            raise ValueError(
                f"invalid tag name {name!r}: letters/digits/._- only, and "
                "not all-digits (a numeric ref always means a snapshot id)"
            )

    def create_tag(
        self, name: str, snapshot_id: int | None = None, force: bool = False
    ) -> dict:
        """Name a snapshot (Iceberg's tag ref): a human-stable handle for
        time travel — "the corpus v3 trained on" — that also PINS the
        snapshot: expire_snapshots retains tagged snapshots regardless of
        keep_last / age, so a handle can never dangle. Metadata-only (one
        O(bytes) file under ``_meta/refs/``); exclusive creation goes
        through a hard link, so two concurrent taggers of the same name
        cannot silently clobber each other (no read-modify-write)."""
        self._check_tag_name(name)
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        self._read_header(sid)  # FileNotFoundError: no such snapshot
        doc = {
            "name": name,
            "snapshot_id": sid,
            "created_ms": int(time.time() * 1000),
        }
        path = self._ref_path(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        if force:
            _atomic_write(path, json.dumps(doc))
            return doc
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        _atomic_write(tmp, json.dumps(doc))
        try:
            os.link(tmp, path)  # atomic AND exclusive: fails if the tag exists
        except FileExistsError:
            raise ValueError(
                f"tag {name!r} already exists (pass force to move it)"
            ) from None
        finally:
            os.remove(tmp)
        return doc

    def delete_tag(self, name: str) -> None:
        try:
            os.remove(self._ref_path(name))
        except FileNotFoundError:
            raise ValueError(f"no such tag: {name!r}") from None

    def list_tags(self) -> dict[str, dict]:
        refs_dir = os.path.join(self.path, META_DIR, "refs")
        out: dict[str, dict] = {}
        if os.path.isdir(refs_dir):
            for fn in sorted(os.listdir(refs_dir)):
                if fn.endswith(".json"):
                    with open(os.path.join(refs_dir, fn)) as f:
                        doc = json.load(f)
                    out[doc["name"]] = doc
        return out

    def resolve_ref(self, ref: "int | str") -> int:
        """Resolve a snapshot reference: an int / all-digits string IS a
        snapshot id; anything else is a tag name (tag names cannot be
        all-digits, so the grammar is unambiguous)."""
        if isinstance(ref, int):
            return ref
        s = str(ref).strip()
        if s.isdigit():
            return int(s)
        try:
            with open(self._ref_path(s)) as f:
                return int(json.load(f)["snapshot_id"])
        except FileNotFoundError:
            tags = sorted(self.list_tags())
            raise ValueError(
                f"no such tag: {s!r} (tags: {', '.join(tags) or 'none'})"
            ) from None

    # ----- named refs (branches) ------------------------------------------

    def create_branch(self, name: str, snapshot_id: int | None = None) -> dict:
        """Create a writable branch ref (Iceberg's branch): a named MUTABLE
        head that commits can advance independently of main — the
        audit-branch WAP workflow generalized from single staged snapshots
        to chains. Branch commits are staged headers (readers of main never
        see them; their files are sweep-protected like any staged commit)
        whose parent is the branch head; ``fast_forward`` publishes the
        whole chain onto main atomically when main hasn't moved.

        Same namespace and grammar as tags (``resolve_ref`` reads both), so
        ``read(snapshot_id=t.resolve_ref("audit"))`` time-travels to a
        branch head exactly like a tag."""
        self._check_tag_name(name)
        sid = snapshot_id if snapshot_id is not None else self.current_snapshot_id()
        self._read_header(sid)  # FileNotFoundError: no such snapshot
        doc = {
            "name": name,
            "type": "branch",
            "snapshot_id": sid,
            "created_ms": int(time.time() * 1000),
        }
        path = self._ref_path(name)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        _atomic_write(tmp, json.dumps(doc))
        try:
            os.link(tmp, path)  # atomic AND exclusive, like create_tag
        except FileExistsError:
            raise ValueError(f"ref {name!r} already exists") from None
        finally:
            os.remove(tmp)
        return doc

    def _read_ref(self, name: str) -> dict:
        try:
            with open(self._ref_path(name)) as f:
                return json.load(f)
        except FileNotFoundError:
            raise ValueError(f"no such ref: {name!r}") from None

    def branch_head(self, name: str) -> int:
        doc = self._read_ref(name)
        if doc.get("type") != "branch":
            raise ValueError(f"ref {name!r} is a tag, not a branch")
        return int(doc["snapshot_id"])

    def delete_branch(self, name: str) -> None:
        self.branch_head(name)  # ValueError unless an existing branch
        os.remove(self._ref_path(name))

    def _advance_branch(self, name: str, old_head: int, new_head: int) -> None:
        """CAS the branch head ``old_head -> new_head`` under an exclusive
        lock file: a concurrent advance from the same base loses with
        ConcurrentCommitError (its snapshot chain becomes expire-swept
        orphans), never a silent clobber."""
        path = self._ref_path(name)
        lock = f"{path}.lock"
        tmp = f"{path}.{uuid.uuid4().hex[:8]}.tmp"
        _atomic_write(tmp, "")
        try:
            os.link(tmp, lock)
        except FileExistsError:
            raise ConcurrentCommitError(
                f"branch {name!r} advance contended (lock held); retry"
            ) from None
        finally:
            os.remove(tmp)
        try:
            doc = self._read_ref(name)
            if doc.get("type") != "branch" or int(doc["snapshot_id"]) != old_head:
                raise ConcurrentCommitError(
                    f"branch {name!r} moved (head now "
                    f"{doc.get('snapshot_id')}, expected {old_head}); re-read "
                    "and re-merge"
                )
            doc["snapshot_id"] = new_head
            _atomic_write(path, json.dumps(doc))
        finally:
            os.unlink(lock)

    def _next_slot_id(self, at_least: int) -> int:
        """Next snapshot-id slot >= at_least, skipping ONLY branch-owned
        headers (branch chains and main share one id space, and a pending
        branch must never block main's progress). Slots held by anything
        else — WAP-staged snapshots (which hold their slot by design for
        the staged grace window) or a crashed writer's orphan (which the
        SAME commit_id's retry reclaims in place) — are returned as-is so
        ``_write_snapshot``'s exclusive-create arbitration keeps its
        existing semantics."""
        sid = max(at_least, self.current_snapshot_id() + 1)
        while os.path.exists(self._snapshot_path(sid)):
            try:
                if not self._read_header(sid).get("branch"):
                    break
            except (FileNotFoundError, json.JSONDecodeError):
                break  # racing create/remove: let exclusive-create arbitrate
            sid += 1
        return sid

    def branch_chain(self, name: str) -> list[int]:
        """Snapshot ids owned by the branch, oldest first: the parent walk
        from the head down to (excluding) the first snapshot not owned by
        the branch (its base — usually a published main snapshot)."""
        chain: list[int] = []
        sid = self.branch_head(name)
        while sid is not None:
            try:
                h = self._read_header(sid)
            except FileNotFoundError:
                # an expired chain member (a DEAD branch — overtaken base —
                # whose mid-chain headers aged out of keep_last while the
                # ref pinned only its head): stop the walk instead of
                # crashing list/ff; fast_forward on such a chain is then
                # rejected by its base check as usual
                break
            if h.get("branch") != name:
                break
            chain.append(sid)
            sid = h.get("parent_id")
        chain.reverse()
        return chain

    def fast_forward(self, name: str) -> Snapshot:
        """Publish a branch onto main (Iceberg's fast-forward): requires
        main's current snapshot to be the branch chain's base — i.e. main
        has NOT moved since the branch forked (else publishing would
        clobber interleaved commits; re-branch and re-apply, same rule as
        ``publish_snapshot``). Under the head's reclaim lock, the chain
        publishes STEPWISE oldest-first — each step is exactly the proven
        direct-commit publish sequence (unstage header -> VERSION swap ->
        commit marker), so every crash window is one that already exists
        and heals: pre-swap = invisible clean header re-forwarded on
        resume, post-swap-pre-marker = ``has_commit``'s current-header
        heal. Exactly-once is decided HERE (an audit-rejected branch's
        commit_ids replay cleanly after ``delete_branch``). Readers may
        observe intermediate chain states during the forward — each is a
        consistent published snapshot; Iceberg's single-swap atomicity is
        traded for crash-resumability. Re-running after a partial forward
        completes it (the already-published prefix is skipped). The branch
        ref stays, now pointing at published history (``delete_branch`` to
        drop it)."""
        head = self.branch_head(name)
        chain = self.branch_chain(name)
        if not chain:
            raise ValueError(
                f"branch {name!r} has no commits (head {head} is published "
                "history); nothing to fast-forward"
            )
        base = self._read_header(chain[0]).get("parent_id")
        head_doc = self._read_header(head)
        grace = float(
            os.environ.get("SPARK_GRAFT_STAGED_GRACE_SEC", self.STAGED_GRACE_SEC)
        )
        lock_path = self._acquire_reclaim_lock(
            self._snapshot_path(head), head, head_doc["commit_id"], grace
        )
        try:
            # On resume after a partial forward the published prefix lost its
            # ``branch`` field, so branch_chain() already excludes it and
            # ``base`` IS the last published chain element — one check serves
            # both the fresh and the resumed forward.
            current = self.current_snapshot_id()
            if current != base:
                raise ConcurrentCommitError(
                    f"branch {name!r} forked from snapshot {base} but main is "
                    f"now {current}: fast-forwarding would clobber interleaved "
                    "commits — re-branch from current and re-apply"
                )
            for sid in chain:
                h = self._read_header(sid)
                h.pop("staged", None)
                h.pop("branch", None)
                _atomic_write(self._snapshot_path(sid), json.dumps(h))
                _atomic_write(
                    os.path.join(self.path, META_DIR, "VERSION"), str(sid)
                )
                self._write_marker(h["commit_id"])
        finally:
            if os.path.exists(lock_path):
                os.unlink(lock_path)
        return self.snapshot(head)

    def history(self) -> list[Snapshot]:
        """Current snapshot's ancestry, oldest first — truncated at the
        oldest RETAINED snapshot when older ones were expired
        (lake/expire.py)."""
        out = []
        snap = self.snapshot()
        while True:
            out.append(snap)
            if snap.parent_id is None:
                break
            try:
                snap = self.snapshot(snap.parent_id)
            except FileNotFoundError:
                break  # parent expired: history stops here
        return list(reversed(out))

    # ----- schema ------------------------------------------------------------

    def spark_schema(self, snap: Snapshot | None = None) -> StructType:
        snap = snap or self.snapshot()
        ddl = ", ".join(f"`{c['name']}` {c['type']}" for c in snap.current_schema())
        return StructType.fromDDL(ddl)

    # lossless type promotions (Iceberg's widening set): the read path casts
    # written -> current, so anything here must be value-preserving
    _WIDEN_FROM = {
        "long": {"tinyint", "smallint", "int", "integer"},
        "bigint": {"tinyint", "smallint", "int", "integer"},
        "double": {"float"},
    }

    def evolve_schema(
        self,
        add_columns: list[tuple[str, str]] | None = None,
        rename_columns: dict[str, str] | None = None,
        drop_columns: list[str] | None = None,
        widen_columns: dict[str, str] | None = None,
        commit_id: str | None = None,
    ) -> Snapshot:
        """ADD / RENAME / DROP COLUMN and type WIDENING as a metadata-only
        commit (column-id name mapping keeps every existing data file
        readable).

        DROP removes the column from the current schema only — data files
        keep their bytes, reads just stop projecting them, and a later ADD
        of the same name gets a NEW column id, so dropped data can never
        resurrect (Iceberg drop/re-add semantics). WIDEN accepts only
        lossless promotions (int-family -> long, float -> double); reads
        cast each file from its written type, and bloom probes keep hashing
        with the written type (xxhash64 is width-sensitive). Key columns
        are immutable in name AND type (bucket layout, MOR delete-file
        schemas)."""
        snap = self.snapshot()
        cols = [dict(c) for c in snap.current_schema()]
        changed = False
        names = {c["name"] for c in cols}
        for old, new in (rename_columns or {}).items():
            if old in snap.key_columns:
                # key_columns and MOR equality-delete files reference key
                # NAMES; renaming one would desync both. Payload renames only.
                raise ValueError(
                    f"Cannot rename key column {old}: key columns are "
                    "immutable (bucket layout and delete files key on them)"
                )
            hit = [c for c in cols if c["name"] == old]
            if not hit:
                if new in names:
                    continue  # already renamed (idempotent replay)
                raise ValueError(f"Cannot rename unknown column {old}")
            hit[0]["name"] = new
            changed = True
        for name in drop_columns or []:
            if name in snap.key_columns:
                raise ValueError(
                    f"Cannot drop key column {name}: key columns are "
                    "immutable (bucket layout and delete files key on them)"
                )
            hit = [c for c in cols if c["name"] == name]
            if not hit:
                if any(
                    c["name"] == name
                    for v in snap.schemas.values()
                    for c in v
                ):
                    continue  # already dropped (idempotent replay)
                raise ValueError(f"Cannot drop unknown column {name}")
            cols.remove(hit[0])
            changed = True
        for name, new_ty in (widen_columns or {}).items():
            if name in snap.key_columns:
                raise ValueError(
                    f"Cannot widen key column {name}: key columns are "
                    "immutable (MOR delete files carry their written type)"
                )
            hit = [c for c in cols if c["name"] == name]
            if not hit:
                raise ValueError(f"Cannot widen unknown column {name}")
            old_ty, new_norm = hit[0]["type"].lower(), new_ty.lower()
            if old_ty == new_norm:
                continue  # already widened (idempotent replay)
            if old_ty not in self._WIDEN_FROM.get(new_norm, set()):
                raise ValueError(
                    f"Cannot widen {name} from {hit[0]['type']} to {new_ty}: "
                    "lossless promotions only (int-family -> long/bigint, "
                    "float -> double)"
                )
            hit[0]["type"] = new_ty
            changed = True
        existing = {c["name"] for c in cols}
        # new ids must clear EVERY id ever used, not just the live set — a
        # drop of the highest-id column followed by an add would otherwise
        # reuse that id and resurrect the dropped column's data
        all_ids = [c["id"] for v in snap.schemas.values() for c in v] + [
            c["id"] for c in cols
        ]
        next_id = max(all_ids) + 1 if all_ids else 1
        for name, ty in add_columns or []:
            if name in existing:
                continue
            cols.append({"id": next_id, "name": name, "type": ty})
            next_id += 1
            changed = True
        if not changed:
            return snap  # no-op: nothing to commit (idempotent replay)
        new_version = max(int(v) for v in snap.schemas) + 1
        schemas = dict(snap.schemas)
        schemas[str(new_version)] = cols
        cid = commit_id or f"schema-{new_version}"
        new_snap = Snapshot(
            snapshot_id=self._next_slot_id(snap.snapshot_id + 1),
            parent_id=snap.snapshot_id,
            commit_id=cid,
            schema_version=new_version,
            schemas=schemas,
            key_columns=snap.key_columns,
            n_buckets=snap.n_buckets,
            files=snap.files,
            n_commits=snap.n_commits + 1,
            summary=snap.summary,
            timestamp_ms=int(time.time() * 1000),
            properties=snap.properties,
        )
        # metadata-only commit: every bucket's manifest is reused verbatim
        self._write_snapshot(
            new_snap,
            self._pointers_of(snap, new_snap.snapshot_id, uuid.uuid4().hex[:8]),
        )
        return new_snap

    def set_properties(self, updates: dict) -> Snapshot:
        """Set/override table properties as a metadata-only commit (Iceberg
        ``ALTER TABLE ... SET TBLPROPERTIES``) — e.g. turning the change
        feed on for an existing table (``cdf.enabled=true``; capture starts
        with the NEXT data commit, earlier ranges keep falling back to the
        snapshot diff). A value of None removes the key. No-op (idempotent
        replay) when nothing changes."""
        snap = self.snapshot()
        props = dict(snap.properties)
        for k, v in updates.items():
            if v is None:
                props.pop(k, None)
            else:
                props[k] = v
        if props == snap.properties:
            return snap
        new_snap = Snapshot(
            snapshot_id=self._next_slot_id(snap.snapshot_id + 1),
            parent_id=snap.snapshot_id,
            commit_id=f"props-{snap.snapshot_id + 1}",
            schema_version=snap.schema_version,
            schemas=snap.schemas,
            key_columns=snap.key_columns,
            n_buckets=snap.n_buckets,
            files=snap.files,
            n_commits=snap.n_commits + 1,
            summary=snap.summary,
            timestamp_ms=int(time.time() * 1000),
            properties=props,
        )
        # metadata-only commit: every bucket's manifest is reused verbatim
        self._write_snapshot(
            new_snap,
            self._pointers_of(snap, new_snap.snapshot_id, uuid.uuid4().hex[:8]),
        )
        return new_snap

    # ----- reads -------------------------------------------------------------

    def read(
        self,
        snapshot_id: int | None = None,
        buckets: list[int] | None = None,
        with_bucket_col: bool = False,
        where: "list[tuple] | str | None" = None,
        prune_report: dict | None = None,
        with_pos_cols: bool = False,
    ) -> DataFrame:
        """Current (or time-travel) table state as a DataFrame.

        Files are grouped by the schema version they were written under and
        column-id-mapped to the current names; missing (later-added) columns
        are filled with nulls. Bucket pruning: pass ``buckets`` to read only
        those directories (the MERGE fast path).

        ``where`` — simple predicate conjunction (``"seq>=900,repo=alpha"``
        or ``[("seq", ">=", 900)]``): files whose manifest min/max ranges
        cannot satisfy it are skipped at PLAN time (never listed, opened or
        footer-read by Spark), then the same predicates run as a real
        filter over the survivors — identical results to a full filtered
        scan, minus the dead I/O. Pass a dict as ``prune_report`` to
        receive {"files_total", "files_kept"}."""
        from table2qb_spark.lake.skipping import (
            parse_predicates,
            predicates_to_column,
            rename_predicates,
            stats_admit,
        )

        preds = parse_predicates(where) if isinstance(where, str) else (
            list(where) if where else None
        )
        snap = self.snapshot(snapshot_id)
        current = snap.current_schema()

        # bloom probing (lake/bloom.py): only when an equality predicate
        # exists — the prober lazily pays one single-row Spark job per
        # distinct (type, value, m, k) and caches it across all entries
        prober = None
        if preds and any(op == "=" for _, op, _ in preds):
            from table2qb_spark.lake.bloom import BloomProber

            prober = BloomProber(self.spark)

        # current-name -> written-name map per schema version (renames)
        c2w_cache: dict[str, dict[str, str]] = {}

        def c2w(version: str) -> dict[str, str]:
            if version not in c2w_cache:
                w_by_id = {c["id"]: c for c in snap.schemas[version]}
                c2w_cache[version] = {
                    c["name"]: w_by_id[c["id"]]["name"]
                    for c in current
                    if c["id"] in w_by_id
                }
            return c2w_cache[version]

        n_total = n_kept = 0
        wanted = set(buckets) if buckets is not None else None
        by_version: dict[str, list[str]] = {}
        delete_paths: list[str] = []
        pos_delete_paths: list[str] = []
        for b in snap.files:  # key iteration is free (pointer map)
            if wanted is not None and int(b) not in wanted:
                continue
            # only wanted buckets' manifests are actually opened
            for e in snap.files[b]:
                version = str(e["schema_version"])
                n_total += 1
                preds_w = rename_predicates(preds, c2w(version)) if preds else None
                if preds and not stats_admit(e.get("stats"), preds_w):
                    continue
                if prober is not None and not prober.admits(
                    e.get("bloom"),
                    preds_w,
                    {c["name"]: c["type"] for c in snap.schemas[version]},
                ):
                    continue
                n_kept += 1
                by_version.setdefault(version, []).append(e["path"])
            # equality-delete files (merge-on-read) mask rows regardless of
            # the caller's predicates — bucket-pruned only, NEVER stat-pruned
            for e in snap.delete_files(b):
                delete_paths.append(e["path"])
            # position-delete files (predicate DELETE, lake/dml.py): same
            # contract — always applied, never pruned
            for e in snap.pos_delete_files(b):
                pos_delete_paths.append(e["path"])
        if prune_report is not None:
            prune_report.update(files_total=n_total, files_kept=n_kept)

        parts: list[DataFrame] = []
        for version, rel_paths in by_version.items():
            written = snap.schemas[version]
            w_by_id = {c["id"]: c for c in written}
            abs_paths = [os.path.join(self.path, p) for p in rel_paths]
            df = self.spark.read.schema(
                StructType.fromDDL(
                    ", ".join(f"`{c['name']}` {c['type']}" for c in written)
                )
            ).parquet(*abs_paths)
            sel = []
            for c in current:
                if c["id"] in w_by_id:
                    w = w_by_id[c["id"]]
                    col = F.col(f"`{w['name']}`")
                    if w["type"] != c["type"]:
                        # type widening (int->long, float->double): the file
                        # is read under its WRITTEN type (parquet readers
                        # reject a declared-wider schema), then cast — a
                        # lossless promotion by evolve_schema's own gate
                        col = col.cast(c["type"])
                    sel.append(col.alias(c["name"]))
                else:
                    sel.append(F.lit(None).cast(c["type"]).alias(c["name"]))
            if with_bucket_col:
                sel.append(
                    key_bucket_expr(snap.key_columns, snap.n_buckets).alias("__bucket")
                )
            if with_pos_cols or pos_delete_paths:
                # physical identity of each row: the file's table-relative
                # path + the row's ordinal within it (Spark's parquet
                # _metadata columns — no shuffle, no window). Relative paths
                # keep position-delete files valid if the table relocates.
                root_abs = os.path.abspath(self.path)
                sel.append(
                    F.expr(
                        "substring(regexp_replace(_metadata.file_path, "
                        f"'^file:/+', '/'), {len(root_abs) + 2})"
                    ).alias("__file")
                )
                sel.append(F.col("_metadata.row_index").alias("__pos"))
            parts.append(df.select(*sel))

        if not parts:
            from pyspark.sql.types import IntegerType, LongType, StringType

            schema = self.spark_schema(snap)
            if with_bucket_col:
                schema = schema.add("__bucket", IntegerType())
            if with_pos_cols:
                schema = schema.add("__file", StringType()).add(
                    "__pos", LongType()
                )
            out = self.spark.createDataFrame([], schema)
        else:
            out = parts[0]
            for p in parts[1:]:
                out = out.unionByName(p)
        if pos_delete_paths:
            # position-delete mask: one anti-join on (file, ordinal). The
            # delete side is bounded by rows predicate-deleted since the
            # last compaction — small, so AQE broadcasts it.
            pdel = self.spark.read.schema("_file string, _pos long").parquet(
                *[os.path.join(self.path, p) for p in pos_delete_paths]
            )
            out = out.join(
                pdel,
                (F.col("__file") == F.col("_file"))
                & (F.col("__pos") == F.col("_pos")),
                "left_anti",
            )
        if pos_delete_paths and not with_pos_cols:
            out = out.drop("__file", "__pos")
        if delete_paths:
            # merge-on-read mask: a row is dead iff some equality-delete
            # entry for its key carries a higher _below_seq (the MOR writer
            # stamps each update's seq; the new winner has _seq == its own
            # _below_seq, so >= keeps it). One aggregate over the delete set
            # (bounded by updates since the last compaction, not table size)
            # + one null-safe equi-join on the keys; AQE broadcasts the
            # delete side in the common small case.
            types = {c["name"]: c["type"] for c in current}
            del_schema = StructType.fromDDL(
                ", ".join(
                    [f"`{k}` {types[k]}" for k in snap.key_columns]
                    + ["`_below_seq` long"]
                )
            )
            dd = self.spark.read.schema(del_schema).parquet(
                *[os.path.join(self.path, p) for p in delete_paths]
            )
            dagg = dd.groupBy(*snap.key_columns).agg(
                F.max("_below_seq").alias("__below_seq")
            )
            cols_before = out.columns
            out = (
                key_left_join(out, dagg, snap.key_columns)
                .where(
                    F.col("__below_seq").isNull()
                    | (F.col("_seq") >= F.col("__below_seq"))
                )
                .select(*cols_before)
            )
        if preds:
            # the stats only pruned files; the real filter enforces the
            # predicate row-by-row over the survivors
            out = out.where(predicates_to_column(preds))
        return out

    def lookup(
        self,
        key_values: dict,
        snapshot_id: int | None = None,
        prune_report: dict | None = None,
    ) -> DataFrame:
        """Point read by FULL primary key: O(1 bucket) instead of O(table).

        The bucket transform that routed every write
        (``key_bucket_expr`` — part of the on-disk layout) routes the read
        too: the key's bucket is computed by Spark itself (one single-row
        job, so Python can never disagree with the layout hash), only that
        bucket's manifest is opened, and within it manifest min/max stats
        plus blooms (when ``bloom.columns`` includes the keys) prune to the
        file(s) that can actually hold the key. At 100 TB this turns a key
        probe from a full scan into one manifest read + typically one file.

        All key columns must be present; extra columns become additional
        equality predicates (stat/bloom-pruned, then filtered)."""
        snap = self.snapshot(snapshot_id)
        missing = [k for k in snap.key_columns if k not in key_values]
        if missing:
            raise ValueError(
                f"lookup requires every key column; missing {missing} "
                f"(keys: {snap.key_columns})"
            )
        types = {c["name"]: c["type"] for c in snap.current_schema()}
        unknown = [k for k in key_values if k not in types]
        if unknown:
            raise ValueError(f"lookup on unknown column(s) {unknown}")
        # the bucket function casts keys to string; feed it strings so the
        # one-row probe row needs no per-type schema
        probe = self.spark.createDataFrame(
            [tuple(str(key_values[k]) for k in snap.key_columns)],
            StructType.fromDDL(
                ", ".join(f"`{k}` string" for k in snap.key_columns)
            ),
        )
        b = probe.select(
            key_bucket_expr(snap.key_columns, snap.n_buckets).alias("b")
        ).collect()[0]["b"]
        preds = [(k, "=", v) for k, v in key_values.items()]
        return self.read(
            snapshot_id=snapshot_id,
            buckets=[int(b)],
            where=preds,
            prune_report=prune_report,
        )

    # ----- commits -----------------------------------------------------------

    def has_commit(self, commit_id: str) -> bool:
        """O(1): marker file, else the current header's own commit_id (the one
        marker a crash between VERSION-swap and marker-write can lose). Tables
        written in the legacy pre-marker format (inline ``applied_commits``
        header lists) get their markers backfilled on first consult so
        redelivered historic commit_ids stay exactly-once across the format
        upgrade."""
        if os.path.exists(self._marker_path(commit_id)):
            return True
        d = self._read_header(self.current_snapshot_id())
        if d["commit_id"] == commit_id:
            self._write_marker(commit_id)  # heal the crash window
            return True
        legacy = d.get("applied_commits")
        if legacy:
            for cid in legacy:
                self._write_marker(cid)
            return commit_id in set(legacy)
        return False

    def commit_files(
        self,
        commit_id: str,
        replaced_buckets: list[int],
        new_files: dict[int, list[dict]],
        summary_update: dict | None = None,
        base_snapshot_id: int | None = None,
        n_buckets: int | None = None,
        publish: bool = True,
        branch: str | None = None,
    ) -> Snapshot:
        """Commit a copy-on-write result: buckets in ``replaced_buckets`` get
        exactly ``new_files``; every other bucket keeps its current files.

        ``branch``: commit onto that branch's head instead of main — the
        snapshot is staged (main readers never see it), owned by the branch,
        and the branch ref CAS-advances to it; publish the chain with
        ``fast_forward``. Exactly-once on a branch is the chain's own
        commit_id list until fast-forward writes the global markers.

        ``n_buckets`` re-declares the table's bucket count for this and all
        FUTURE snapshots (bucket evolution — the caller must have rewritten
        EVERY bucket under the new layout); historical snapshots keep their
        own count in their headers, so time travel still routes reads
        through the layout that wrote them.

        ``base_snapshot_id``: the snapshot the caller computed its result
        from. If another commit landed since, raises ConcurrentCommitError
        instead of clobbering it (the caller must re-read and re-merge).
        Raises if commit_id was already applied (caller should check
        ``has_commit`` first for the cheap skip)."""
        if branch is not None:
            snap = self.snapshot(self.branch_head(branch))
            publish = False
        else:
            snap = self.snapshot()
            self._write_marker(snap.commit_id)  # heal any crashed predecessor
        if base_snapshot_id is not None and snap.snapshot_id != base_snapshot_id:
            raise ConcurrentCommitError(
                f"Base snapshot {base_snapshot_id} is stale: current is {snap.snapshot_id}"
            )
        if self.has_commit(commit_id) or (
            branch is not None and self._branch_has_commit(branch, commit_id)
        ):
            raise RuntimeError(f"Commit {commit_id} already applied")
        # O(touched buckets) metadata I/O: untouched buckets' manifest
        # pointers carry forward verbatim; only new_files' buckets get a
        # fresh per-bucket manifest. Row count comes from the pointer rows
        # (no file-list reads for untouched buckets).
        next_id = self._next_slot_id(snap.snapshot_id + 1)
        token = uuid.uuid4().hex[:8]
        pointers = self._pointers_of(snap, next_id, token)
        for b in replaced_buckets:
            pointers.pop(str(b), None)
        pointers.update(self._write_bucket_manifests(next_id, new_files, token))
        summary = dict(snap.summary)
        summary.update(summary_update or {})
        summary["row_count"] = sum(p["rows"] for p in pointers.values())
        new_snap = Snapshot(
            snapshot_id=next_id,
            parent_id=snap.snapshot_id,
            commit_id=commit_id,
            schema_version=snap.schema_version,
            schemas=snap.schemas,
            key_columns=snap.key_columns,
            n_buckets=n_buckets if n_buckets is not None else snap.n_buckets,
            files=_BucketFiles(self.path, pointers),
            n_commits=snap.n_commits + 1,
            summary=summary,
            timestamp_ms=int(time.time() * 1000),
            staged=not publish,
            branch=branch,
            properties=snap.properties,
        )
        new_snap.manifest_pointers = pointers
        self._write_snapshot(new_snap, pointers, publish=publish)
        if branch is not None:
            self._advance_branch(branch, snap.snapshot_id, next_id)
        return new_snap

    def _branch_has_commit(self, branch: str, commit_id: str) -> bool:
        """Branch-scoped exactly-once: chain headers' commit_ids (chains are
        audit-window short, so the walk is O(chain), not O(history))."""
        return any(
            self._read_header(sid).get("commit_id") == commit_id
            for sid in self.branch_chain(branch)
        )

    def commit_appends(
        self,
        commit_id: str,
        buckets: list[int],
        appended_files: dict[int, list[dict]],
        appended_deletes: dict[int, list[dict]],
        summary_update: dict | None = None,
        base_snapshot_id: int | None = None,
        publish: bool = True,
        appended_pos_deletes: dict[int, list[dict]] | None = None,
        branch: str | None = None,
    ) -> Snapshot:
        """Commit a MERGE-ON-READ result: touched buckets KEEP their current
        data files and gain ``appended_files`` (the batch winners) plus
        ``appended_deletes`` (equality-delete entries masking the superseded
        copies at read time). No data is rewritten — write amplification is
        O(batch), not O(touched-bucket bytes); reads pay the mask join until
        ``compact()`` folds the deletes away (Iceberg v2 equality-delete
        semantics re-expressed). Same idempotency/concurrency contract as
        ``commit_files``, including the ``branch`` surface."""
        if branch is not None:
            snap = self.snapshot(self.branch_head(branch))
            publish = False
        else:
            snap = self.snapshot()
            self._write_marker(snap.commit_id)  # heal any crashed predecessor
        if base_snapshot_id is not None and snap.snapshot_id != base_snapshot_id:
            raise ConcurrentCommitError(
                f"Base snapshot {base_snapshot_id} is stale: current is {snap.snapshot_id}"
            )
        if self.has_commit(commit_id) or (
            branch is not None and self._branch_has_commit(branch, commit_id)
        ):
            raise RuntimeError(f"Commit {commit_id} already applied")
        next_id = self._next_slot_id(snap.snapshot_id + 1)
        token = uuid.uuid4().hex[:8]
        pointers = self._pointers_of(snap, next_id, token)
        merged_files: dict = {}
        merged_deletes: dict = {}
        merged_pos: dict = {}
        for b in buckets:
            existing = list(snap.files[str(b)]) if str(b) in snap.files else []
            merged_files[b] = existing + list(appended_files.get(b, []))
            merged_deletes[b] = snap.delete_files(b) + list(
                appended_deletes.get(b, [])
            )
            merged_pos[b] = snap.pos_delete_files(b) + list(
                (appended_pos_deletes or {}).get(b, [])
            )
            pointers.pop(str(b), None)
        pointers.update(
            self._write_bucket_manifests(
                next_id, merged_files, token, merged_deletes, merged_pos
            )
        )
        summary = dict(snap.summary)
        summary.update(summary_update or {})
        summary["row_count"] = sum(p["rows"] for p in pointers.values())
        new_snap = Snapshot(
            snapshot_id=next_id,
            parent_id=snap.snapshot_id,
            commit_id=commit_id,
            schema_version=snap.schema_version,
            schemas=snap.schemas,
            key_columns=snap.key_columns,
            n_buckets=snap.n_buckets,
            files=_BucketFiles(self.path, pointers),
            n_commits=snap.n_commits + 1,
            summary=summary,
            timestamp_ms=int(time.time() * 1000),
            staged=not publish,
            branch=branch,
            properties=snap.properties,
        )
        new_snap.manifest_pointers = pointers
        self._write_snapshot(new_snap, pointers, publish=publish)
        if branch is not None:
            self._advance_branch(branch, snap.snapshot_id, next_id)
        return new_snap

    def rollback(
        self, to_snapshot_id: int, reset_commit_markers: bool = True
    ) -> Snapshot:
        """Metadata-only rollback (Iceberg ``rollback_to_snapshot``
        re-expressed): publish a NEW snapshot whose manifests, schema and
        summary are the target's, verbatim. No data moves — the target's
        per-bucket manifest files are immutable and still on disk, so the
        new snapshot just points at them (O(1) data I/O regardless of table
        size). History stays linear: the undone snapshots remain in the
        ancestry (``parent_id`` = the undone head), so time travel to them
        keeps working until ``cdc-expire`` reclaims them.

        The rolled-back state includes the SCHEMA as of the target (the
        target's files were written under schema versions <= the target's,
        so reverting both together is the only self-consistent choice; an
        evolution applied after the target is undone with it).

        ``reset_commit_markers`` (default True): commits applied after the
        target are un-marked, so re-running ``cdc-replay``/``cdc-stream``
        over the same change log RE-APPLIES the undone batches instead of
        exactly-once-skipping into the rolled-back state — the reason a CDC
        operator rolls back at all (a bad batch: roll back, fix the log,
        replay). The markers are removed only AFTER the rollback snapshot
        is durably current, so a crash mid-rollback never leaves an
        applied-but-unmarked commit.

        Raises ``ValueError`` if the target is unknown, expired, or not
        strictly older than the current snapshot."""
        cur = self.snapshot()
        if to_snapshot_id >= cur.snapshot_id:
            raise ValueError(
                f"rollback target {to_snapshot_id} is not older than the "
                f"current snapshot {cur.snapshot_id}"
            )
        try:
            target = self.snapshot(to_snapshot_id)
        except FileNotFoundError:
            raise ValueError(
                f"snapshot {to_snapshot_id} is unknown or expired: rollback "
                "needs a retained snapshot (see cdc-expire --keep-last)"
            ) from None
        self._write_marker(cur.commit_id)  # heal any crashed predecessor
        next_id = self._next_slot_id(cur.snapshot_id + 1)
        token = uuid.uuid4().hex[:8]
        # Reuse the target's manifest pointers verbatim (manifest reuse —
        # the same trick every commit plays for untouched buckets); a
        # legacy-format target gets its per-bucket manifests written once.
        pointers = self._pointers_of(target, next_id, token)
        summary = dict(target.summary)
        summary["rollback_of"] = cur.snapshot_id
        summary["rollback_to"] = to_snapshot_id
        summary["row_count"] = sum(p["rows"] for p in pointers.values())
        new_snap = Snapshot(
            snapshot_id=next_id,
            parent_id=cur.snapshot_id,
            commit_id=f"rollback-{to_snapshot_id}-{token}",
            schema_version=target.schema_version,
            schemas=target.schemas,
            key_columns=target.key_columns,
            n_buckets=target.n_buckets,
            files=_BucketFiles(self.path, pointers),
            n_commits=cur.n_commits + 1,
            summary=summary,
            timestamp_ms=int(time.time() * 1000),
            properties=target.properties,
        )
        new_snap.manifest_pointers = pointers
        self._write_snapshot(new_snap, pointers)
        if reset_commit_markers:
            # Un-mark the undone commits (walk the retained headers from the
            # undone head back down to the target, exclusive). Runs after
            # the VERSION swap: if we crash partway, the table state is
            # already the rollback and a re-run of the same rollback (or a
            # manual marker sweep) finishes the job; the failure mode is
            # "some undone batches still skip on replay", never a lost or
            # double-applied commit.
            sid = cur.snapshot_id
            while sid is not None and sid > to_snapshot_id:
                try:
                    d = self._read_header(sid)
                except FileNotFoundError:
                    break  # expired below here: nothing older is marked-undone
                marker = self._marker_path(d["commit_id"])
                if os.path.exists(marker):
                    os.unlink(marker)
                sid = d.get("parent_id")
        return new_snap

    def write_data_files(
        self,
        df: DataFrame,
        snapshot_hint: str,
        repartition: bool = True,
        sort_by: list[str] | None = None,
        max_records_per_file: int | None = None,
        n_partitions: int | None = None,
    ) -> dict[int, list[dict]]:
        """Write a DataFrame that carries a ``__bucket`` column into new
        immutable parquet files under data/, partitioned by bucket. Returns
        {bucket: [file entries]} for ``commit_files``. With ``repartition``
        the rows are shuffled so each bucket writes one file; pass False when
        the input partitions already align 1:1 with buckets (bucketed
        shuffle-free apply) — each task then writes its own directory.

        ``sort_by`` clusters rows WITHIN each bucket (sortWithinPartitions —
        a per-task sort, no extra shuffle: the bucket exchange above already
        co-located the rows). Combined with ``max_records_per_file`` (maps to
        Spark's maxRecordsPerFile, which splits a task's output sequentially,
        preserving the sort) each bucket lands as several files with DISJOINT
        ``sort_by`` ranges — exactly what makes the manifest min/max stats
        (lake/skipping.py) prune at file granularity instead of bucket
        granularity. This is Iceberg's sorted-compaction + data-skipping
        story re-expressed over this format."""
        snap = self.snapshot()
        # attempt-unique directory: two writers racing toward the same
        # snapshot id never overwrite each other's parquet files — only the
        # exclusive header decides whose files get referenced
        out_dir = os.path.join(
            self.path, DATA_DIR, f"snap-{snapshot_hint}-{uuid.uuid4().hex[:8]}"
        )
        out = df
        if repartition:
            # n_partitions: the writer's target bucket count when it differs
            # from the snapshot's (bucket evolution — lake/rebucket.py)
            n = n_partitions if n_partitions is not None else snap.n_buckets
            out = df.repartition(max(1, min(n, 256)), F.col("__bucket"))
        if sort_by:
            # __bucket leads the sort keys: with n_buckets > partition count
            # several buckets share a task, and the partitionBy("b") writer
            # below must still see each bucket's rows contiguous and sorted
            out = out.sortWithinPartitions("__bucket", *sort_by)
            # "__"-prefixed sort keys are ephemeral clustering computations
            # (e.g. compaction's z-order key) — they order the rows but must
            # not land in the files; a projection preserves per-partition
            # order, so the sort survives the drop
            ephemeral = [c for c in sort_by if c.startswith("__")]
            if ephemeral:
                out = out.drop(*ephemeral)
        writer = out.withColumnRenamed("__bucket", "b").write.mode("overwrite")
        if max_records_per_file:
            writer = writer.option("maxRecordsPerFile", int(max_records_per_file))
        writer.partitionBy("b").parquet(out_dir)
        # enumerate written files; row counts AND per-column min/max come
        # from parquet footers (driver-side metadata read — no data scan,
        # no extra Spark job). The stats land in the manifest so reads can
        # prune whole files without listing/opening them (lake/skipping.py)
        # — the Iceberg/Delta data-skipping layer.
        import pyarrow.parquet as pq

        from table2qb_spark.lake.skipping import file_column_stats

        stats_cols = {c["name"] for c in snap.current_schema()}
        result: dict[int, list[dict]] = {}
        for b_dir in os.listdir(out_dir):
            if not b_dir.startswith("b="):
                continue
            b = int(b_dir.split("=", 1)[1])
            entries = []
            for fn in sorted(os.listdir(os.path.join(out_dir, b_dir))):
                if fn.endswith(".parquet"):
                    full = os.path.join(out_dir, b_dir, fn)
                    md = pq.ParquetFile(full).metadata
                    entry = {
                        "path": os.path.relpath(full, self.path),
                        "schema_version": snap.schema_version,
                        "rows": md.num_rows,
                    }
                    stats = file_column_stats(md, stats_cols)
                    if stats:
                        entry["stats"] = stats
                    entries.append(entry)
            result[b] = entries
        # file-skipping blooms (lake/bloom.py), when the table property
        # bloom.columns asks for them: ONE distributed column-pruned pass
        # over the just-written batch (O(batch), never O(table)); the driver
        # receives only folded bit-words, never values.
        from table2qb_spark.lake.bloom import bloom_config, build_file_blooms

        cfg = bloom_config(snap.properties, snap.current_schema())
        if cfg:
            cols, m, k = cfg
            # keyed by "b=<n>/<basename>" — basenames alone collide across
            # bucket dirs (one partitionBy task reuses its part-file name)
            by_name = {
                "/".join(e["path"].split("/")[-2:]): e
                for es in result.values()
                for e in es
            }
            blooms = build_file_blooms(
                self.spark,
                [os.path.join(self.path, e["path"]) for e in by_name.values()],
                cols,
                m,
                k,
            )
            for fname, per_col in blooms.items():
                if fname in by_name:
                    by_name[fname]["bloom"] = {"m": m, "k": k, "cols": per_col}
        return result

    def write_delete_files(
        self, df: DataFrame, snapshot_hint: str
    ) -> dict[int, list[dict]]:
        """Write EQUALITY-DELETE files (merge-on-read): ``df`` carries the
        table's key columns, ``_below_seq`` (versions of the key with
        ``_seq < _below_seq`` are dead) and ``__bucket``. Same
        attempt-unique/immutable layout as data files; entries carry only
        path + rows (delete files are never stat-pruned — a mask must apply
        regardless of the reader's predicates)."""
        import pyarrow.parquet as pq

        out_dir = os.path.join(
            self.path, DATA_DIR, f"snap-{snapshot_hint}-del-{uuid.uuid4().hex[:8]}"
        )
        snap = self.snapshot()
        keyed = df.select(*snap.key_columns, "_below_seq", "__bucket")
        keyed = keyed.repartition(
            max(1, min(snap.n_buckets, 256)), F.col("__bucket")
        )
        keyed.withColumnRenamed("__bucket", "b").write.mode("overwrite").partitionBy(
            "b"
        ).parquet(out_dir)
        result: dict[int, list[dict]] = {}
        for b_dir in os.listdir(out_dir):
            if not b_dir.startswith("b="):
                continue
            b = int(b_dir.split("=", 1)[1])
            entries = []
            for fn in sorted(os.listdir(os.path.join(out_dir, b_dir))):
                if fn.endswith(".parquet"):
                    full = os.path.join(out_dir, b_dir, fn)
                    md = pq.ParquetFile(full).metadata
                    if md.num_rows == 0:
                        continue
                    entries.append(
                        {
                            "path": os.path.relpath(full, self.path),
                            "rows": md.num_rows,
                        }
                    )
            if entries:
                result[b] = entries
        return result

    def write_pos_delete_files(
        self, df: DataFrame, snapshot_hint: str
    ) -> dict[int, list[dict]]:
        """Write POSITION-delete files (Iceberg v2 position deletes,
        re-expressed): ``df`` carries ``_file`` (table-relative data-file
        path), ``_pos`` (row ordinal within that file) and ``__bucket``.
        Each (file, pos) pair masks exactly one physical row at read time
        (lake/dml.py predicate DELETE). Same attempt-unique/immutable layout
        as data files; entries carry only path + rows (masks are never
        pruned)."""
        import pyarrow.parquet as pq

        out_dir = os.path.join(
            self.path, DATA_DIR, f"snap-{snapshot_hint}-posdel-{uuid.uuid4().hex[:8]}"
        )
        snap = self.snapshot()
        keyed = df.select("_file", "_pos", "__bucket")
        keyed = keyed.repartition(
            max(1, min(snap.n_buckets, 256)), F.col("__bucket")
        )
        keyed.withColumnRenamed("__bucket", "b").write.mode("overwrite").partitionBy(
            "b"
        ).parquet(out_dir)
        result: dict[int, list[dict]] = {}
        for b_dir in os.listdir(out_dir):
            if not b_dir.startswith("b="):
                continue
            b = int(b_dir.split("=", 1)[1])
            entries = []
            for fn in sorted(os.listdir(os.path.join(out_dir, b_dir))):
                if fn.endswith(".parquet"):
                    full = os.path.join(out_dir, b_dir, fn)
                    md = pq.ParquetFile(full).metadata
                    if md.num_rows == 0:
                        continue
                    entries.append(
                        {
                            "path": os.path.relpath(full, self.path),
                            "rows": md.num_rows,
                        }
                    )
            if entries:
                result[b] = entries
        return result

    def read_live(
        self,
        snapshot_id: int | None = None,
        where: "list[tuple] | str | None" = None,
        prune_report: dict | None = None,
    ) -> DataFrame:
        """Like read(), but with tombstoned rows filtered out and the
        bookkeeping columns (_seq, _deleted) dropped. ``where`` prunes
        files via manifest stats exactly as in read()."""
        df = self.read(snapshot_id, where=where, prune_report=prune_report)
        if "_deleted" in df.columns:
            df = df.where(~F.coalesce(F.col("_deleted"), F.lit(False)))
        return df.drop("_seq", "_deleted")

    # ----- maintenance ---------------------------------------------------------

    def row_count(self) -> int:
        return int(self.snapshot().summary.get("row_count", 0))
