"""JSON transaction log: versioned commits, OCC, idempotency, snapshots.

Semantics are those of the reference's metadata service + storage log:

- Log entry ``{version, timestamp_ms, txn_id, schema, adds[], removes[]}``
  stored one-file-per-version at ``_log/<%020d>.json``
  (reference: ``pkg/metadata/state.go:24-31``,
  ``pkg/storage/transaction_log.go:44-52``, ``pkg/storage/paths.go:32-35``).
- Optimistic concurrency: a commit carries ``base_version`` and is rejected
  unless it equals the current latest version
  (``pkg/metadata/state.go:124-195``). Here the CAS primitive is an atomic
  put-if-absent of the next version's log file (``O_CREAT|O_EXCL``) — on a
  local/posix filesystem this is exactly the conditional-put a
  cloud-object-store implementation would use.
- Txn-id idempotency: re-committing a txn_id already in the log returns the
  original version instead of erroring (``pkg/metadata/state.go:144-158``).
- Snapshot at version V = replay entries 1..V applying adds then removes to
  a path-keyed map; file list sorted by path for determinism; latest schema
  wins (``pkg/storage/transaction_log.go:156-218``,
  ``pkg/metadata/state.go:323-369``).
- Commit validation: removes must exist in the pre-image, adds must not
  (``pkg/metadata/state.go:198-243``).

The Raft replication of the reference is intentionally not rebuilt — this
log IS the durable metadata; a single atomic-rename-capable store gives the
same user-visible guarantees (linearizable commits, per-version
determinism).
"""

from __future__ import annotations

import json
import os
import threading
import time
from dataclasses import dataclass, field

from mini_lakehouse_control_plane_executor_spark.functions import filters as _filters
from mini_lakehouse_control_plane_executor_spark.table.schema import (
    Field,
    fields_from_json,
    fields_to_json,
)


class CommitConflictError(Exception):
    """Base-version CAS failed — another commit won this version."""

    def __init__(self, expected: int, actual: int):
        super().__init__(
            f"commit conflict: base_version {expected} != latest {actual}"
        )
        self.expected = expected
        self.actual = actual


class CommitRetriesExhausted(CommitConflictError):
    """An OCC write lost every allowed retry attempt. Subclasses
    CommitConflictError so callers catching conflicts also see exhaustion
    (reference surfaces the same error after max attempts,
    ``pkg/coordinator/transaction_manager.go:174-179``)."""

    def __init__(self, message: str):
        Exception.__init__(self, message)
        self.expected = None
        self.actual = None


class CommitValidationError(Exception):
    pass


@dataclass(frozen=True)
class FileAdd:
    """Reference ``FileInfo`` (``proto/metadata.proto:94-113``): path +
    row/byte counts + optional partition values and per-column min/max
    stats. Unlike the reference (stats stored but never consulted —
    ``pkg/coordinator/query_planner.go:249-255``), our snapshot reads use
    min/max for file-level pruning."""

    path: str
    rows: int = 0
    size: int = 0
    partition: dict[str, str] = field(default_factory=dict)
    min_values: dict[str, object] = field(default_factory=dict)
    max_values: dict[str, object] = field(default_factory=dict)
    # Deletion vector (merge-on-read DELETE, the public Delta/Iceberg
    # design): a parquet file of (src=data-file basename, pos=row index)
    # whose positions are invisible at read time. ``rows`` stays the
    # PHYSICAL row count; live rows = rows - dv_rows. min/max stats stay
    # sound for pruning (deleting rows can only narrow the true range,
    # so the stored range remains an over-approximation).
    dv_path: str | None = None
    dv_rows: int = 0

    def to_json(self) -> dict:
        d = {
            "path": self.path,
            "rows": self.rows,
            "size": self.size,
            "partition": self.partition,
            "stats": {"min_values": self.min_values, "max_values": self.max_values},
        }
        if self.dv_path is not None:
            d["dv"] = {"path": self.dv_path, "rows": self.dv_rows}
        return d

    @staticmethod
    def from_json(d: dict) -> "FileAdd":
        stats = d.get("stats") or {}
        dv = d.get("dv") or {}
        return FileAdd(
            path=d["path"],
            rows=d.get("rows", 0),
            size=d.get("size", 0),
            partition=d.get("partition") or {},
            min_values=stats.get("min_values") or {},
            max_values=stats.get("max_values") or {},
            dv_path=dv.get("path"),
            dv_rows=dv.get("rows", 0),
        )


@dataclass(frozen=True)
class LogEntry:
    version: int
    timestamp_ms: int
    txn_id: str
    schema: list[Field]
    adds: list[FileAdd] = field(default_factory=list)
    removes: list[str] = field(default_factory=list)
    # CHECK constraints are VERSIONED in the log (Delta semantics: table
    # features live in the commit history, so time travel and RESTORE see
    # the constraint set of that version). ``None`` = unchanged from the
    # previous entry; a dict (possibly empty) = the FULL set as of this
    # commit. Committing through the same OCC CAS as data writes also
    # serializes ADD CONSTRAINT against concurrent inserts.
    constraints: dict[str, str] | None = None

    def to_json(self) -> dict:
        d = {
            "version": self.version,
            "timestamp_ms": self.timestamp_ms,
            "txn_id": self.txn_id,
            "schema": fields_to_json(self.schema),
            "adds": [a.to_json() for a in self.adds],
            "removes": list(self.removes),
        }
        if self.constraints is not None:
            d["constraints"] = dict(self.constraints)
        return d

    @staticmethod
    def from_json(d: dict) -> "LogEntry":
        return LogEntry(
            version=d["version"],
            timestamp_ms=d.get("timestamp_ms", 0),
            txn_id=d.get("txn_id", ""),
            schema=fields_from_json(d.get("schema") or []),
            adds=[FileAdd.from_json(a) for a in d.get("adds") or []],
            removes=list(d.get("removes") or []),
            constraints=(
                dict(d["constraints"]) if "constraints" in d else None
            ),
        )


@dataclass(frozen=True)
class Snapshot:
    version: int
    schema: list[Field]
    files: list[FileAdd]  # sorted by path
    constraints: dict[str, str] = field(default_factory=dict)

    @property
    def file_paths(self) -> list[str]:
        return [f.path for f in self.files]

    def scan(self, *filters: str | None) -> list[FileAdd]:
        """The files (with their dv pointers) a read of this snapshot
        opens: every snapshot read picks them here. Each non-empty filter
        prunes by min/max stats on its own, so one the grammar cannot
        parse keeps every file without stopping the others."""
        files = self.files
        for f in filters:
            if f:
                files = _filters.prune_files(files, f, self.schema)
        return files


# Write a checkpoint every N commits: snapshot()/find_txn() then read at
# most (1 checkpoint + N entries) instead of the whole history. Mirrors
# the reference's reserved ``checkpoint_%020d.json`` log-compaction slot
# (``pkg/storage/paths.go``); Delta Lake uses the same design.
CHECKPOINT_INTERVAL = 10


class TransactionLog:
    """One table's commit log rooted at ``<table_dir>/_log/``.

    Replay cost is bounded two ways (the O(V)-per-read / O(V²)-lifetime
    trap the reference avoids by holding state in its Raft FSM):

    - **in-memory cache**: one replayed state (files, schema, txn→version)
      advances monotonically; repeat reads replay only NEW entries;
    - **checkpoints**: ``_log/<v>.checkpoint.json`` holds the full replayed
      state at v, so a fresh instance (new process, new ``lake.table()``
      handle) cold-starts from the newest checkpoint, not version 1.
    """

    def __init__(self, table_dir: str):
        self.table_dir = table_dir
        # Made by the first commit: a missing table leaves nothing on disk.
        self.log_dir = os.path.join(table_dir, "_log")
        self._mu = threading.Lock()
        self._state_version = 0
        self._state_files: dict[str, FileAdd] = {}
        self._state_schema: list[Field] = []
        self._state_txns: dict[str, int] = {}
        self._state_constraints: dict[str, str] = {}
        # Lifetime OCC losses on this log handle (CAS mismatch + lost
        # link races) — surfaced as lakehouse_commit_conflicts_total.
        self.conflict_count = 0

    # -- paths ---------------------------------------------------------

    def _entry_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.json")

    def _checkpoint_path(self, version: int) -> str:
        return os.path.join(self.log_dir, f"{version:020d}.checkpoint.json")

    # -- reads ---------------------------------------------------------

    def _versions(self, suffix: str) -> list[int]:
        try:
            names = os.listdir(self.log_dir)
        except FileNotFoundError:  # no commit yet
            return []
        return sorted(
            int(n[: -len(suffix)])
            for n in names
            if n.endswith(suffix) and n[: -len(suffix)].isdecimal()
        )

    def list_versions(self) -> list[int]:
        return self._versions(".json")

    def list_checkpoints(self) -> list[int]:
        return self._versions(".checkpoint.json")

    def latest_version(self) -> int:
        versions = self.list_versions()
        return versions[-1] if versions else 0

    def read_entry(self, version: int) -> LogEntry:
        with open(self._entry_path(version)) as fh:
            return LogEntry.from_json(json.load(fh))

    def find_txn(self, txn_id: str) -> int | None:
        """Version previously committed under ``txn_id``, if any.
        O(new entries) via the cached txn→version map, not O(V)."""
        with self._mu:
            self._advance_locked(self.latest_version())
            return self._state_txns.get(txn_id)

    def snapshot(self, version: int | None = None) -> Snapshot:
        """Replay entries 1..version (adds then removes), deterministic
        path-sorted file list, latest-schema-wins. Reads at most
        (1 checkpoint + CHECKPOINT_INTERVAL entries + entries newer than
        the in-memory state), never the whole history."""
        latest = self.latest_version()
        if version is None or version == 0:
            version = latest
        if version > latest:
            raise ValueError(f"version {version} > latest {latest}")
        with self._mu:
            if version >= self._state_version:
                self._advance_locked(version)
                files, schema = self._state_files, self._state_schema
                ordered = [files[p] for p in sorted(files)]
                return Snapshot(
                    version=version,
                    schema=list(schema),
                    files=ordered,
                    constraints=dict(self._state_constraints),
                )
        # Time travel behind the cache: cold replay from the newest
        # checkpoint ≤ version (does not disturb the forward cache).
        files, schema, _, constraints = self._replay(version)
        ordered = [files[p] for p in sorted(files)]
        return Snapshot(
            version=version,
            schema=list(schema),
            files=ordered,
            constraints=constraints,
        )

    def version_at_timestamp(self, ts_ms: int) -> int:
        """Delta ``timestampAsOf`` resolution: the LAST version whose
        commit timestamp is <= ``ts_ms`` (Delta's latest-commit-at-or-
        before-timestamp rule). Raises when the timestamp predates the
        table (Delta errors the same way). Binary search over the
        version list — commit timestamps are monotone because ``commit``
        enforces ts = max(now, prev_ts + 1) at write time, so a clock
        step can never produce an out-of-order sequence."""
        versions = self.list_versions()
        if not versions:
            raise ValueError("table has no commits")
        lo, hi, best = 0, len(versions) - 1, None
        while lo <= hi:
            mid = (lo + hi) // 2
            if self.read_entry(versions[mid]).timestamp_ms <= ts_ms:
                best = versions[mid]
                lo = mid + 1
            else:
                hi = mid - 1
        if best is None:
            first = self.read_entry(versions[0]).timestamp_ms
            raise ValueError(
                f"timestamp {ts_ms} predates the table's first commit ({first})"
            )
        return best

    # -- replay machinery ----------------------------------------------

    @staticmethod
    def _apply(
        entry: LogEntry,
        files: dict[str, FileAdd],
        schema: list[Field],
        txns: dict[str, int],
        constraints: dict[str, str],
    ) -> list[Field]:
        if entry.schema:
            schema = entry.schema
        for add in entry.adds:
            files[add.path] = add
        for rm in entry.removes:
            files.pop(rm, None)
        if entry.txn_id:
            txns.setdefault(entry.txn_id, entry.version)
        if entry.constraints is not None:
            constraints.clear()
            constraints.update(entry.constraints)
        return schema

    def _advance_locked(self, target: int) -> None:
        """Advance the cached state to ``target`` (≥ current). Cold-starts
        from the newest checkpoint ≤ target when the cache is empty."""
        if target <= self._state_version:
            return
        state = self._state_files, self._state_schema, self._state_txns, self._state_constraints
        state = self._replay(target, self._state_version, state)
        self._state_files, self._state_schema, self._state_txns, self._state_constraints = state
        self._state_version = target

    def _replay(
        self, target: int, base: int = 0, state: tuple | None = None
    ) -> tuple[dict[str, FileAdd], list[Field], dict[str, int], dict[str, str]]:
        """The replayed (files, schema, txns, constraints) at ``target``:
        entries ``base+1..target`` applied in place to ``state``, the
        state at ``base``. From ``base`` 0 the replay starts at the
        newest checkpoint ≤ target instead, if there is one. Versions are
        contiguous (``commit`` links ``latest+1`` put-if-absent and no
        entry is ever deleted), so entries are read by number, with no
        listing of ``_log/``."""
        ckpts = [c for c in self.list_checkpoints() if c <= target] if not base else []
        if ckpts:
            base, state = ckpts[-1], self._load_checkpoint(ckpts[-1])
        files, schema, txns, constraints = state or ({}, [], {}, {})
        for v in range(base + 1, target + 1):
            schema = self._apply(self.read_entry(v), files, schema, txns, constraints)
        return files, schema, txns, constraints

    # -- checkpoints ----------------------------------------------------

    def _load_checkpoint(
        self, version: int
    ) -> tuple[dict[str, FileAdd], list[Field], dict[str, int], dict[str, str]]:
        with open(self._checkpoint_path(version)) as fh:
            d = json.load(fh)
        files = {a["path"]: FileAdd.from_json(a) for a in d.get("files") or []}
        schema = fields_from_json(d.get("schema") or [])
        txns = {k: int(v) for k, v in (d.get("txn_versions") or {}).items()}
        constraints = dict(d.get("constraints") or {})
        return files, schema, txns, constraints

    def _write_checkpoint_locked(self, version: int) -> None:
        """Persist the cached state (which must be at ``version``) as
        ``<v>.checkpoint.json``. Atomic rename; concurrent writers of the
        same version produce identical content (replay is deterministic),
        so last-rename-wins is safe. Never fails the caller."""
        payload = json.dumps(
            {
                "version": version,
                "schema": fields_to_json(self._state_schema),
                "files": [self._state_files[p].to_json() for p in sorted(self._state_files)],
                "txn_versions": self._state_txns,
                "constraints": self._state_constraints,
            }
        ).encode()
        path = self._checkpoint_path(version)
        tmp = f"{path}.{os.getpid()}.tmp"
        try:
            with open(tmp, "wb") as fh:
                fh.write(payload)
            os.replace(tmp, path)
        except OSError:
            try:
                os.unlink(tmp)
            except OSError:
                pass

    # -- writes --------------------------------------------------------

    def commit(
        self,
        base_version: int,
        txn_id: str,
        schema: list[Field],
        adds: list[FileAdd] | None = None,
        removes: list[str] | None = None,
        constraints: dict[str, str] | None = None,
    ) -> int:
        """Atomically commit the next version. Returns the committed
        version (the original one for an idempotent txn_id replay).
        ``constraints``: None = CHECK set unchanged; a dict replaces the
        full set as of this version (versioned like schema)."""
        adds = adds or []
        removes = removes or []

        if txn_id:
            existing = self.find_txn(txn_id)
            if existing is not None:
                return existing

        from mini_lakehouse_control_plane_executor_spark.observability import log as _slog

        clog = _slog.with_table_name(os.path.basename(self.table_dir)).with_txn_id(txn_id)
        latest = self.latest_version()
        if base_version != latest:
            with self._mu:
                self.conflict_count += 1
            clog.warning("commit_conflict", base_version=base_version, latest=latest)
            raise CommitConflictError(base_version, latest)

        # Validate against the pre-image (pkg/metadata/state.go:198-243).
        if removes or adds:
            pre = self.snapshot(latest) if latest else Snapshot(0, [], [])
            have = set(pre.file_paths)
            for rm in removes:
                if rm not in have:
                    raise CommitValidationError(f"remove of unknown file {rm!r}")
            pre_by_path = {f.path: f for f in pre.files}
            for add in adds:
                if add.path in have:
                    # Deletion-vector metadata update: re-adding an
                    # existing path is legal iff it CHANGES the dv
                    # pointer — attach (merge-on-read delete), swap
                    # (a later delete supersedes the dv), or detach
                    # (RESTORE to a pre-delete version). Replay replaces
                    # by path key, so the entry swaps only the metadata.
                    # An identical re-add is still the reference's
                    # add-of-existing-file error.
                    if add.dv_path != pre_by_path[add.path].dv_path:
                        continue
                    raise CommitValidationError(f"add of existing file {add.path!r}")

        # Monotone commit timestamps: wall clocks can step backwards (NTP,
        # cross-process skew), which would silently break the
        # ``version_at_timestamp`` binary search. Delta adjusts
        # non-monotone commit timestamps the same way: ts = max(now,
        # prev_ts + 1), so version order == timestamp order always.
        prev_ts = self.read_entry(latest).timestamp_ms if latest else 0
        entry = LogEntry(
            version=latest + 1,
            timestamp_ms=max(int(time.time() * 1000), prev_ts + 1),
            txn_id=txn_id,
            schema=schema,
            adds=adds,
            removes=removes,
            constraints=constraints,
        )
        payload = json.dumps(entry.to_json(), indent=None).encode()
        path = self._entry_path(entry.version)
        # Atomic put-if-absent with full content: stage the payload, then
        # hard-link into place. link(2) fails if the target exists and a
        # reader can never observe a partially-written entry.
        tmp = f"{path}.{os.getpid()}.{id(entry)}.tmp"
        if entry.version == 1:
            os.makedirs(self.log_dir, exist_ok=True)
        with open(tmp, "wb") as fh:
            fh.write(payload)
        try:
            os.link(tmp, path)
        except FileExistsError:
            # Lost the race: someone committed this version concurrently.
            with self._mu:
                self.conflict_count += 1
            clog.warning(
                "commit_conflict", base_version=base_version, lost_link_race=True
            )
            raise CommitConflictError(base_version, self.latest_version())
        finally:
            os.unlink(tmp)
        clog.with_version(entry.version).info(
            "commit_applied", adds=len(adds), removes=len(removes)
        )

        # Fold the committed entry into the cache and checkpoint on the
        # interval boundary so later readers replay a bounded suffix.
        with self._mu:
            if self._state_version == entry.version - 1:
                self._state_schema = self._apply(
                    entry,
                    self._state_files,
                    self._state_schema,
                    self._state_txns,
                    self._state_constraints,
                )
                self._state_version = entry.version
            else:
                self._advance_locked(entry.version)
            if entry.version % CHECKPOINT_INTERVAL == 0:
                self._write_checkpoint_locked(entry.version)
        return entry.version
