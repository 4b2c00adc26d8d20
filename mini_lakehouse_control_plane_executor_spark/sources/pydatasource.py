"""`minilake` Python data source (Spark 4 DataSource API): read a
lakehouse table as ``spark.read.format("minilake")`` with snapshot
isolation and stats-based file pruning.

    spark.dataSource.register(MinilakeDataSource)
    df = (spark.read.format("minilake")
          .option("root", root).option("table", "t")
          .option("version", 3)        # optional, 0/absent = latest
          .load())

Why this exists next to the native path (``LakehouseTable.read`` =
``spark.read.parquet(<snapshot file list>)``, which stays the hot path —
JVM vectorized scan, codegen): the DataSource API is the INTEROP
surface. Anything that can call ``spark.read.format(...)`` — notebooks,
tools that only speak reader options, ``df.createOrReplaceTempView`` for
SQL — gets log-controlled visibility without importing this package's
Python API. (SQL ``CREATE TABLE ... USING minilake`` is parsed and
schema-inferred, but as of Spark 4.1 the catalog's read path hands a
Python data source EMPTY options, so persisted-catalog tables over this
source don't resolve — use format reads + temp views for SQL.) It also demonstrates the reference's planner
contract in Spark-4-native form: one input partition per snapshot file
(``query_planner.go:141-160`` fans one map task per file), resolution
pinned at PLAN time (snapshot isolation — a concurrent commit cannot
change what a running query sees), and min/max-stats file pruning
applied to the reference's filter grammar (which the reference models
but never uses — ``query_planner.go:249-255``).

Executor-side reads return pyarrow ``RecordBatch``es (the API's
vectorized path), so the Python worker streams Arrow, not pickled rows.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    DataSourceWriter,
    WriterCommitMessage,
)

from mini_lakehouse_control_plane_executor_spark.table.log import TransactionLog
from mini_lakehouse_control_plane_executor_spark.table.schema import (
    arrow_types,
    to_spark_schema,
)

_OPS = {
    EqualTo: "=",
    GreaterThan: ">",
    GreaterThanOrEqual: ">=",
    LessThan: "<",
    LessThanOrEqual: "<=",
}


@dataclass
class _FilePartition(InputPartition):
    path: str
    dv_path: str | None = None  # deletion vector to apply, if any


_SOUNDEX_MAP = "01230127022455012623017202"  # A..Z; 0=vowel reset, 7=H/W skip


def _soundex(s: str | None) -> str | None:
    """Byte-for-byte port of Spark's ``UTF8String.soundex`` semantics:
    a non-letter FIRST byte returns the input unchanged; later non-letter
    bytes (including each byte of a multi-byte char) reset the adjacency
    run, vowels reset it, H/W are transparent, output is exactly 4 chars
    zero-padded."""
    if s is None or not s:
        return s
    data = s.encode("utf-8")
    b = data[0]
    if 0x61 <= b <= 0x7A:
        b -= 32
    elif not (0x41 <= b <= 0x5A):
        return s
    out = [chr(b)]
    last = _SOUNDEX_MAP[b - 0x41]
    for b in data[1:]:
        if 0x61 <= b <= 0x7A:
            b -= 32
        elif not (0x41 <= b <= 0x5A):
            last = "0"
            continue
        code = _SOUNDEX_MAP[b - 0x41]
        if code == "7":
            continue
        if code != "0" and code != last:
            out.append(code)
            if len(out) == 4:
                break
        last = code
    return "".join(out).ljust(4, "0")


def _register_spark_shims(con) -> None:
    """Register exact-Spark-semantics Python UDFs for scalar functions
    Spark SQL has and DuckDB lacks, so CHECK expressions using them stay
    enforceable in the session-less commit worker. Each shim is
    cross-validated against the real Spark function in
    ``tests/test_pydatasource.py::test_sessionless_check_shims_match_spark``
    (same inputs, equal outputs). NULL in
    -> NULL out is DuckDB's default UDF null handling, matching Spark."""
    import hashlib
    import zlib

    from duckdb.typing import BIGINT, INTEGER, VARCHAR

    _SHA2 = {0: "sha256", 224: "sha224", 256: "sha256", 384: "sha384", 512: "sha512"}

    # Hash shims take VARCHAR and UTF-8-encode inside the shim — the
    # byte-equal twin of Spark's implicit string->binary cast, so write
    # `crc32(col)` (Spark accepts it via the implicit cast). An explicit
    # `cast(col as binary)` in the expression is NOT supported here:
    # DuckDB's VARCHAR->BLOB cast rejects non-ASCII rather than UTF-8
    # encoding, so it would fail loudly on the first non-ASCII row —
    # and this package's table schema has no binary column type, making
    # the explicit cast always avoidable.
    con.create_function(
        "crc32", lambda s: zlib.crc32(s.encode("utf-8")), [VARCHAR], BIGINT
    )
    con.create_function(
        "sha1",
        lambda s: hashlib.sha1(s.encode("utf-8")).hexdigest(),
        [VARCHAR],
        VARCHAR,
    )
    con.create_function(
        "sha2",
        lambda s, bits: (
            getattr(hashlib, _SHA2[bits])(s.encode("utf-8")).hexdigest()
            if bits in _SHA2
            else None
        ),
        [VARCHAR, INTEGER],
        VARCHAR,
    )
    con.create_function("soundex", _soundex, [VARCHAR], VARCHAR)
    con.create_function(
        "initcap",
        lambda s: " ".join(w[:1].upper() + w[1:].lower() for w in s.split(" ")),
        [VARCHAR],
        VARCHAR,
    )
    con.create_function("space", lambda n: " " * max(n, 0), [INTEGER], VARCHAR)


def _checks_violation_sessionless(
    paths: list[str], constraints: dict[str, str]
) -> str | None:
    """CHECK evaluation for the DataSource writer's ``commit``, which
    Spark runs in a session-less Python worker process (no
    ``SparkSession.getActiveSession()`` — probed empirically: the commit
    runner is a fresh worker, so the Spark-evaluated
    ``constraint_violation_over_files`` branch cannot fire there):
    evaluate each constraint over the staged parquet with DuckDB, whose
    dialect agrees with Spark SQL on the CHECK-expression subset
    (comparisons, arithmetic — both do non-truncating ``/`` — boolean
    ops, IN/LIKE/BETWEEN, CASE), extended with exact-semantics shims
    (``_register_spark_shims``) for Spark-only scalar functions
    (crc32/sha1/sha2/soundex/initcap/space). An expression DuckDB still
    cannot evaluate fails the write LOUDLY (commit refused, nothing
    promoted) rather than skipping the gate — use
    ``LakehouseSession.insert`` for such constraints."""
    import duckdb

    con = duckdb.connect()
    _register_spark_shims(con)
    files = ", ".join("'" + p.replace("'", "''") + "'" for p in paths)
    for name in sorted(constraints):
        expr = constraints[name]
        try:
            n = con.execute(
                f"SELECT count(*) FROM read_parquet([{files}]) "
                f"WHERE NOT coalesce(({expr}), TRUE)"
            ).fetchone()[0]
        except Exception as exc:
            raise ValueError(
                f"cannot evaluate CHECK constraint {name!r} ({expr}) in "
                f"the DataSource writer's session-less commit: {exc}; "
                f"write through LakehouseSession.insert instead"
            ) from exc
        if n:
            return name
    return None


def _filter_to_grammar(f: Filter) -> str | None:
    """Map a pushed Filter onto the reference's ``col op literal``
    grammar (SURVEY §2.3) so the table layer's stats pruner can evaluate
    it. Unsupported shapes return None (Spark re-applies them anyway)."""
    op = _OPS.get(type(f))
    if op is None or len(f.attribute) != 1:
        return None
    v = f.value
    if isinstance(v, bool):
        lit = "true" if v else "false"
    elif isinstance(v, int):
        lit = repr(v)
    elif isinstance(v, float):
        # Non-finite floats have no grammar literal (repr(nan) would
        # prune every file); skip pruning and let Spark filter row-level.
        if v != v or v in (float("inf"), float("-inf")):
            return None
        lit = repr(v)
    elif isinstance(v, str):
        # The grammar cannot represent an embedded quote; mutating the
        # literal would prune files on a DIFFERENT value than the real
        # filter and silently drop matching rows. Decline instead.
        if '"' in v:
            return None
        lit = '"' + v + '"'
    else:
        return None
    return f"{f.attribute[0]} {op} {lit}"


class _MinilakeReader(DataSourceReader):
    def __init__(self, options):
        import os

        opts = {str(k).lower(): v for k, v in dict(options).items()}
        root = opts.get("root")
        # `table` is accepted for reader-API use; SQL DDL callers can use
        # `tablename` to avoid quoting a reserved word in OPTIONS.
        table = opts.get("table") or opts.get("tablename")
        if not root or not table:
            raise ValueError(
                "minilake source requires 'root' and 'table' (or 'tableName') "
                f"options; got {sorted(opts)}"
            )
        version = int(opts.get("version", 0) or 0) or None
        table_dir = os.path.join(root, "tables", table)
        # Snapshot resolved HERE, at plan time: the file list is pinned
        # before any task runs — concurrent commits cannot change what
        # this query sees (snapshot_isolation.go:57-123 semantics).
        snap = TransactionLog(table_dir).snapshot(version)
        self._schema_fields = snap.schema
        self._files = list(snap.files)
        self._table_dir = table_dir

    def pushFilters(self, filters):
        """Advisory pushdown: supported comparisons prune whole FILES via
        the log's min/max stats (the pruning the reference models but
        never performs); every filter is still returned so Spark
        re-applies them row-level — pruning can only drop files that
        cannot match, never rows that should."""
        from mini_lakehouse_control_plane_executor_spark.functions.filters import prune_files

        for f in filters:
            g = _filter_to_grammar(f)
            if g is not None:
                self._files = prune_files(self._files, g, self._schema_fields)
        return filters  # none fully handled: Spark evaluates them too

    def partitions(self):
        # One input partition per snapshot file — the reference's
        # one-map-task-per-file plan (query_planner.go:141-160). The
        # file's deletion vector (if any) rides along so each task can
        # apply its own deleted-position set — the per-file bitmap
        # application that scales where a join-side dv would not.
        return [_FilePartition(f.path, f.dv_path) for f in self._files]

    def read(self, partition: _FilePartition):
        import os

        import pyarrow as pa
        import pyarrow.parquet as pq

        pa_types = arrow_types()
        fields = self._schema_fields
        deleted: set[int] = set()
        if partition.dv_path:
            import pyarrow.compute as pc

            dvt = pq.read_table(
                os.path.join(self._table_dir, partition.dv_path),
                columns=["src", "pos"],
            )
            mask = pc.equal(
                dvt.column("src"), os.path.basename(partition.path)
            )
            deleted = set(dvt.filter(mask).column("pos").to_pylist())
        offset = 0
        pf = pq.ParquetFile(os.path.join(self._table_dir, partition.path))
        present = [f.name for f in fields if f.name in pf.schema_arrow.names]
        for batch in pf.iter_batches(columns=present):
            # Columns added by schema evolution after this file was
            # written read as NULL (parquet merge-by-name semantics).
            arrays = [
                batch.column(f.name)
                if f.name in present
                else pa.nulls(batch.num_rows, type=pa_types[f.type])
                for f in fields
            ]
            out = pa.RecordBatch.from_arrays(arrays, [f.name for f in fields])
            if deleted:
                keep = [
                    i for i in range(out.num_rows) if offset + i not in deleted
                ]
                if len(keep) < out.num_rows:
                    out = out.take(pa.array(keep, type=pa.int64()))
            offset += batch.num_rows
            yield out


class MinilakeDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "minilake"

    def schema(self):
        reader = _MinilakeReader(self.options)
        self._reader = reader
        return to_spark_schema(reader._schema_fields)

    def reader(self, schema):
        # schema() already built (and pinned) the reader; reuse it so
        # schema and file list come from the SAME snapshot.
        return getattr(self, "_reader", None) or _MinilakeReader(self.options)

    def writer(self, schema, overwrite: bool):
        return _MinilakeWriter(self.options, schema, overwrite)


def register(spark) -> None:
    """Idempotent `spark.dataSource.register(MinilakeDataSource)`; also
    enables Python-source filter pushdown (a runtime SQL conf) so
    ``pushFilters`` can prune snapshot files."""
    spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    for src in (MinilakeDataSource, MinilakeStreamDataSource):
        try:
            spark.dataSource.register(src)
        except Exception:  # already registered under this name
            pass


# ---------------------------------------------------------------------------
# Streaming: tail the transaction log as a CDC feed
# ---------------------------------------------------------------------------


class _MinilakeStreamReader(SimpleDataSourceStreamReader):
    """``spark.readStream.format("minilake")``: each micro-batch is the
    rows ADDED by transaction-log commits since the last offset — the
    table's own commit log as a streaming source (Delta CDF streaming
    shape). Offsets are log versions, so progress is exactly-once
    restartable from the checkpoint and ``readBetweenOffsets`` replays
    any committed range deterministically (log entries are immutable).

    Every row carries ``_commit_version`` (Delta's ``_commit_version``
    CDF column) so downstream MERGEs can order changes.

    Non-append commits (anything with removes: DELETE/UPDATE/MERGE
    rewrites, compaction, restore) RAISE by default — emitting their
    adds would duplicate rewritten rows. ``ignoreChanges=true`` SKIPS
    those commits entirely (a cleaner contract than Delta's
    ignoreChanges, which re-emits rewritten files); appends continue to
    flow either way.

    Options: root, table (required); startingVersion (default 0 = since
    creation); ignoreChanges (default false).
    """

    def __init__(self, options):
        import os

        root = options.get("root")
        table = options.get("table")
        if not root or not table:
            raise ValueError("minilake stream requires 'root' and 'table' options")
        self._table_dir = os.path.join(root, "tables", table)
        self._starting = int(options.get("startingVersion", 0) or 0)
        self._ignore_changes = str(
            options.get("ignoreChanges", "false")
        ).lower() == "true"
        self._fields = TransactionLog(self._table_dir).snapshot().schema

    def initialOffset(self) -> dict:
        return {"version": self._starting}

    def read(self, start: dict):
        latest = TransactionLog(self._table_dir).latest_version()
        end = {"version": max(latest, start["version"])}
        return self._rows_between(start["version"], end["version"]), end

    def readBetweenOffsets(self, start: dict, end: dict):
        return self._rows_between(start["version"], end["version"])

    def commit(self, end: dict) -> None:
        pass  # progress lives in the query checkpoint; the log is immutable

    def _rows_between(self, v0: int, v1: int):
        # A LIST ITERATOR, not a generator: the simple-reader runtime
        # both advances the result with next() AND pickles it into the
        # prefetch cache for replay — list iterators do both, generators
        # pickle not at all. Materialization is bounded by the commits
        # in the range, which is the micro-batch contract here.
        return iter(list(self._iter_rows(v0, v1)))

    def _iter_rows(self, v0: int, v1: int):
        import os

        import pyarrow.parquet as pq

        log = TransactionLog(self._table_dir)
        names = [f.name for f in self._fields]
        # The live path set is seeded from ONE snapshot at the range
        # start and then advanced incrementally per entry (adds then
        # removes, the replay order of TransactionLog._apply). The
        # previous shape re-snapshotted log.snapshot(v-1) inside the
        # loop — O(versions × replay-suffix) cold replays per
        # micro-batch instead of one (r13 ADVICE).
        prev_paths = (
            {f.path for f in log.snapshot(v0).files} if v0 >= 1 else set()
        )
        for v in range(v0 + 1, v1 + 1):
            entry = log.read_entry(v)
            # Re-adding a path visible in the PREVIOUS version is never
            # new data: a deletion-vector attach/swap (merge-on-read
            # DELETE/MERGE), a dv DETACH (RESTORE undoing one — dv_path
            # None, so inspecting the add alone cannot tell it from a
            # fresh append), or a restore re-adding old files. Emitting
            # such adds would replay every row of the file. Same
            # non-append contract as removes.
            readds = [a.path for a in entry.adds if a.path in prev_paths]
            prev_paths |= {a.path for a in entry.adds}
            prev_paths -= set(entry.removes)
            if entry.removes or readds:
                if self._ignore_changes:
                    continue
                raise ValueError(
                    f"minilake stream: version {v} is not append-only "
                    f"({len(entry.removes)} removes, {len(readds)} re-adds — "
                    "rewrite/delete/dv-update/restore/compaction). "
                    "Set ignoreChanges=true to skip non-append commits."
                )
            for add in entry.adds:
                tbl = pq.read_table(os.path.join(self._table_dir, add.path))
                cols = {
                    n: (tbl.column(n).to_pylist() if n in tbl.column_names
                        else [None] * tbl.num_rows)
                    for n in names
                }
                for i in range(tbl.num_rows):
                    yield tuple(cols[n][i] for n in names) + (v,)


class MinilakeStreamDataSource(DataSource):
    """Registered as format ``minilake-stream`` (the batch reader owns
    ``minilake``): schema = table schema + ``_commit_version`` long."""

    @classmethod
    def name(cls) -> str:
        return "minilake-stream"

    def schema(self):
        import os

        from pyspark.sql.types import LongType, StructField

        root, table = self.options.get("root"), self.options.get("table")
        if not root or not table:
            raise ValueError("minilake-stream requires 'root' and 'table' options")
        snap = TransactionLog(os.path.join(root, "tables", table)).snapshot()
        base = to_spark_schema(snap.schema)
        return base.add(StructField("_commit_version", LongType(), False))

    def simpleStreamReader(self, schema):
        return _MinilakeStreamReader(self.options)


# ---------------------------------------------------------------------------
# Write: df.write.format("minilake") as an append/overwrite transaction
# ---------------------------------------------------------------------------


@dataclass
class _StagedFile(WriterCommitMessage):
    rel_path: str  # relative to the table dir, under _tmp/
    rows: int


class _MinilakeWriter(DataSourceWriter):
    """Transactional Spark-4 Python writer: each task writes one staged
    parquet file under ``_tmp/<txn>-dsw/`` (the reference's staging
    protocol, ``table_service.go:272-307``); the driver-side ``commit``
    promotes the staged files into ``data/``, harvests footer min/max
    stats, and publishes ONE OCC log commit — so a ``df.write`` is
    exactly as atomic, idempotent (``txn`` option), and time-travelable
    as ``LakehouseSession.insert``. ``abort`` (any task failed) deletes
    the stage; nothing becomes visible.

    NOT NULL is enforced per batch from Arrow null counts inside
    ``write``. CHECK constraints (Spark-SQL expressions) are enforced by
    the driver-side ``commit``: ONE aggregate scan over the staged files
    evaluates every constraint (same post-cast semantics as
    ``table.insert``'s write pass) BEFORE anything is promoted into
    ``data/`` — a violating write aborts with the stage deleted and
    nothing committed.

    Concurrency: the OCC commit loop serializes racing writers exactly
    like ``insert`` (same ``TransactionLog.commit`` CAS, threaded-stress
    covered in tests/test_table.py) — but note Spark 4.1 cannot RESOLVE
    a Python data source from concurrent driver threads at all
    (``DATA_SOURCE_NOT_FOUND`` from simultaneous ``save()`` calls, an
    upstream lookup limitation unrelated to this writer); issue
    concurrent writes through the native ``insert`` API."""

    def __init__(self, options, schema, overwrite: bool):
        import json as _json
        import os
        import uuid as _uuid

        opts = {str(k).lower(): v for k, v in dict(options).items()}
        root, table = opts.get("root"), opts.get("table") or opts.get("tablename")
        if not root or not table:
            raise ValueError("minilake writer requires 'root' and 'table' options")
        self._table_dir = os.path.join(root, "tables", table)
        log = TransactionLog(self._table_dir)
        if log.latest_version() == 0:
            raise ValueError(f"no such table: {table}")
        snap = log.snapshot()
        self._constraints = dict(snap.constraints)
        if not self._constraints:
            # Legacy sidecar (pre-versioned-constraints tables).
            cpath = os.path.join(self._table_dir, "_constraints.json")
            if os.path.exists(cpath):
                with open(cpath) as fh:
                    self._constraints = _json.load(fh)
        self._fields = snap.schema
        declared = {f.name for f in self._fields}
        written = [f.name for f in schema.fields]
        if set(written) != declared:
            raise ValueError(
                f"dataframe columns {sorted(written)} != table schema "
                f"{sorted(declared)}"
            )
        self._non_nullable = [f.name for f in self._fields if not f.nullable]
        self._written_names = written
        self._overwrite = overwrite
        self._txn = opts.get("txn") or f"dsw-{_uuid.uuid4()}"
        self._stage_rel = os.path.join("_tmp", f"{self._txn}-dsw")
        os.makedirs(os.path.join(self._table_dir, self._stage_rel), exist_ok=True)

    def write(self, iterator) -> _StagedFile:
        import os
        import uuid as _uuid

        import pyarrow as pa
        import pyarrow.parquet as pq

        pa_types = arrow_types()
        by_name = {f.name: f for f in self._fields}
        rows = [tuple(r) for r in iterator]
        names = [f.name for f in self._fields]
        # Incoming Row fields follow the dataframe schema order, which
        # the driver validated to be name-equal to the table's; build
        # typed arrays per WRITTEN column, then reorder to table order.
        cols = list(zip(*rows)) if rows else [[] for _ in self._written_names]
        arrays = [
            pa.array(list(c), type=pa_types[by_name[n].type])
            for n, c in zip(self._written_names, cols)
        ]
        tbl = pa.table(dict(zip(self._written_names, arrays)))
        for n in self._non_nullable:
            if rows and tbl.column(n).null_count:
                raise ValueError(f"NOT NULL constraint violated: column {n!r}")
        rel = os.path.join(self._stage_rel, f"part-{_uuid.uuid4()}.parquet")
        pq.write_table(
            tbl.select(names), os.path.join(self._table_dir, rel), compression="snappy"
        )
        return _StagedFile(rel_path=rel, rows=len(rows))

    def commit(self, messages) -> None:
        import os
        import shutil
        import time as _time
        import uuid as _uuid

        from pyspark.sql import SparkSession

        from mini_lakehouse_control_plane_executor_spark.table.table import (
            COMMIT_MAX_RETRIES,
            _footer_stats,
            constraint_violation_over_files,
        )
        from mini_lakehouse_control_plane_executor_spark.table.log import (
            CommitConflictError,
            CommitRetriesExhausted,
            FileAdd,
        )

        log = TransactionLog(self._table_dir)
        stage_abs = os.path.join(self._table_dir, self._stage_rel)
        spark = SparkSession.getActiveSession()
        try:
            if log.find_txn(self._txn) is not None:
                return  # idempotent replay: already committed
            staged = [
                os.path.join(self._table_dir, m.rel_path)
                for m in messages
                if m.rows > 0
            ]
            # CHECK gate runs over the STAGED files, before any promotion:
            # a violating write leaves data/ untouched (the finally-clause
            # stage cleanup is the only side effect).
            if self._constraints and staged:
                if spark is not None:
                    bad = constraint_violation_over_files(
                        spark, to_spark_schema(self._fields), staged, self._constraints
                    )
                else:
                    bad = _checks_violation_sessionless(staged, self._constraints)
                if bad:
                    raise ValueError(
                        f"CHECK constraint {bad!r} violated: "
                        f"({self._constraints[bad]})"
                    )
            adds = []
            for m in messages:
                if m.rows == 0:
                    continue
                dest_rel = os.path.join(
                    "data", f"part-dsw-{_uuid.uuid4()}.parquet"
                )
                dest = os.path.join(self._table_dir, dest_rel)
                shutil.move(os.path.join(self._table_dir, m.rel_path), dest)
                n_rows, mins, maxs = _footer_stats(dest, self._fields)
                adds.append(
                    FileAdd(
                        path=dest_rel,
                        rows=n_rows,
                        size=os.path.getsize(dest),
                        min_values=mins,
                        max_values=maxs,
                    )
                )

            def _remove_promoted() -> None:
                # Mirror LakehouseTable._remove_adds: files never made
                # visible by a log entry must not leak into data/.
                for a in adds:
                    try:
                        os.remove(os.path.join(self._table_dir, a.path))
                    except FileNotFoundError:
                        pass

            last = None
            try:
                for attempt in range(COMMIT_MAX_RETRIES + 1):
                    snap = log.snapshot()
                    # A racing add_constraint may have landed since the
                    # gate above — validate the promoted adds against any
                    # constraint we did not already enforce.
                    delta = {
                        n: e
                        for n, e in snap.constraints.items()
                        if self._constraints.get(n) != e
                    }
                    if delta and adds:
                        apaths = [
                            os.path.join(self._table_dir, a.path) for a in adds
                        ]
                        if spark is not None:
                            bad = constraint_violation_over_files(
                                spark, to_spark_schema(self._fields), apaths, delta
                            )
                        else:
                            bad = _checks_violation_sessionless(apaths, delta)
                        if bad:
                            raise ValueError(
                                f"CHECK constraint {bad!r} (added "
                                f"concurrently) violated: ({delta[bad]})"
                            )
                    removes = [f.path for f in snap.files] if self._overwrite else []
                    try:
                        # Commit the SNAPSHOT schema, not the plan-time
                        # field list: a concurrent add_columns landing
                        # between plan time and this commit would
                        # otherwise be silently reverted by
                        # latest-schema-wins replay (the table.py
                        # merge/overwrite fix, applied to the writer).
                        # The staged files lack the concurrent column
                        # and read as NULL under the committed schema.
                        log.commit(snap.version, self._txn, snap.schema, adds, removes)
                        return
                    except CommitConflictError as exc:
                        last = exc
                        _time.sleep(0.01 * (attempt + 1))
                raise CommitRetriesExhausted(
                    f"minilake write txn {self._txn!r} on "
                    f"{os.path.basename(self._table_dir)!r} lost "
                    f"{COMMIT_MAX_RETRIES + 1} OCC races"
                ) from last
            except BaseException:
                _remove_promoted()
                raise
        finally:
            shutil.rmtree(stage_abs, ignore_errors=True)

    def abort(self, messages) -> None:
        import os
        import shutil

        shutil.rmtree(
            os.path.join(self._table_dir, self._stage_rel), ignore_errors=True
        )
