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
change what a running query sees), and the pushed filters' file pruning
done by ``Snapshot.scan``, the one file-selection step of every
snapshot read (min/max stats, which the reference models but never
uses — ``query_planner.go:249-255``). A table with no commit is an
error here, not an empty frame.

Executor-side reads return pyarrow ``RecordBatch``es (the API's
vectorized path), so the Python worker streams Arrow, not pickled rows.

The source is read-only: ``df.write.format("minilake")`` is refused.
Write through ``LakehouseSession.insert`` (or the REST/gRPC insert),
which stages, promotes and commits once with Spark-evaluated constraints.
"""

from __future__ import annotations

import os
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
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
)
from pyspark.sql.types import LongType, StructField

from mini_lakehouse_control_plane_executor_spark.table.log import Snapshot, TransactionLog
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
        if snap.version == 0:
            raise ValueError(f"no such table: {table}")
        # The reader is pickled to every task: it keeps the version,
        # schema and file list, not the snapshot.
        self._version = snap.version
        self._schema_fields = snap.schema
        self._files = snap.files
        self._table_dir = table_dir

    def pushFilters(self, filters):
        """Advisory pushdown: supported comparisons prune whole FILES via
        the log's min/max stats (``Snapshot.scan``, the pruning the
        reference models but never performs); every filter is still
        returned so Spark re-applies them row-level — pruning can only
        drop files that cannot match, never rows that should."""
        terms = [g for g in map(_filter_to_grammar, filters) if g is not None]
        self._files = Snapshot(self._version, self._schema_fields, self._files).scan(*terms)
        return filters  # none fully handled: Spark evaluates them too

    def partitions(self):
        # One input partition per snapshot file — the reference's
        # one-map-task-per-file plan (query_planner.go:141-160). The
        # file's deletion vector (if any) rides along so each task can
        # apply its own deleted-position set — the per-file bitmap
        # application that scales where a join-side dv would not.
        return [_FilePartition(f.path, f.dv_path) for f in self._files]

    def read(self, partition: _FilePartition):
        pa_types = arrow_types()
        fields = self._schema_fields
        deleted = ()
        if partition.dv_path:
            dvt = pq.read_table(
                os.path.join(self._table_dir, partition.dv_path),
                columns=["src", "pos"],
            )
            mask = pc.equal(
                dvt.column("src"), os.path.basename(partition.path)
            )
            deleted = dvt.filter(mask).column("pos").to_numpy()
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
            if len(deleted):
                keep = np.isin(
                    np.arange(offset, offset + out.num_rows), deleted, invert=True
                )
                if not keep.all():
                    out = out.filter(pa.array(keep))
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
        raise ValueError(
            "the minilake data source is read-only; write with "
            "LakehouseSession.insert (or the REST/gRPC insert)"
        )


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
        root = options.get("root")
        table = options.get("table")
        if not root or not table:
            raise ValueError("minilake stream requires 'root' and 'table' options")
        self._table_dir = os.path.join(root, "tables", table)
        self._starting = int(options.get("startingVersion", 0) or 0)
        self._ignore_changes = str(
            options.get("ignoreChanges", "false")
        ).lower() == "true"
        snap = TransactionLog(self._table_dir).snapshot()
        if snap.version == 0:
            raise ValueError(f"no such table: {table}")
        self._fields = snap.schema

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
        base = to_spark_schema(_MinilakeStreamReader(self.options)._fields)
        return base.add(StructField("_commit_version", LongType(), False))

    def simpleStreamReader(self, schema):
        return _MinilakeStreamReader(self.options)
