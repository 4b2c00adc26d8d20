"""LakehouseTable: Parquet data files + transaction log, read through Spark.

Mirrors the reference's table lifecycle (``pkg/coordinator/table_service.go``):
layout ``<root>/tables/<name>/{_log/, data/, _tmp/}``
(``pkg/storage/paths.go:17-92``), insert = stage into ``_tmp/<txn>/`` → move
to ``data/part-%05d-<uuid>.parquet`` → OCC commit of adds
(``table_service.go:121-307,399-474``), compaction = small-file bin-pack →
rewrite → atomic adds+removes commit with retry/re-plan
(``pkg/coordinator/compaction_service.go``).

Spark-first differences from the reference:
- per-file min/max stats are harvested from Parquet footers at commit time
  and actually used for file-level pruning on filtered reads (the reference
  stores placeholders and never prunes — ``table_service.go:416-425``,
  ``query_planner.go:249-255``);
- reads are ``spark.read.parquet(<snapshot file list>)`` so Catalyst gets
  the real scan (column pruning, predicate pushdown, vectorized reader);
  the log is the file index: Spark stats each listed file on the driver
  and starts no listing job, whatever the file count (the session's
  ``parallelPartitionDiscovery.threshold``, ``session.get_spark``);
- compaction rewrite is real (coalesced re-write), not simulated.

Every write commits through one OCC loop, ``LakehouseTable._occ``: each
attempt plans against one fresh snapshot and commits against that
snapshot's version (``transaction_manager.go:124-233``: ≤3 retries with
backoff, re-plan, then ``CommitRetriesExhausted``). The loop owns the
cleanup: when an attempt loses its race or raises, the data files and
the deletion-vector file it promoted are removed, and every attempt's
``_tmp/<txn>/`` stage is removed when it ends.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import time
import uuid
from dataclasses import dataclass, field as dc_field, replace as dc_replace
from typing import Callable

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mini_lakehouse_control_plane_executor_spark.functions.filters import parse_filter
from mini_lakehouse_control_plane_executor_spark.table.log import (
    CommitConflictError,
    CommitRetriesExhausted,
    FileAdd,
    Snapshot,
    TransactionLog,
)
from mini_lakehouse_control_plane_executor_spark.table.schema import (
    Field,
    SchemaError,
    arrow_types,
    from_spark_schema,
    to_spark_schema,
    validate_schema,
    validate_table_name,
)

# Compaction thresholds mirror the reference defaults
# (pkg/coordinator/compaction_service.go:59-65).
COMPACT_MIN_FILE_SIZE = 10 * 1024 * 1024
COMPACT_TARGET_FILE_SIZE = 128 * 1024 * 1024
COMPACT_MIN_CANDIDATES = 3
# Trigger: compact only when small files are also a meaningful fraction
# of the table (``compaction_service.go:315-332``).
COMPACT_SMALL_RATIO = 0.10
COMMIT_MAX_RETRIES = 3  # pkg/coordinator/transaction_manager.go:174-179
# Staging dirs older than this are crash leftovers: no writer keeps a
# stage alive for an hour (stage → promote → commit is one call).
TMP_SWEEP_AGE_SECONDS = 3600.0

# Deletion-vector bounds — the merge-on-read contract's self-enforcing
# half. A file whose deleted fraction reaches DV_MATERIALIZE_FRACTION is
# auto-rewritten right after the MoR commit that crossed the line
# (Delta's ~50% purge-eligibility heuristic): reading it costs full scan
# + anti-join for under half the live rows, so materializing is cheaper
# than the next two reads. DV_BROADCAST_MAX_ROWS bounds the dv side a
# native read will BROADCAST; above it the anti-join runs as a shuffled
# join instead (the per-file bitmap application in
# sources/pydatasource.py stays the at-scale shape). Both are module
# constants so tests (and operators) can tighten them.
DV_MATERIALIZE_FRACTION = 0.5
# Dust guard: auto-rewriting a file over a handful of dv'd rows is pure
# churn (the rewrite costs more than every future read saves); a file
# below this many dv rows only materializes through a normal compaction
# pass (where it is already a singleton-group candidate).
DV_MATERIALIZE_MIN_ROWS = 1024
# Table-wide pending-dv budget: above this, the post-commit pass also
# drafts the largest dv carriers (even under the fraction bar) until the
# projected total is back under budget.
DV_PENDING_MAX_ROWS = 4_000_000
DV_BROADCAST_MAX_ROWS = 4_000_000

# Stats are harvested only for scalar leaf types we can JSON-roundtrip.
# date/timestamp serialize as FIXED-WIDTH ISO strings ('%Y-%m-%d' /
# '%Y-%m-%d %H:%M:%S.%f'), whose lexicographic order equals their
# chronological order — so time-range pruning (the single most valuable
# prune on a 100 TB event table) works through plain string comparison.
_STATS_TYPES = {
    "int32", "int64", "float32", "float64", "string", "boolean",
    "date", "timestamp",
}


def _fill_partition_from_stats(adds: list, cluster_by: list[str]) -> list:
    """Record single-valued cluster columns in FileAdd.partition
    (FileInfo parity — ``proto/metadata.proto:94-113``): a file whose
    min == max for a clustered column is exactly a partition of that
    value, with no directory-layout commitment."""
    return [
        dc_replace(
            a,
            partition={
                c: str(a.min_values[c])
                for c in cluster_by
                if c in a.min_values and a.min_values[c] == a.max_values.get(c)
            },
        )
        for a in adds
    ]


# Z-order clustering: quantile buckets per column (2^ZORDER_BITS), bit
# interleaved into one sort key. 8 bits = 256 buckets is the sweet spot:
# fine enough that each output file covers a narrow hyper-rectangle,
# coarse enough that the bucket-assignment expression (one HOF over a
# 255-literal cut array per column) stays cheap at scan speed.
ZORDER_BITS = 8

# Field types a z-order column may have, with how to project them onto
# the double line the quantile cuts live on. Strings are refused: there
# is no distance-preserving numeric embedding, and silently hashing them
# would destroy the locality z-ordering exists to create.
_ZORDER_CASTS = {
    "int32": lambda c: c.cast("double"),
    "int64": lambda c: c.cast("double"),
    "float32": lambda c: c.cast("double"),
    "float64": lambda c: c.cast("double"),
    "timestamp": lambda c: c.cast("double"),
    "date": lambda c: c.cast("timestamp").cast("double"),
}


def _zorder_value(df: DataFrame, cols: list[str], types: dict[str, str]):
    """Interleaved-bit Z-value column over per-column quantile buckets
    (the Delta OPTIMIZE ZORDER BY technique, built from public parts):
    each column is bucketed by its own approx-quantile cuts — so skewed
    columns still spread over all 256 buckets — and the bucket indexes'
    bits are interleaved LSB-first, giving the space-filling-curve key
    that range-partitioning then turns into files covering narrow
    hyper-rectangles in ALL clustered dimensions at once.

    Costs ONE extra aggregate pass over ``df`` (the quantile sketch,
    collected as a single driver row of ≤255 cuts per column) — the
    standard price of a z-order write."""
    n_buckets = 1 << ZORDER_BITS
    qs = [i / n_buckets for i in range(1, n_buckets)]
    casts = {c: _ZORDER_CASTS[types[c]] for c in cols}
    cuts_row = df.agg(
        *[
            F.percentile_approx(casts[c](df[c]), qs, 10000).alias(c)
            for c in cols
        ]
    ).first()
    k = len(cols)
    z = F.lit(0).cast("long")
    for ci, c in enumerate(cols):
        cuts = sorted({x for x in (cuts_row[c] or []) if x is not None})
        if not cuts:
            continue  # empty/all-null column: contributes nothing
        arr = F.array(*[F.lit(float(x)) for x in cuts])
        v = casts[c](df[c])
        # Bucket = #cuts <= value; NULLs fall through to bucket 0.
        bucket = F.size(F.filter(arr, lambda x: x <= v))
        for i in range(ZORDER_BITS):
            z = z + F.shiftright(bucket, i).bitwiseAND(F.lit(1)).cast(
                "long"
            ) * F.lit(1 << (i * k + ci)).cast("long")
    return z


def _cluster_layout(
    df: DataFrame,
    n_part: int,
    cluster_by: list[str] | None,
    zorder_by: list[str] | None,
    types: dict[str, str],
) -> DataFrame:
    """Range-partition + sort the write so each output file covers a
    narrow slice of the cluster-key space. ``cluster_by`` sorts the
    columns lexicographically (sharpest pruning on the LEADING column);
    ``zorder_by`` sorts by the interleaved Z-value (balanced pruning on
    EVERY listed column — the right layout when queries filter the
    second column without the first)."""
    if cluster_by:
        return df.repartitionByRange(n_part, *cluster_by).sortWithinPartitions(
            *cluster_by
        )
    zcol = "__zorder"
    return (
        df.withColumn(zcol, _zorder_value(df, zorder_by, types))
        .repartitionByRange(n_part, zcol)
        .sortWithinPartitions(zcol)
        .drop(zcol)
    )


def _validate_cluster_args(
    fields: list[Field],
    cluster_by: list[str] | None,
    zorder_by: list[str] | None,
) -> None:
    if cluster_by and zorder_by:
        raise ValueError("pass either cluster_by or zorder_by, not both")
    names = {f.name for f in fields}
    unknown = set(cluster_by or []) | set(zorder_by or [])
    unknown -= names
    if unknown:
        raise ValueError(
            f"cluster_by/zorder_by unknown column(s): {sorted(unknown)}"
        )
    if zorder_by:
        types = {f.name: f.type for f in fields}
        bad = [c for c in zorder_by if types[c] not in _ZORDER_CASTS]
        if bad:
            raise ValueError(
                f"zorder_by supports {sorted(_ZORDER_CASTS)} columns; "
                f"unsupported: {bad}"
            )
        if len(zorder_by) < 2:
            raise ValueError(
                "zorder_by needs >= 2 columns (use cluster_by for one)"
            )


def _stat_value(v, ftype: str):
    import datetime as _dt

    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if ftype == "timestamp" and isinstance(v, _dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(_dt.timezone.utc).replace(tzinfo=None)
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if ftype == "date" and isinstance(v, (_dt.date, _dt.datetime)):
        return v.strftime("%Y-%m-%d")
    return v


def _footer_stats(path: str, fields: list[Field]) -> tuple[int, dict, dict]:
    """(rows, min_values, max_values) from the Parquet footer — no data read.

    A column with a NaN bound in any row group gets no stats: Spark's
    writer puts NaN above every value, as Spark's ordering does, and
    Python comparisons against NaN are all false, so a NaN bound would
    prune files whose NaN rows match ``x > v``."""
    md = pq.ParquetFile(path).metadata
    wanted = {f.name: f.type for f in fields if f.type in _STATS_TYPES}
    mins: dict[str, object] = {}
    maxs: dict[str, object] = {}
    nan_cols: set[str] = set()
    for rg in range(md.num_row_groups):
        group = md.row_group(rg)
        for ci in range(group.num_columns):
            col = group.column(ci)
            name = col.path_in_schema
            if name not in wanted:
                continue
            st = col.statistics
            if st is None or not st.has_min_max:
                continue
            mn = _stat_value(st.min, wanted[name])
            mx = _stat_value(st.max, wanted[name])
            if mn != mn or mx != mx:
                nan_cols.add(name)
            if name not in mins or mn < mins[name]:
                mins[name] = mn
            if name not in maxs or mx > maxs[name]:
                maxs[name] = mx
    for name in nan_cols:
        del mins[name], maxs[name]
    return md.num_rows, mins, maxs


_PART_TASK = re.compile(r"part-(\d+)")


def part_files(directory: str) -> list[str]:
    """Names of the Parquet part files one write (Spark's, or
    ``_write_local``'s) left in ``directory``, in write order: by the
    write task's number compared as
    an integer (``part-%05d`` stops being fixed-width past 99,999 tasks),
    then by name. Checksums (``.*``) and markers (``_SUCCESS``) are left
    out."""

    def order(name: str) -> tuple[int, str]:
        m = _PART_TASK.match(name)
        return (int(m.group(1)) if m else -1, name)

    return sorted(
        (
            f
            for f in os.listdir(directory)
            if f.endswith(".parquet") and not f.startswith((".", "_"))
        ),
        key=order,
    )


def _ident(name: str) -> str:
    """``name`` as a Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def _violates(check: str) -> str:
    """SQL predicate: a row violates CHECK ``check`` (FALSE fails; TRUE
    and NULL pass, SQL CHECK semantics). The expression sits on lines of
    its own, so a trailing ``--`` comment in it ends before the closing
    parenthesis."""
    return f"NOT coalesce(CAST((\n{check}\n) AS boolean), true)"


def _analysis_error(spark: SparkSession, fields: list[Field], check: str):
    """Why CHECK ``check`` does not analyze over a table of ``fields``
    (the exception), or None when it does."""
    try:
        spark.createDataFrame([], to_spark_schema(fields)).filter(
            F.expr(check).cast("boolean")
        ).schema
    except Exception as exc:
        return exc
    return None


def _guarded(
    df: DataFrame,
    fields: list[Field],
    checks: dict[str, str],
) -> DataFrame:
    """``df`` aligned to ``fields``: the one projection every write that
    produces table rows goes through (insert, UPDATE, merge). Each field
    is ``df``'s column of that name, cast to the field's type; callers
    compute new values as Columns first, so no caller text but the
    CHECKs (parsed on their own when added) enters the SQL built here.
    A NULL in a NOT NULL field, or a row for which a CHECK in ``checks``
    is FALSE, raises inside the job that writes or fetches the rows: no
    separate validation scan. The CHECKs see the cast values and are
    folded into the first column, so column pruning cannot drop them.
    The guard is built by at most two ``selectExpr`` calls of SQL
    strings, each five py4j commands plus one per column."""
    schema = to_spark_schema(fields)
    # TIMESTAMP alone would follow spark.sql.timestampType.
    types = {
        f.name: "timestamp_ltz" if f.type == "timestamp" else s.dataType.simpleString()
        for f, s in zip(fields, schema)
    }

    def fail(message: str, name: str) -> str:
        literal = message.replace("\\", "\\\\").replace("'", "\\'")
        return f"CAST(raise_error('{literal}') AS {types[name]})"

    cols = []
    for f in fields:
        value = f"CAST({_ident(f.name)} AS {types[f.name]})"
        if not f.nullable:
            message = f"NOT NULL constraint violated: column {f.name!r}"
            value = f"coalesce({value}, {fail(message, f.name)})"
        cols.append(f"{value} AS {_ident(f.name)}")
    df = df.selectExpr(*cols)
    if not checks:
        return df
    first = fields[0].name
    whens = "".join(
        f"WHEN {_violates(checks[c])} THEN "
        f"{fail(f'CHECK constraint {c!r} violated: ({checks[c]})', first)}\n"
        for c in sorted(checks)
    )
    return df.selectExpr(
        f"CASE {whens}ELSE {_ident(first)} END AS {_ident(first)}",
        *[_ident(f.name) for f in fields[1:]],
    )


def _write_local(df: DataFrame, stage: str, fields: list[Field], n_files: int) -> None:
    """Stage a driver-local frame's rows as up to ``n_files`` Parquet
    files written by pyarrow, with no Spark write job (output committer,
    per-task Hadoop setup) for rows already on the driver. One
    single-task job fetches the rows, so every cast, NOT NULL and CHECK
    guard in ``df``'s plan still runs in Spark and raises there. The
    rows are cast to the table's Arrow types and split into ``n_files``
    even row slices; an empty frame stages no file.

    pyarrow leaves NaN out of a float column's min/max, so a float
    column holding NaN is written without stats: its files then carry
    no bounds for it, as Spark-written ones do (``_footer_stats``)."""
    types = arrow_types()
    rows = df.coalesce(1).toArrow().cast(
        pa.schema([pa.field(f.name, types[f.type]) for f in fields])
    )
    with_stats = [
        f.name
        for f in fields
        if f.type not in ("float32", "float64")
        or not pc.any(pc.is_nan(rows[f.name])).as_py()
    ]
    os.makedirs(stage, exist_ok=True)
    bounds = [rows.num_rows * i // n_files for i in range(n_files + 1)]
    for i, (lo, hi) in enumerate(zip(bounds, bounds[1:])):
        if hi > lo:
            pq.write_table(
                rows.slice(lo, hi - lo),
                os.path.join(stage, f"part-{i:05d}.parquet"),
                write_statistics=with_stats,
            )


@dataclass(frozen=True)
class _Commit:
    """What one OCC attempt commits (``LakehouseTable._occ``)."""

    adds: list[FileAdd] = dc_field(default_factory=list)
    removes: list[str] = dc_field(default_factory=list)
    schema: list[Field] | None = None  # None: the snapshot's schema
    constraints: dict[str, str] | None = None  # None: CHECK set unchanged
    # The CHECK set the commit's new rows were written under; the loop
    # validates them against any CHECK the snapshot adds to it. None:
    # the commit writes no new rows.
    checked: dict[str, str] | None = None
    info: object = None  # handed back to the caller with the version


class _Attempt:
    """One try of an OCC write: its stage ``_tmp/<txn>/`` and every file
    it has made, which ``LakehouseTable._occ`` removes unless the try
    commits."""

    def __init__(self, table: "LakehouseTable", txn: str):
        self.stage = os.path.join(table.tmp_dir, txn)
        self.files: list[FileAdd] = []  # promoted into data/
        self.dv: str | None = None  # absolute path of the dv parquet written
        self._table = table

    def write(self, df: DataFrame, sub: str, fields: list[Field]) -> list[FileAdd]:
        """Write ``df`` under the stage and promote its files into data/."""
        out = os.path.join(self.stage, sub)
        df.write.mode("overwrite").parquet(out)
        adds = self._table._promote_staged(out, fields)
        self.files += adds
        return adds

    def discard(self) -> None:
        self._table._remove_adds(self.files)
        if self.dv is not None:
            try:
                os.remove(self.dv)
            except OSError:
                pass


class LakehouseTable:
    def __init__(self, spark: SparkSession, root: str, name: str):
        self.spark = spark
        self.name = name
        self.dir = os.path.join(root, "tables", name)
        self.data_dir = os.path.join(self.dir, "data")
        self.tmp_dir = os.path.join(self.dir, "_tmp")
        self.dv_dir = os.path.join(self.dir, "_dv")
        self.log = TransactionLog(self.dir)

    # -- lifecycle -----------------------------------------------------

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        name: str,
        fields: list[Field],
        constraints: dict[str, str] | None = None,
    ) -> "LakehouseTable":
        """``constraints``: optional CHECK constraints
        {name: boolean SQL expression} enforced on every insert (Delta
        `ALTER TABLE ADD CONSTRAINT CHECK` semantics: a row passes when
        the expression is TRUE or NULL, the write FAILS — inside the
        write pass, no extra scan — when any row evaluates FALSE).
        Expressions are analyzed against the table schema at create
        time, so a typo'd column fails here, not on first insert."""
        validate_table_name(name)
        validate_schema(fields)
        table = LakehouseTable(spark, root, name)
        if table.log.latest_version() > 0:
            raise ValueError(f"table {name!r} already exists")
        os.makedirs(table.data_dir, exist_ok=True)
        os.makedirs(table.tmp_dir, exist_ok=True)
        for cname, expr in (constraints or {}).items():
            if not re.fullmatch(r"[A-Za-z0-9_]+", cname):
                raise ValueError(f"invalid constraint name {cname!r}")
            exc = _analysis_error(spark, fields, expr)
            if exc is not None:
                raise ValueError(
                    f"constraint {cname!r} does not analyze against the "
                    f"table schema: {exc}"
                ) from exc
        # Version 1 = creation: schema + the constraint set, one atomic
        # commit — constraints are VERSIONED in the log (Delta table-
        # feature semantics), not a sidecar, so a crash can never leave
        # a half-written constraint file and time travel sees the CHECK
        # set of the version it reads.
        table.log.commit(
            0, f"create-{uuid.uuid4()}", fields, constraints=constraints or {}
        )
        return table

    @property
    def constraints(self) -> dict[str, str]:
        return self._checks(self.log.snapshot())

    def _checks(self, snap: Snapshot) -> dict[str, str]:
        """The CHECK set in force at ``snap``."""
        if snap.constraints:
            return dict(snap.constraints)
        # Legacy sidecar fallback: tables created before constraints were
        # versioned in the log kept them in _constraints.json.
        path = os.path.join(self.dir, "_constraints.json")
        if not os.path.exists(path):
            return {}
        with open(path) as f:
            return json.load(f)

    def add_constraint(self, cname: str, expr: str) -> None:
        """Delta ``ALTER TABLE ADD CONSTRAINT`` semantics: the new CHECK
        is validated against ALL existing rows first (one scan — Delta
        does the same); if any row violates it, nothing changes. The new
        set is published as a VERSIONED log commit through the same OCC
        CAS as data writes, which closes the race with a concurrent
        insert: either the insert commits first (its rows are covered by
        this validation scan, which retries on conflict against the
        fresh snapshot) or this commit lands first (the writer's commit
        loop re-checks its new rows against the snapshot's CHECK set
        before committing)."""
        if not re.fullmatch(r"[A-Za-z0-9_]+", cname):
            raise ValueError(f"invalid constraint name {cname!r}")
        # Parsed on its own first (F.expr parses only when analyzed):
        # the scan below and every write guard embed the text in SQL.
        exc = _analysis_error(self.spark, self.fields, expr)
        if exc is not None:
            raise ValueError(
                f"constraint {cname!r} does not analyze against the "
                f"table schema: {exc}"
            ) from exc

        def plan(snap: Snapshot, a: _Attempt) -> _Commit:
            current = self._checks(snap)
            if cname in current:
                raise ValueError(f"constraint {cname!r} already exists")
            try:
                n_bad = (
                    self._scan_files(snap.files, to_spark_schema(snap.schema))
                    .filter(_violates(expr))
                    .limit(1)
                    .count()
                )
            except Exception as exc:
                raise ValueError(
                    f"constraint {cname!r} does not analyze against the "
                    f"table schema: {exc}"
                ) from exc
            if n_bad:
                raise ValueError(
                    f"cannot add constraint {cname!r}: existing rows "
                    f"violate ({expr})"
                )
            return _Commit(constraints={**current, cname: expr})

        self._occ(
            f"add_constraint {cname!r}", f"add-constraint-{cname}-{uuid.uuid4()}", plan
        )
        self._retire_legacy_sidecar()

    def drop_constraint(self, cname: str) -> None:
        """Delta ``ALTER TABLE DROP CONSTRAINT``: publish the shrunken
        CHECK set as a versioned log commit (same OCC CAS as
        ``add_constraint``), so the drop is time-travelable — a RESTORE
        to an earlier version brings the constraint back. Raises
        KeyError for an unknown name."""

        def plan(snap: Snapshot, a: _Attempt) -> _Commit:
            current = self._checks(snap)
            if cname not in current:
                raise KeyError(f"no such constraint: {cname!r}")
            return _Commit(
                constraints={n: e for n, e in current.items() if n != cname}
            )

        self._occ(
            f"drop_constraint {cname!r}",
            f"drop-constraint-{cname}-{uuid.uuid4()}",
            plan,
        )
        self._retire_legacy_sidecar()

    def add_column(self, field: Field) -> int:
        """Single-column convenience over ``add_columns`` (the additive
        schema-evolution commit, Delta ADD COLUMN semantics: nullable
        only, zero rewrite, old rows surface NULL)."""
        return self.add_columns([field])

    def drop_column(self, name: str) -> int:
        """Delta ``ALTER TABLE DROP COLUMN`` (logical): commit the
        narrowed schema; no data rewrite — reads impose the snapshot
        schema, so the files' extra column is simply never scanned
        (column pruning makes this free), and time travel to pre-drop
        versions still sees it. Refuses to orphan a CHECK constraint
        that references the column, and refuses to drop the last
        column."""

        def plan(snap: Snapshot, a: _Attempt) -> _Commit:
            if not any(f.name == name for f in snap.schema):
                raise KeyError(f"no such column: {name!r}")
            new_schema = [f for f in snap.schema if f.name != name]
            if not new_schema:
                raise SchemaError("cannot drop the last column")
            for cname, expr in self._checks(snap).items():
                if _analysis_error(self.spark, new_schema, expr) is not None:
                    raise SchemaError(
                        f"cannot drop column {name!r}: CHECK constraint "
                        f"{cname!r} references it ({expr}); drop the "
                        "constraint first"
                    )
            return _Commit(schema=new_schema)

        return self._occ(
            f"drop_column {name!r}", f"drop-column-{name}-{uuid.uuid4()}", plan
        )[0]

    def _retire_legacy_sidecar(self) -> None:
        """After a constraint commit, the log owns the full set; a
        lingering pre-versioning sidecar would shadow an empty log set
        through the legacy fallback (resurrecting dropped CHECKs)."""
        try:
            os.remove(os.path.join(self.dir, "_constraints.json"))
        except FileNotFoundError:
            pass

    def exists(self) -> bool:
        return self.log.latest_version() > 0

    @property
    def fields(self) -> list[Field]:
        return self.log.snapshot().schema

    @property
    def spark_schema(self):
        return to_spark_schema(self.fields)

    def versions(self) -> list[int]:
        return self.log.list_versions()

    # Operation inferred from the txn-id prefix each write path stamps.
    _HISTORY_OPS = (
        ("create-", "CREATE TABLE"),
        ("delete-", "DELETE"),
        ("update-", "UPDATE"),
        ("merge-", "MERGE"),
        ("compact-", "OPTIMIZE"),
        ("restore-", "RESTORE"),
        ("add-constraint-", "ADD CONSTRAINT"),
        ("drop-constraint-", "DROP CONSTRAINT"),
        ("alter-", "ADD COLUMN"),
        ("drop-column-", "DROP COLUMN"),
    )

    def history(self, limit: int | None = None) -> list[dict]:
        """Delta ``DESCRIBE HISTORY`` analogue: one dict per version,
        NEWEST first — version, timestamp_ms, txn_id, inferred
        operation, add/remove counts, rows added, whether the commit
        changed the schema, and whether it declared a constraint set
        (add/drop/create/restore do). Reads log entries only
        (no data files); ``limit`` bounds how many recent versions are
        returned."""
        # Bounded calls read only the newest limit+1 entries: every
        # commit stores a full schema, so the schema-changed diff for
        # version v needs only v-1's entry — walking the whole log for
        # history(limit=1) on a 10k-commit table was thousands of
        # redundant file reads. Each returned version still compares
        # against its true predecessor (the one extra entry read).
        versions = self.versions()  # oldest-first
        if limit is not None and limit >= 0:
            versions = versions[-(limit + 1):]
        out = []
        prev_schema: list[Field] = []
        for i, v in enumerate(versions):
            e = self.log.read_entry(v)
            op = "WRITE"
            for prefix, name in self._HISTORY_OPS:
                if e.txn_id.startswith(prefix):
                    op = name
                    break
            schema = e.schema or prev_schema
            out.append(
                {
                    "version": v,
                    "timestamp_ms": e.timestamp_ms,
                    "txn_id": e.txn_id,
                    "operation": op,
                    "n_added_files": len(e.adds),
                    "n_removed_files": len(e.removes),
                    "rows_added": sum(a.rows for a in e.adds),
                    "schema_changed": schema != prev_schema,
                    "constraints_changed": e.constraints is not None,
                }
            )
            prev_schema = schema
        out.reverse()
        return out if limit is None else out[:limit]

    # -- write path ----------------------------------------------------

    def insert(
        self,
        df: DataFrame,
        txn_id: str | None = None,
        mode: str = "append",
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        merge_schema: bool = False,
    ) -> int:
        """Commit ``df`` as a new version (staged write → move → OCC
        commit with bounded retry). Idempotent per ``txn_id``.

        Driver-local inputs (``df.isLocal()``: pandas or Arrow frames,
        REST rows) without ``cluster_by``/``zorder_by`` start no Spark
        write job: one single-task job fetches the guarded rows as Arrow
        and pyarrow writes them as one file per
        ``COMPACT_TARGET_FILE_SIZE`` of input by the plan's size
        estimate, at most one per input partition (``_write_local``), so
        a small append is one file. Other inputs are written by Spark and
        keep their own partitioning.

        ``mode='append'`` adds files; ``mode='overwrite'`` additionally
        removes every file visible at commit time (refreshed on each OCC
        retry, so a concurrent append cannot survive an overwrite that
        committed after it).

        ``cluster_by``: co-locate rows by these columns before writing so
        each file covers a narrow value range — the Spark-first answer to
        the reference's (always-empty) per-file partition map
        (``table_service.go:420`` "No partitioning for MVP"): file-level
        min/max stats then prune clustered columns exactly like partition
        pruning, with no schema surgery and no small-file-per-value
        explosion. Single-valued files additionally get their value
        recorded in ``FileAdd.partition`` (FileInfo parity).

        ``zorder_by``: multi-dimensional clustering — sort by the
        interleaved-bit Z-value of the columns' quantile buckets instead
        of lexicographically, so min/max pruning works on EVERY listed
        column, not just the leading one (see ``_zorder_value``)."""
        if mode not in ("append", "overwrite"):
            raise ValueError(f"unknown insert mode {mode!r}")
        txn_id = txn_id or str(uuid.uuid4())
        prior = self.log.find_txn(txn_id)
        if prior is not None:
            return prior

        snap = self.log.snapshot()
        fields = snap.schema
        # Delta write semantics for EXTRA dataframe columns: error by
        # default (silently dropping data is never correct), evolve the
        # schema first when ``merge_schema=True`` (Delta's
        # ``mergeSchema`` option — one additive nullable-columns commit,
        # idempotent under this txn's replay, then the data commit).
        extra = [c for c in df.columns if c not in {f.name for f in fields}]
        if extra:
            if not merge_schema:
                raise SchemaError(
                    f"dataframe column(s) {extra} not in table schema; "
                    "pass merge_schema=True to evolve the schema, or drop "
                    "them explicitly"
                )
            new_fields = [
                Field(f.name, f.type, True)
                for f in from_spark_schema(df.select(*extra).schema)
            ]
            self.add_columns(new_fields, txn_id=f"{txn_id}-mergeschema")
            snap = self.log.snapshot()
            fields = snap.schema
        _validate_cluster_args(fields, cluster_by, zorder_by)
        # A driver-local frame (LocalRelation: pandas/Arrow input, REST
        # rows) gets one file per COMPACT_TARGET_FILE_SIZE of input by its
        # plan statistics, and never more files than it has partitions;
        # both are read before the guards below wrap the plan. The
        # relation's size needs no optimizer pass, and the partition
        # count costs a physical plan, so it is asked for only when it
        # could lower the count below the size's.
        local_files = None
        if df.isLocal() and not (cluster_by or zorder_by):
            size = int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
            local_files = max(1, -(-size // COMPACT_TARGET_FILE_SIZE))
            if local_files > 1:
                local_files = min(local_files, df.rdd.getNumPartitions())
        # Align column order/types to the table schema and guard NOT
        # NULL and CHECK inside the job that writes or fetches the rows;
        # a cast that nulls a non-null input is caught too. The files are
        # staged once, so the commit loop re-validates them against any
        # CHECK a racing add_constraint commits before this insert does.
        enforced = self._checks(snap)
        df = _guarded(df, fields, enforced)
        if cluster_by or zorder_by:
            # Range-partition (not hash): gives each output file a
            # CONTIGUOUS slice of the cluster-key space, the layout that
            # makes min/max pruning sharpest. Explicit numPartitions so
            # AQE cannot coalesce the clustered layout into one file.
            n_part = int(self.spark.conf.get("spark.sql.shuffle.partitions", "32"))
            df = _cluster_layout(
                df, n_part, cluster_by, zorder_by,
                {f.name: f.type for f in fields},
            )

        self._sweep_stale_stages()
        stage = os.path.join(self.tmp_dir, txn_id)
        try:
            if local_files is None:
                df.write.mode("overwrite").parquet(stage)
            else:
                _write_local(df, stage, fields, local_files)
            adds = self._promote_staged(stage, fields)
        finally:
            shutil.rmtree(stage, ignore_errors=True)
        if cluster_by or zorder_by:
            adds = _fill_partition_from_stats(adds, cluster_by or zorder_by)

        def plan(snap: Snapshot, a: _Attempt) -> _Commit:
            # Committed under the SNAPSHOT schema, not the entry-time
            # field list: a concurrent add_column landing before a retry
            # would otherwise be reverted by latest-schema-wins replay.
            # The staged files simply lack the concurrent column and read
            # as NULL under the committed schema. An overwrite removes
            # every file visible at this attempt's snapshot.
            removes = [f.path for f in snap.files] if mode == "overwrite" else []
            return _Commit(adds, removes, checked=enforced)

        return self._occ(f"insert {mode}", txn_id, plan, staged=adds)[0]

    def delete(
        self,
        filter_str: str,
        txn_id: str | None = None,
        mode: str = "copy-on-write",
    ) -> tuple[int | None, int]:
        """DELETE rows matching ``filter_str`` (reference grammar or any
        SQL predicate). Returns (new_version | None, rows_deleted); no
        version is committed when nothing matches. Old versions remain
        readable in both modes (commits add/replace log entries; they
        never mutate data files).

        ``mode='copy-on-write'`` (default, Delta's DELETE dataflow):
        files whose min/max stats admit matches are REWRITTEN without
        the matching rows; untouched files carry over by reference.
        Write amplification = the full size of every touched file.

        ``mode='merge-on-read'``: no data file is rewritten — the
        matching (file, row-position) pairs are written as a DELETION
        VECTOR (the public Delta/Iceberg merge-on-read design) and the
        affected files re-committed with the dv pointer attached; reads
        apply the dv as an anti-join, and compaction materializes it
        (rewrites the file without the deleted rows, clearing the dv).
        The write-amplification lever a selective DELETE over 100 TB
        needs: the commit costs O(deleted rows), not O(touched bytes).

        The reference stubs DeleteTable and has no row deletes
        (``rest_api.go:676-687``); this is beyond-reference surface.
        """
        return self._rewrite_matches("delete", filter_str, None, txn_id, mode)

    def update(
        self,
        filter_str: str,
        assignments: dict[str, str],
        txn_id: str | None = None,
        mode: str = "copy-on-write",
    ) -> tuple[int | None, int]:
        """UPDATE: rows matching ``filter_str`` get each column in
        ``assignments`` set to the given SQL expression (evaluated
        against the pre-update row); all other rows — and all other
        files — carry over unchanged. Returns
        (new_version | None, rows_updated). Same OCC-retry, idempotency,
        and time-travel behavior as ``delete``.

        ``mode='copy-on-write'`` (default): files whose min/max stats
        admit matches are fully rewritten with the assignments applied.

        ``mode='merge-on-read'`` (Delta's DV UPDATE dataflow): the
        matched (file, position) pairs are committed as a deletion
        vector over the old rows and the REWRITTEN rows append as fresh
        files — one OCC commit, cost O(matched rows), not O(touched
        bytes). Row-level results are identical (pinned by the model
        test's mode coin-flip); compaction later materializes the dvs.
        Completes the DV write-path triple next to ``delete`` and
        ``merge``."""
        return self._rewrite_matches("update", filter_str, assignments, txn_id, mode)

    def _rewrite_matches(
        self,
        op: str,
        filter_str: str,
        assignments: dict[str, str] | None,
        txn_id: str | None,
        mode: str,
    ) -> tuple[int | None, int]:
        """The DELETE/UPDATE body: a delete is an update with no
        assignments (``None``). Matches are computed on the dv-APPLIED
        scan, so a row already deleted by a deletion vector is neither
        resurrected by a rewrite nor counted again.

        Copy-on-write rewrites every candidate file (the files whose
        min/max stats admit matches): without the matched rows for a
        delete, with the assignments applied to them for an update. The
        rewrite materializes the files' deletion vectors.

        Merge-on-read writes the matched (file, position) pairs as ONE
        new dv, unioned with the affected files' existing dv positions,
        and re-commits those files with the new dv pointer attached
        (log.commit allows re-adding a path whose dv changes); an update
        also appends the rewritten rows as fresh files, in the same
        commit."""
        if mode not in ("copy-on-write", "cow", "merge-on-read", "mor"):
            raise ValueError(f"unknown {op} mode {mode!r}")
        mor = mode in ("merge-on-read", "mor")
        pred = parse_filter(filter_str)
        txn_id = txn_id or f"{op}-{uuid.uuid4()}"
        prior = self.log.find_txn(txn_id)
        if prior is not None:
            return prior, 0

        def plan(snap: Snapshot, a: _Attempt) -> _Commit | None:
            unknown = set(assignments or ()) - {f.name for f in snap.schema}
            if unknown:
                raise ValueError(f"UPDATE of unknown column(s): {sorted(unknown)}")
            candidates = snap.scan(filter_str)
            if not candidates:
                return None
            schema = to_spark_schema(snap.schema)
            checks = self._checks(snap)
            n_out = max(1, len(candidates))

            def assigned(df: DataFrame) -> DataFrame:
                # Rewritten rows pass the same NOT NULL and CHECK guard
                # as insert; the untouched rows already did.
                return _guarded(
                    df.withColumns(
                        {
                            c: F.when(pred, F.expr(e)).otherwise(F.col(_ident(c)))
                            for c, e in assignments.items()
                        }
                    ),
                    snap.schema,
                    checks,
                )

            if mor:
                live, src_col, pos_col = self._scan_files(
                    candidates, schema, with_positions=True
                )
                matched = live.filter(pred)
                dv_adds, n_match = self._write_dv(
                    a,
                    matched.select(
                        F.col(src_col).alias("src"), F.col(pos_col).alias("pos")
                    ),
                    candidates,
                )
                if not n_match:
                    return None
                adds = []
                if assignments is not None:
                    adds = a.write(assigned(matched).coalesce(n_out), "rows", snap.schema)
                return _Commit(adds + dv_adds, checked=checks, info=n_match)
            src = self._scan_files(candidates, schema)
            n_match = src.filter(pred).count()
            if n_match == 0:
                return None
            if assignments is None:
                # SQL DELETE semantics: a row is deleted only when the
                # predicate is TRUE. ``~pred`` alone would also drop
                # NULL-evaluating rows (``DELETE WHERE x > 5`` must keep
                # rows with x IS NULL).
                out = src.filter(~F.coalesce(pred, F.lit(False)))
            else:
                out = assigned(src)
            adds = a.write(out.coalesce(n_out), "rows", snap.schema)
            return _Commit(
                adds, [f.path for f in candidates], checked=checks, info=n_match
            )

        version, n_match = self._occ(op, txn_id, plan)
        if version is None:
            return None, 0
        if mor:
            self._auto_materialize_dvs()
        return version, n_match

    def _write_dv(
        self, a: _Attempt, matches: DataFrame, candidates: list[FileAdd]
    ) -> tuple[list[FileAdd], int]:
        """Write ONE new deletion-vector parquet carrying ``matches``
        (NEW deletions, as (src=basename, pos) over LIVE rows of
        ``candidates``) unioned with the affected files' existing dv
        positions (the new dv supersedes the old), recorded on ``a``.
        Returns the dv-updated FileAdds and the number of new deletions;
        ([], 0) when nothing matched."""
        matches = matches.persist()
        try:
            new_counts = {
                r["src"]: r["n"]
                for r in matches.groupBy("src")
                .agg(F.count(F.lit(1)).alias("n"))
                .collect()
            }  # bounded by |candidate files|
            if not new_counts:
                return [], 0
            by_name = {os.path.basename(f.path): f for f in candidates}
            affected = [by_name[s] for s in sorted(new_counts)]
            dv_df = matches
            carry = [f for f in affected if f.dv_path]
            if carry:
                dv_df = dv_df.unionByName(self._dv_rows(carry))
            stage = os.path.join(a.stage, "dv")
            dv_df.coalesce(1).write.mode("overwrite").parquet(stage)
            os.makedirs(self.dv_dir, exist_ok=True)
            rel_dv = os.path.join("_dv", f"dv-{uuid.uuid4()}.parquet")
            a.dv = self._abs(rel_dv)
            shutil.move(os.path.join(stage, part_files(stage)[0]), a.dv)
            adds = [
                dc_replace(
                    f,
                    dv_path=rel_dv,
                    dv_rows=f.dv_rows + new_counts[os.path.basename(f.path)],
                )
                for f in affected
            ]
            return adds, sum(new_counts.values())
        finally:
            matches.unpersist()

    def _dv_flagged(self, snap: Snapshot) -> list[FileAdd]:
        """Files due for deletion-vector materialization — the
        self-enforcing half of the MoR contract. Eligible: deleted
        fraction ≥ DV_MATERIALIZE_FRACTION (Delta's ~50% purge
        heuristic) with at least DV_MATERIALIZE_MIN_ROWS dv'd rows
        (dust guard). Additionally, when table-wide pending dv rows
        exceed DV_PENDING_MAX_ROWS, the largest dv carriers are drafted
        — fraction bar or not — until the projected total is back under
        budget, so a pathological client issuing millions of MoR
        deletes without ever compacting cannot grow the dv side
        unboundedly."""
        dvd = [f for f in snap.files if f.dv_path]
        flagged = {
            f.path: f
            for f in dvd
            if f.dv_rows >= DV_MATERIALIZE_MIN_ROWS
            and f.rows > 0
            and f.dv_rows / f.rows >= DV_MATERIALIZE_FRACTION
        }
        remaining = sum(f.dv_rows for f in dvd) - sum(
            f.dv_rows for f in flagged.values()
        )
        if sum(f.dv_rows for f in dvd) > DV_PENDING_MAX_ROWS:
            for f in sorted(dvd, key=lambda f: (-f.dv_rows, f.path)):
                if remaining <= DV_PENDING_MAX_ROWS:
                    break
                if f.path not in flagged:
                    flagged[f.path] = f
                    remaining -= f.dv_rows
        return sorted(flagged.values(), key=lambda f: f.path)

    def _auto_materialize_dvs(self) -> int | None:
        """Post-MoR-commit maintenance pass: rewrite (dv-applied) every
        flagged file, clearing its dv — its own OCC commit, through the
        compaction plan. BEST-EFFORT by design: losing every retry leaves
        the files flagged (the next MoR commit or compaction pass picks
        them up) and never fails the DML that triggered the pass.
        Returns the commit version, or None when nothing was flagged or
        every retry lost."""
        try:
            return self._occ(
                "dv materialization",
                f"dvmat-{uuid.uuid4()}",
                self._rewrite_plan(lambda snap: [[f] for f in self._dv_flagged(snap)]),
            )[0]
        except CommitRetriesExhausted:
            return None

    def merge(
        self,
        source: DataFrame,
        key: str,
        txn_id: str | None = None,
        when_matched: dict[str, str] | None = None,
        insert_unmatched: bool = True,
        mode: str = "copy-on-write",
    ) -> tuple[int, int, int]:
        """MERGE on ``key``. Default semantics (upsert): rows in the
        table whose key appears in ``source`` are replaced by the source
        row; source rows with unseen keys are appended.

        ``mode='copy-on-write'`` (default, Delta's dataflow) rewrites
        every candidate file without its matched rows; untouched files
        carry over by reference. ``mode='merge-on-read'`` instead
        DELETION-VECTORS the matched target rows (no candidate file is
        rewritten) and appends the replacement/updated rows as fresh
        files — the Iceberg MoR upsert: commit cost O(matched + source
        rows), not O(touched bytes). Row-level results are identical
        (pinned by the model test's mode coin-flip); compaction later
        materializes the dvs.

        Delta-style clauses:
        - ``when_matched``: instead of replacing, matched rows are
          rewritten column-by-column from SQL expressions that may
          reference both sides as ``target.<col>`` and ``source.<col>``
          (e.g. ``{"x": "target.x + source.x", "v": "source.v"}``);
          unlisted columns keep the target value. Requires source keys to
          be unique (Delta raises on multi-matches too).
        - ``insert_unmatched=False``: WHEN NOT MATCHED rows are dropped
          instead of appended.

        Only files whose [min,max] range for ``key`` intersects the
        source's key range are rewritten — everything else carries over
        by reference. Returns (new_version, rows_updated, rows_inserted).

        The source is materialized once (it is read for its key range,
        the joins, and the append)."""
        from pyspark.storagelevel import StorageLevel

        if mode not in ("copy-on-write", "cow", "merge-on-read", "mor"):
            raise ValueError(f"unknown merge mode {mode!r}")
        mor = mode in ("merge-on-read", "mor")
        txn_id = txn_id or f"merge-{uuid.uuid4()}"
        prior = self.log.find_txn(txn_id)
        if prior is not None:
            return prior, 0, 0

        fields = self.fields
        if key not in {f.name for f in fields}:
            raise ValueError(f"merge key {key!r} not in table schema")
        if when_matched:
            unknown = set(when_matched) - {f.name for f in fields}
            if unknown:
                raise ValueError(f"when_matched unknown column(s): {sorted(unknown)}")
        source = _guarded(source, fields, {}).persist(StorageLevel.MEMORY_AND_DISK)
        try:
            if when_matched is not None:
                dups = (
                    source.groupBy(key)
                    .agg(F.count(F.lit(1)).alias("n"))
                    .filter(F.col("n") > 1)
                    .limit(1)
                    .count()
                )
                if dups:
                    raise ValueError(
                        "when_matched merge requires unique source keys "
                        "(a target row matched multiple source rows)"
                    )
            bounds = source.agg(
                F.min(key).alias("lo"),
                F.max(key).alias("hi"),
                F.count(F.lit(1)).alias("n"),
            ).collect()[0]
            if bounds["n"] == 0:
                raise ValueError("merge source is empty")

            def _overlaps(f: FileAdd) -> bool:
                mn, mx = f.min_values.get(key), f.max_values.get(key)
                if mn is None or mx is None:
                    return True  # no stats: stay conservative
                try:
                    return not (mx < bounds["lo"] or mn > bounds["hi"])
                except TypeError:
                    return True

            def plan(snap: Snapshot, a: _Attempt) -> _Commit:
                # The schema and the CHECK set are this attempt's: merge
                # rewrites the candidate files, so rewriting through the
                # entry-time schema after a concurrent add_column would
                # physically drop the new column's values from every
                # rewritten file and the commit would revert the schema
                # via latest-schema-wins replay; and a CHECK committed
                # while merge retries must gate the rows it writes. The
                # source rows are re-aligned to this schema: a
                # concurrent column reads NULL in merge-written rows.
                fields = snap.schema
                schema = to_spark_schema(fields)
                checks = self._checks(snap)
                news_src = _guarded(
                    source.withColumns(
                        {f.name: F.lit(None) for f in fields if f.name not in source.columns}
                    ),
                    fields,
                    checks,
                )
                candidates = [f for f in snap.files if _overlaps(f)]
                n_out = max(1, len(candidates))
                n_updated = 0
                adds: list[FileAdd] = []
                dv_adds: list[FileAdd] = []
                # dv-aware (and [] returns an empty frame): neither mode
                # may resurrect already-deleted rows of dv-carrying
                # files. Positions ride along for the merge-on-read
                # branch; ``cur`` is the live-row view both modes share.
                live, src_col, pos_col = self._scan_files(
                    candidates, schema, with_positions=True
                )
                cur = live.drop(src_col, pos_col)
                src_keys = source.select(key).distinct()
                if candidates:
                    if mor:
                        # Matched target rows become dv entries instead
                        # of a candidate-file rewrite; their replacement
                        # rows (source / when_matched output) append as
                        # fresh files below.
                        matched_pos = live.join(src_keys, key, "left_semi").select(
                            F.col(src_col).alias("src"), F.col(pos_col).alias("pos")
                        )
                        dv_adds, n_updated = self._write_dv(a, matched_pos, candidates)
                    else:
                        n_updated = cur.join(src_keys, key, "left_semi").count()
                        kept = cur.join(src_keys, key, "left_anti")
                        adds += a.write(kept.coalesce(n_out), "kept", fields)
                    if when_matched is not None:
                        matched = cur.alias("target").join(
                            source.alias("source"),
                            F.col(f"target.{key}") == F.col(f"source.{key}"),
                        )
                        # when_matched assignments produce NEW values, so
                        # they pass the same guard as inserts. Like
                        # UPDATE's, each is parsed on its own by F.expr:
                        # caller text never enters the guard's SQL, where
                        # text closing its parentheses would escape the
                        # cast and the NOT NULL check.
                        updated = _guarded(
                            matched.select(
                                *[
                                    (
                                        F.expr(when_matched[f.name])
                                        if f.name in when_matched
                                        else F.col(f"target.{_ident(f.name)}")
                                    ).alias(f.name)
                                    for f in fields
                                ]
                            ),
                            fields,
                            checks,
                        )
                        adds += a.write(updated.coalesce(n_out), "upd", fields)
                # WHEN NOT MATCHED rows (or the whole source for replace
                # semantics), written at natural parallelism — a large
                # upsert source must not serialize through one task.
                if when_matched is None:
                    news = news_src if insert_unmatched else news_src.join(
                        cur, key, "left_semi"
                    )
                    # rows_inserted = source rows whose key has no match
                    # in the target. Counted on the SOURCE side — the
                    # matched-target count (n_updated) over-counts when
                    # one source key matches several target rows.
                    n_inserted = (
                        bounds["n"] - source.join(cur, key, "left_semi").count()
                        if insert_unmatched
                        else 0
                    )
                else:
                    news = (
                        news_src.join(cur, key, "left_anti")
                        if insert_unmatched
                        else None
                    )
                    n_inserted = news.count() if news is not None else 0
                if news is not None:
                    adds += a.write(news, "src", fields)
                return _Commit(
                    adds + dv_adds,
                    [] if mor else [f.path for f in candidates],
                    checked=checks,
                    info=(n_updated, n_inserted),
                )

            version, (n_updated, n_inserted) = self._occ("merge", txn_id, plan)
        finally:
            source.unpersist()
        if mor and n_updated:
            self._auto_materialize_dvs()
        return version, n_updated, n_inserted

    def add_columns(self, new_fields: list[Field], txn_id: str | None = None) -> int:
        """Additive schema evolution: append nullable columns. Existing
        files are NOT rewritten — the snapshot read applies the latest
        schema (replay is already latest-schema-wins, as the reference's
        log replay is: ``transaction_log.go:191-194``) and Parquet scans
        surface missing columns as nulls."""
        txn_id = txn_id or f"alter-{uuid.uuid4()}"
        prior = self.log.find_txn(txn_id)
        if prior is not None:
            return prior
        for f in new_fields:
            if not f.nullable:
                raise SchemaError(
                    f"new column {f.name!r} must be nullable (existing rows have no value)"
                )

        def plan(snap: Snapshot, a: _Attempt) -> _Commit:
            # Schema and commit base come from the attempt's ONE
            # snapshot: reading self.fields and the latest version
            # separately would let a concurrent schema commit land
            # between the two, and this commit would silently revert the
            # winner's column via latest-schema-wins replay. Racing an
            # identical column name still raises.
            names = {f.name for f in snap.schema}
            for f in new_fields:
                if f.name in names:
                    raise SchemaError(f"column {f.name!r} already exists")
            merged = list(snap.schema) + list(new_fields)
            validate_schema(merged)
            return _Commit(schema=merged)

        return self._occ("add_columns", txn_id, plan)[0]

    def insert_path(
        self, path: str, fmt: str = "parquet", txn_id: str | None = None, **options
    ) -> int:
        """Reference InsertData: load external file(s) then append
        (``table_service.go:121-244``; CSV/JSON intent at ``:61``)."""
        reader = self.spark.read
        if fmt == "csv":
            df = reader.options(header=True, inferSchema=True, **options).csv(path)
        elif fmt == "json":
            df = reader.options(**options).json(path)
        elif fmt == "orc":
            df = reader.options(**options).orc(path)
        else:
            df = reader.options(**options).parquet(path)
        return self.insert(df, txn_id=txn_id)

    def _promote_staged(self, stage: str, fields: list[Field]) -> list[FileAdd]:
        """Move staged part files into data/ with reference-style names and
        harvest footer stats of ``fields`` (``table_service.go:455-474``).
        A part file whose footer reports 0 rows (Spark writes one when a
        write's first partition is empty) is deleted, not committed."""
        adds: list[FileAdd] = []
        for i, fname in enumerate(part_files(stage)):
            src = os.path.join(stage, fname)
            rows, mins, maxs = _footer_stats(src, fields)
            if rows == 0:
                os.remove(src)
                continue
            dst_name = f"part-{i:05d}-{uuid.uuid4()}.parquet"
            dst = os.path.join(self.data_dir, dst_name)
            shutil.move(src, dst)
            adds.append(
                FileAdd(
                    path=os.path.join("data", dst_name),
                    rows=rows,
                    size=os.path.getsize(dst),
                    min_values=mins,
                    max_values=maxs,
                )
            )
        return adds

    def _sweep_stale_stages(self) -> None:
        """Next-writer recovery from a crashed predecessor: remove
        staging dirs older than TMP_SWEEP_AGE_SECONDS (a crash between
        stage-write and promote leaves its ``_tmp/<txn>/`` behind; the
        reference likewise cleans per-attempt staging,
        ``table_service.go:477-494``). Never touches a live writer's
        stage — those are seconds old."""
        now = time.time()
        try:
            names = os.listdir(self.tmp_dir)
        except FileNotFoundError:
            return
        for dname in names:
            full = os.path.join(self.tmp_dir, dname)
            try:
                if now - os.stat(full).st_mtime < TMP_SWEEP_AGE_SECONDS:
                    continue
            except FileNotFoundError:
                continue
            shutil.rmtree(full, ignore_errors=True)

    def _remove_adds(self, adds: list[FileAdd]) -> None:
        """Reclaim files promoted into data/ whose commit never landed
        (conflict re-plan or terminal failure) — they are invisible to
        every snapshot, so deleting them is safe for all readers."""
        for add in adds:
            try:
                os.remove(os.path.join(self.dir, add.path))
            except FileNotFoundError:
                pass

    def _violated_constraint(
        self, adds: list[FileAdd], constraints: dict[str, str], fields: list[Field]
    ) -> str | None:
        """Name of the first CHECK constraint any row in ``adds``
        violates, else None. ONE aggregate scan evaluates every
        constraint (post-cast values — the files were written through
        ``_guarded``, so semantics match the in-write guard)."""
        if not constraints or not adds:
            return None
        names = sorted(constraints)
        row = (
            self.spark.read.schema(to_spark_schema(fields))
            .parquet(*[os.path.join(self.dir, a.path) for a in adds])
            .selectExpr(
                *[f"count_if({_violates(constraints[n])}) AS {_ident(n)}" for n in names]
            )
            .collect()[0]
        )
        return next((n for n in names if row[n]), None)

    def _recheck_constraints(
        self, adds: list[FileAdd], enforced: dict[str, str], snap: Snapshot
    ) -> None:
        """If ``snap``'s CHECK set differs from the one ``adds`` were
        written under (a racing ``add_constraint`` won the OCC),
        validate them against the constraints it introduced before
        committing."""
        current = self._checks(snap)
        delta = {n: e for n, e in current.items() if enforced.get(n) != e}
        bad = self._violated_constraint(adds, delta, snap.schema)
        if bad:
            raise ValueError(
                f"CHECK constraint {bad!r} (added concurrently) violated "
                f"by this write: ({current[bad]})"
            )

    def _occ(
        self,
        op: str,
        txn: str,
        plan: Callable[[Snapshot, _Attempt], _Commit | None],
        staged: list[FileAdd] = (),
    ) -> tuple[int | None, object]:
        """The OCC commit loop every table write goes through
        (``transaction_manager.go:124-233``). Each attempt takes ONE
        snapshot and hands it to ``plan``, which stages the attempt's
        files and returns what to commit, or None for "nothing to do";
        the commit is made against that snapshot's version and (unless
        the plan names another) its schema, after the new rows are
        re-checked against any CHECK the plan did not enforce.

        An attempt that loses the race, or raises in its plan or its
        commit, is undone: the data files and the dv file it promoted
        are removed (``_Attempt.discard``); every attempt's
        ``_tmp/<txn>/`` stage is removed once it ends. A lost race backs
        off ``0.01 * (attempt + 1)`` s and re-plans; after
        COMMIT_MAX_RETRIES retries the write raises
        CommitRetriesExhausted. ``staged``: files written once before
        the loop and committed by every attempt (an insert's), removed
        only when the write fails for good.

        Returns (version, the plan's ``info``), or (None, None) when the
        plan had nothing to do."""
        last: Exception | None = None
        for n in range(COMMIT_MAX_RETRIES + 1):
            snap = self.log.snapshot()
            a = _Attempt(self, txn)
            try:
                c = plan(snap, a)
                if c is None:
                    return None, None
                if c.checked is not None:
                    self._recheck_constraints([*a.files, *staged], c.checked, snap)
                extra = {} if c.constraints is None else {"constraints": c.constraints}
                version = self.log.commit(
                    snap.version,
                    txn,
                    snap.schema if c.schema is None else c.schema,
                    c.adds,
                    c.removes,
                    **extra,
                )
                return version, c.info
            except CommitConflictError as exc:
                a.discard()
                last = exc
            except BaseException:
                # A commit that failed after its entry landed (say, in
                # the checkpoint write) owns its files.
                if self.log.find_txn(txn) is None:
                    a.discard()
                    self._remove_adds(staged)
                raise
            finally:
                shutil.rmtree(a.stage, ignore_errors=True)
            time.sleep(0.01 * (n + 1))
        self._remove_adds(staged)
        raise CommitRetriesExhausted(
            f"{op} on {self.name!r} lost {COMMIT_MAX_RETRIES + 1} OCC races"
        ) from last

    # -- read path -----------------------------------------------------

    def snapshot(self, version: int | None = None) -> Snapshot:
        return self.log.snapshot(version)

    # -- deletion-vector-aware scans ------------------------------------

    def _abs(self, path: str) -> str:
        # Shallow-clone FileAdds carry absolute paths; os.path.join
        # passes an absolute second argument through unchanged.
        return os.path.join(self.dir, path)

    def _dv_rows(self, files: list[FileAdd]) -> DataFrame:
        """Deleted (src=data-file basename, pos=row index) rows for the
        given dv-carrying files. Reading the UNION of their dv files and
        filtering src to the requested basenames is sound even when a dv
        file is shared across commits: a file's deleted-position set
        only GROWS until compaction materializes it (every new dv unions
        the old positions), so stale entries for a src in an older dv
        file are always a subset of its current set; and rewritten files
        get fresh uuid basenames, so a name never maps to two files."""
        names = [os.path.basename(f.path) for f in files]
        paths = sorted({self._abs(f.dv_path) for f in files})
        return (
            self.spark.read.schema("src string, pos long")
            .parquet(*paths)
            .where(F.col("src").isin(names))
        )

    def _scan_files(
        self, files: list[FileAdd], schema, with_positions: bool = False
    ) -> DataFrame:
        """Scan a file list with deletion vectors APPLIED: plain files
        read directly; dv-carrying files read with parquet row indexes
        (``_metadata.row_index``) and anti-joined against their deleted
        positions. The dv side broadcasts — it is bounded by
        deleted-but-not-yet-materialized rows, and compaction exists
        precisely to keep that bounded (at larger dv volumes the
        per-file bitmap application in sources/pydatasource.py is the
        shape to scale, as Delta's DV readers do).

        ``with_positions=True`` returns ``(df, src_col, pos_col)``: the
        frame keeps a file-basename column and a row-index column on
        every row (the merge-on-read write paths build new dv entries
        from them). The column NAMES are generated to avoid colliding
        with user columns — field names are unrestricted, so a literal
        ``_src`` could silently shadow (and then drop) a data column."""
        names = set(schema.fieldNames())
        src_col, pos_col = "_dv_src", "_dv_pos"
        while src_col in names:
            src_col += "_"
        while pos_col in names:
            pos_col += "_"
        if not files:
            df = self.spark.createDataFrame([], schema)
            if with_positions:
                df = df.withColumn(src_col, F.lit(None).cast("string")).withColumn(
                    pos_col, F.lit(None).cast("long")
                )
                return df, src_col, pos_col
            return df

        def _scan(fs: list[FileAdd], need_meta: bool) -> DataFrame:
            df = self.spark.read.schema(schema).parquet(
                *[self._abs(f.path) for f in fs]
            )
            if need_meta:
                df = df.withColumn(
                    src_col,
                    F.element_at(F.split(F.col("_metadata.file_path"), "/"), -1),
                ).withColumn(pos_col, F.col("_metadata.row_index"))
            return df

        plain = [f for f in files if not f.dv_path]
        dvd = [f for f in files if f.dv_path]
        parts = []
        if plain:
            parts.append(_scan(plain, with_positions))
        if dvd:
            df = _scan(dvd, True)
            dv = self._dv_rows(dvd)
            # The dv side broadcasts only while it is broadcast-sane:
            # pending (deleted-but-not-materialized) rows are tracked
            # exactly in the log as dv_rows, so the bound costs no scan.
            # Above DV_BROADCAST_MAX_ROWS the anti-join runs as a
            # shuffled join instead of pushing an over-large build side
            # through the driver — the self-enforcing half of the
            # "compaction keeps it bounded" contract (the per-file
            # bitmap application in sources/pydatasource.py is the
            # fully task-local shape at Delta scale).
            if sum(f.dv_rows for f in dvd) <= DV_BROADCAST_MAX_ROWS:
                dv = F.broadcast(dv)
            else:
                # Explicit sort-merge: without the hint Catalyst's
                # size estimate of the (tiny-on-disk, wide-in-memory)
                # dv parquet could still pick a broadcast build.
                dv = dv.hint("merge")
            df = df.join(
                dv,
                (df[src_col] == dv["src"]) & (df[pos_col] == dv["pos"]),
                "left_anti",
            )
            if not with_positions:
                df = df.drop(src_col, pos_col)
            parts.append(df)
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        if with_positions:
            return out, src_col, pos_col
        return out

    def read(
        self,
        version: int | None = None,
        prune_filter: str | None = None,
        timestamp_ms: int | None = None,
    ) -> DataFrame:
        """Snapshot-isolated read. The file list is resolved ONCE from the
        log (never by directory listing), so concurrent commits cannot
        change what this DataFrame sees — the reference's snapshot
        isolation guarantee (``pkg/coordinator/snapshot_isolation.go``).

        ``timestamp_ms`` resolves Delta-style ``timestampAsOf``: the last
        version committed at or before that wall-clock instant.

        ``prune_filter`` (reference filter grammar) additionally drops
        whole files via log min/max stats (``Snapshot.scan``) before
        Spark ever lists them — at 100 TB this is the difference between
        touching every object and touching the few that can match.
        """
        if timestamp_ms is not None:
            if version is not None:
                raise ValueError("pass version OR timestamp_ms, not both")
            version = self.log.version_at_timestamp(timestamp_ms)
        snap = self.log.snapshot(version)
        return self._scan_files(snap.scan(prune_filter), to_spark_schema(snap.schema))

    def diff(self, v_from: int, v_to: int | None = None) -> DataFrame:
        """Change-data-feed read: the multiset row difference between two
        versions, tagged ``_change_type`` in {insert, delete} (an update
        surfaces as delete+insert, as in Delta's CDF without per-commit
        change files).

        File-pruned: rows in data files common to BOTH snapshots cancel
        in the multiset difference by construction, so only the files
        added or removed between the versions are read — for the common
        case (an append or a compaction-sized rewrite between nearby
        versions) the diff touches the changed files, never the table.
        The exceptAll pair is two hash shuffles over just those rows.

        ``v_from=0`` is the empty pre-creation snapshot (Delta CDF's
        ``startingVersion=0`` convention): every row in ``v_to`` is an
        insert. It must NOT fall through to ``log.snapshot``, whose
        0-means-latest convention would silently diff latest→v_to."""
        if v_from < 0:
            raise ValueError(f"v_from must be >= 0, got {v_from}")
        new_snap = self.log.snapshot(v_to)
        schema = to_spark_schema(new_snap.schema)
        old_files = [] if v_from == 0 else self.log.snapshot(v_from).files

        # A file is "changed" when its (path, dv) PAIR differs — a
        # merge-on-read delete keeps the path but swaps the deletion
        # vector, and its deleted rows must surface in the diff. Both
        # sides scan dv-AWARE (each with its own version's dv), so rows
        # live in both versions cancel in the multiset difference and a
        # dv-only change nets exactly the newly-deleted rows.
        def _key(f: FileAdd):
            return (f.path, f.dv_path)

        old_keys = {_key(f) for f in old_files}
        new_keys = {_key(f) for f in new_snap.files}
        old_only = self._scan_files(
            sorted(
                (f for f in old_files if _key(f) not in new_keys),
                key=lambda f: f.path,
            ),
            schema,
        )
        new_only = self._scan_files(
            sorted(
                (f for f in new_snap.files if _key(f) not in old_keys),
                key=lambda f: f.path,
            ),
            schema,
        )
        # Columns added between versions read as NULL from old files
        # (parquet schema merge by name), so the diff is well-typed
        # under additive evolution.
        added = new_only.exceptAll(old_only).withColumn(
            "_change_type", F.lit("insert")
        )
        removed = old_only.exceptAll(new_only).withColumn(
            "_change_type", F.lit("delete")
        )
        return added.unionByName(removed)

    # -- retention -----------------------------------------------------

    def vacuum(
        self, retain_versions: int = 1, min_age_seconds: float = 3600.0
    ) -> dict:
        """Reclaim data files not referenced by any of the newest
        ``retain_versions`` versions (Delta-style VACUUM; the reference
        never garbage-collects, it only cleans per-attempt staging —
        ``pkg/coordinator/table_service.go:477-494``).

        Safety properties:
        - retained versions stay byte-identical (only files outside their
          union are touched), so a concurrent reader pinned at any
          retained version is unaffected;
        - files younger than ``min_age_seconds`` are never deleted, which
          protects a concurrent writer's promoted-but-not-yet-committed
          files (the same race Delta guards with its retention window);
        - time travel to vacuumed versions becomes unreadable — that is
          the documented trade the user opts into.

        Also sweeps crash-leftover ``_tmp/`` staging dirs older than the
        age threshold. Returns deletion stats."""
        if retain_versions < 1:
            raise ValueError("retain_versions must be >= 1")
        versions = self.log.list_versions()
        retained = versions[-retain_versions:]
        referenced: set[str] = set()
        referenced_dv: set[str] = set()
        for v in retained:
            snap = self.log.snapshot(v)
            referenced.update(snap.file_paths)
            referenced_dv.update(f.dv_path for f in snap.files if f.dv_path)
        now = time.time()
        deleted_files = freed_bytes = 0

        def _sweep_dir(dirpath: str, prefix: str, keep: set[str]) -> None:
            nonlocal deleted_files, freed_bytes
            if not os.path.isdir(dirpath):
                return
            for fname in os.listdir(dirpath):
                if os.path.join(prefix, fname) in keep:
                    continue
                full = os.path.join(dirpath, fname)
                try:
                    st = os.stat(full)
                except FileNotFoundError:
                    continue
                if now - st.st_mtime < min_age_seconds:
                    continue  # possibly a concurrent writer's in-flight file
                try:
                    os.remove(full)
                    deleted_files += 1
                    freed_bytes += st.st_size
                except FileNotFoundError:
                    pass

        _sweep_dir(self.data_dir, "data", referenced)
        # Deletion-vector files unreferenced by every retained version
        # (superseded by a later dv, or materialized by compaction).
        _sweep_dir(self.dv_dir, "_dv", referenced_dv)
        removed_tmp = 0
        for dname in os.listdir(self.tmp_dir):
            full = os.path.join(self.tmp_dir, dname)
            try:
                if now - os.stat(full).st_mtime < min_age_seconds:
                    continue
            except FileNotFoundError:
                continue
            shutil.rmtree(full, ignore_errors=True)
            removed_tmp += 1
        # Commit-staging leftovers: a crash between writing <v>.json.*.tmp
        # and the hard-link leaves the tmp file behind (log.commit).
        for fname in os.listdir(self.log.log_dir):
            if ".tmp" not in fname:
                continue
            full = os.path.join(self.log.log_dir, fname)
            try:
                if now - os.stat(full).st_mtime >= min_age_seconds:
                    os.remove(full)
                    removed_tmp += 1
            except FileNotFoundError:
                pass
        return {
            "deleted_files": deleted_files,
            "freed_bytes": freed_bytes,
            "removed_tmp_dirs": removed_tmp,
            "retained_versions": retained,
        }

    # -- compaction ----------------------------------------------------

    def should_compact(self, snap: Snapshot | None = None) -> bool:
        """The reference's ShouldCompact trigger: ≥3 small files AND
        small-file count over 10% of the snapshot
        (``compaction_service.go:315-332``)."""
        snap = snap if snap is not None else self.log.snapshot()
        if not snap.files:
            return False
        small = [f for f in snap.files if f.size < COMPACT_MIN_FILE_SIZE]
        return (
            len(small) >= COMPACT_MIN_CANDIDATES
            and len(small) / len(snap.files) > COMPACT_SMALL_RATIO
        )

    def compaction_candidates(
        self, snap: Snapshot, files: list[FileAdd] | None = None
    ) -> list[list[FileAdd]]:
        """Greedy bin-packing of small files into ≤target-size groups
        (``compaction_service.go:79-141,144-200``). ``files`` restricts
        the candidate pool (the ``where``-scoped subset); default = the
        whole snapshot."""
        pool = files if files is not None else snap.files
        small = [f for f in pool if f.size < COMPACT_MIN_FILE_SIZE]
        groups: list[list[FileAdd]] = []
        if len(small) >= COMPACT_MIN_CANDIDATES:
            cur: list[FileAdd] = []
            cur_size = 0
            for f in sorted(small, key=lambda f: f.path):
                if cur and cur_size + f.size > COMPACT_TARGET_FILE_SIZE:
                    groups.append(cur)
                    cur, cur_size = [], 0
                cur.append(f)
                cur_size += f.size
            if len(cur) >= 2:
                groups.append(cur)
            groups = [g for g in groups if len(g) >= 2]
        # A file carrying a deletion vector is ALWAYS a candidate
        # (singleton group allowed): its rewrite is what materializes
        # the dv — the merge-on-read contract's second half.
        grouped = {f.path for g in groups for f in g}
        groups.extend(
            [f]
            for f in sorted(pool, key=lambda f: f.path)
            if f.dv_path and f.path not in grouped
        )
        return groups

    def compact(
        self,
        txn_id: str | None = None,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        where: str | None = None,
    ) -> int | None:
        """Rewrite small files into big ones; atomic adds+removes commit;
        on OCC conflict re-plan from the fresh snapshot and retry ≤3
        (``compaction_service.go:336-496,712-820``). Old versions remain
        readable (property 30, ``design.md:401-403``). Returns the new
        version, or None if nothing to compact; raises
        CommitRetriesExhausted when every attempt loses its race.

        ``cluster_by`` switches to CLUSTERED compaction (Delta's
        ``OPTIMIZE ... ZORDER BY`` analogue for linear keys): ALL
        current files are rewritten in one group, range-partitioned and
        sorted by the cluster columns into ~target-size files — each
        output covers a contiguous key slice, so min/max stats prune
        the clustered columns like partitions on every later read. The
        storage-side lever for repeated selective scans at 100 TB: pay
        one clustered rewrite, then every query prunes.

        ``zorder_by`` is the multi-dimensional variant (Delta's actual
        ZORDER BY): interleaved-bit quantile-bucket key, so pruning
        works on every listed column — see ``_zorder_value``.

        ``where`` scopes WHICH FILES are eligible (Delta's
        ``OPTIMIZE ... WHERE`` at file granularity): only files whose
        min/max stats possibly match the predicate (``Snapshot.scan``,
        the file selection every read uses) are rewritten; everything else
        is left byte-identical in place. Rows are never filtered —
        a rewritten file keeps ALL its rows, matching or not, so the
        table's data is unchanged (only its layout). The hot-partition
        lever: re-cluster last week's files without paying a full-table
        rewrite. Composes with ``cluster_by``/``zorder_by`` (the scoped
        subset is rewritten in the clustered layout)."""

        def groups(snap: Snapshot) -> list[list[FileAdd]]:
            _validate_cluster_args(snap.schema, cluster_by, zorder_by)
            pool = snap.scan(where)
            if cluster_by or zorder_by:
                return [pool] if pool else []
            return self.compaction_candidates(snap, files=pool)

        # A caller-supplied txn id (the session's compaction run id, so
        # log/status/commit lines correlate) names every attempt: a lost
        # attempt never registered it.
        return self._occ(
            "compact",
            txn_id or f"compact-{uuid.uuid4()}",
            self._rewrite_plan(groups, cluster_by, zorder_by),
        )[0]

    def _rewrite_plan(
        self,
        groups_of: Callable[[Snapshot], list[list[FileAdd]]],
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
    ) -> Callable[[Snapshot, _Attempt], _Commit | None]:
        """Plan that rewrites each file group ``groups_of(snap)`` names
        into fresh files (one per group, or the clustered layout) and
        removes the group's files; nothing to do when it names none.
        The scan is dv-aware: the rewrite drops deleted rows and its
        files carry no dv, which is what materializes deletion vectors."""

        def plan(snap: Snapshot, a: _Attempt) -> _Commit | None:
            groups = groups_of(snap)
            if not groups:
                return None
            schema = to_spark_schema(snap.schema)
            adds: list[FileAdd] = []
            for gi, group in enumerate(groups):
                df = self._scan_files(group, schema)
                if cluster_by or zorder_by:
                    n_out = max(
                        1, -(-sum(f.size for f in group) // COMPACT_TARGET_FILE_SIZE)
                    )
                    df = _cluster_layout(
                        df, n_out, cluster_by, zorder_by,
                        {f.name: f.type for f in snap.schema},
                    )
                else:
                    df = df.coalesce(1)
                adds += a.write(df, f"g{gi}", snap.schema)
            if cluster_by or zorder_by:
                adds = _fill_partition_from_stats(adds, cluster_by or zorder_by)
            return _Commit(adds, [f.path for g in groups for f in g])

        return plan

    def restore(self, version: int, txn_id: str | None = None) -> int:
        """Delta-style RESTORE TABLE ... TO VERSION AS OF: make the
        CURRENT state identical to snapshot ``version`` via one new
        forward commit — history is never rewritten, so time travel to
        every interim version keeps working and the restore itself is
        a versioned, diffable event. adds = target files not visible
        now; removes = visible files not in the target; the commit also
        carries the target's schema AND its CHECK-constraint set
        (restore restores both, Delta semantics). Idempotent per
        ``txn_id``; on OCC conflict the diff
        recomputes against the fresh snapshot. Raises if a needed data
        file was vacuumed away (the same guard Delta applies)."""
        txn = txn_id or f"restore-{uuid.uuid4()}"
        prior = self.log.find_txn(txn)
        if prior is not None:
            return prior
        target = self.log.snapshot(version)  # raises on unknown version
        missing = [
            p
            for f in target.files
            for p in ([f.path] + ([f.dv_path] if f.dv_path else []))
            if not os.path.exists(os.path.join(self.dir, p))
        ]
        if missing:
            raise ValueError(
                f"version {version} is no longer restorable: "
                f"{len(missing)} data file(s) vacuumed (e.g. {missing[0]!r})"
            )

        def plan(snap: Snapshot, a: _Attempt) -> _Commit:
            # Diff on the (path, dv) PAIR: a file whose deletion vector
            # changed since the target version must be re-added with the
            # target's dv pointer (possibly none — that UNDOES a
            # merge-on-read delete), which log.commit allows for
            # dv-changing re-adds. Constraints restore with the data
            # (Delta versions CHECK constraints in the log; so do we).
            cur_keys = {(f.path, f.dv_path) for f in snap.files}
            return _Commit(
                [f for f in target.files if (f.path, f.dv_path) not in cur_keys],
                sorted(set(snap.file_paths) - set(target.file_paths)),
                schema=target.schema,
                constraints=dict(target.constraints),
            )

        return self._occ(f"restore to v{version}", txn, plan)[0]
