"""LakehouseSession: the user-facing control plane.

Plays the role of the reference's coordinator API surface
(``pkg/coordinator/rest_api.go:44-76`` route table): create table, insert
data, structured query, SQL query, versions/time travel, compaction —
minus the HTTP/gRPC transport (this is a library; wrap it in any server).
Job tracking (ids + status + row metrics) mirrors
``QueryExecutionMetrics`` (``distributed_query_executor.go:510-524``).
"""

from __future__ import annotations

import os
import re
import shutil
import threading
import time
import uuid
from dataclasses import dataclass, field as dc_field

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import ArrowTableToRowsConversion
from pyspark.sql.session import _monkey_patch_RDD
from pyspark.sql.types import StructType

from mini_lakehouse_control_plane_executor_spark.observability import log as _slog
from mini_lakehouse_control_plane_executor_spark.observability import span as _span
from mini_lakehouse_control_plane_executor_spark.plans.query import SimpleQuery, apply_query
from mini_lakehouse_control_plane_executor_spark.table.schema import (
    Field,
    SchemaError,
    to_spark_schema,
    validate_table_name,
)
from mini_lakehouse_control_plane_executor_spark.table import table as table_module
from mini_lakehouse_control_plane_executor_spark.table.table import LakehouseTable


@dataclass
class JobInfo:
    job_id: str
    status: str  # PENDING | RUNNING | COMPLETED | FAILED
    started_ms: int
    finished_ms: int | None = None
    error: str | None = None
    # Mirrors the reference's QueryExecutionMetrics
    # (distributed_query_executor.go:510-524): input files/bytes/rows from
    # the pinned snapshot plan, output rows + Spark job/task counts from
    # execution.
    metrics: dict = dc_field(default_factory=dict)
    extra: dict = dc_field(default_factory=dict)
    # Set by the runner AFTER all terminal bookkeeping (span_end,
    # job_completed/job_failed log records, totals) — the signal
    # job_wait blocks on, so a waiter never observes a finished status
    # with the lifecycle records still unflushed.
    done: threading.Event = dc_field(default_factory=threading.Event)

    def to_json(self) -> dict:
        return {
            "job_id": self.job_id,
            "status": self.status,
            "started_ms": self.started_ms,
            "finished_ms": self.finished_ms,
            "error": self.error,
            "metrics": self.metrics,
        }


def _rfc3339(ms: int) -> str:
    """Epoch-ms → RFC3339 UTC — the JSON shape Go's ``time.Time``
    marshals to, which the reference's QueryExecutionMetrics uses for
    start_time/end_time (``distributed_query_executor.go:514-515``)."""
    from datetime import datetime, timezone

    return (
        datetime.fromtimestamp(ms / 1000.0, tz=timezone.utc)
        .isoformat(timespec="milliseconds")
        .replace("+00:00", "Z")
    )


COMPACT_MAX_CONCURRENT = 3  # compaction_service.go:654

# Async results are written to <root>/results/<job_id>/ as parquet (the
# reference's results endpoint returns a path into results/<job_id> —
# rest_api.go:385-410, query_planner.go:203); only a bounded preview is
# kept in driver memory, so a SELECT * over a large table cannot OOM the
# driver.
RESULT_PREVIEW_ROWS = 100

# Finished jobs beyond this count are evicted oldest-first (JobInfo and
# result directory) so a long-lived server's job map is bounded.
MAX_FINISHED_JOBS = 200
# Spark's status tracker applies scheduler events asynchronously; a
# job's counters are read once the tracker shows all its Spark jobs
# ended, waiting at most this long.
TRACKER_SETTLE_S = 2.0


def _read_result(
    path: str, schema: StructType, limit: int | None = None
) -> tuple[int, list[dict]]:
    """(row count, first ``limit`` rows) of a result directory; all rows
    when ``limit`` is None. Reads the part files its one Spark write left,
    on the driver with pyarrow, in write order, and starts no Spark job:
    the count is the sum of the footers' ``num_rows``, and reading stops
    once ``limit`` rows are in hand. Rows go through Spark's own
    Arrow-to-Row conversion (the one Spark Connect's ``collect`` uses), so
    timestamps, dates, NaN and nulls come back as ``collect()`` returns
    them."""
    count, rows, left = 0, [], limit
    for name in table_module.part_files(path):
        with pq.ParquetFile(os.path.join(path, name)) as pf:
            count += pf.metadata.num_rows
            if left == 0:
                continue
            # 65,536 rows is pyarrow's own default batch size.
            for batch in pf.iter_batches(batch_size=left or 65_536):
                part = pa.Table.from_batches([batch]).slice(0, left)
                rows += ArrowTableToRowsConversion.convert(part, schema)
                if left is not None:
                    left -= part.num_rows
                    if left == 0:
                        break
    return count, [r.asDict(recursive=True) for r in rows]


class LakehouseSession:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = root
        os.makedirs(os.path.join(root, "tables"), exist_ok=True)
        self._jobs: dict[str, JobInfo] = {}
        # Guards _jobs MAP mutations/iterations (HTTP handler threads
        # insert, _run_job threads evict, /metrics scrapes iterate —
        # an unguarded scrape can see "dict changed size during
        # iteration"). JobInfo field updates stay lock-free: single
        # writer (the job's own thread), readers tolerate staleness.
        self._jobs_mu = threading.Lock()
        self._tables: dict[str, LakehouseTable] = {}
        # name -> {"txn_id", "started_ms", "status"} while a compaction
        # runs (the reference's activeCompactions map,
        # compaction_service.go:907-923).
        self._compacting: dict[str, dict] = {}
        self._compact_mu = threading.Lock()
        self._compact_slots = threading.BoundedSemaphore(COMPACT_MAX_CONCURRENT)
        # Cumulative observability counters (pkg/observability/metrics.go):
        # monotonic across job eviction, unlike scrape-time derivation
        # from the bounded _jobs map.
        self._totals_mu = threading.Lock()
        self._totals: dict[str, float] = {
            "queries_completed": 0,
            "queries_failed": 0,
            "query_duration_seconds_sum": 0.0,
            "tasks_completed": 0,
            "input_rows": 0,
            "input_bytes": 0,
            "output_rows": 0,
            "compactions": 0,
        }

    # -- tables --------------------------------------------------------

    def create_table(
        self,
        name: str,
        fields: list[Field],
        constraints: dict[str, str] | None = None,
    ) -> LakehouseTable:
        t = LakehouseTable.create(
            self.spark, self.root, name, fields, constraints=constraints
        )
        self._tables[name] = t
        _slog.with_table_name(name).info("table_created", n_fields=len(fields))
        return t

    def create_table_as(
        self,
        name: str,
        df: DataFrame,
        txn_id: str | None = None,
        cluster_by: list[str] | None = None,
    ) -> LakehouseTable:
        """CTAS: derive the schema from ``df``, create the table, and
        commit the rows as version 2 — the result-sink path that lets a
        query output become a first-class versioned table."""
        from mini_lakehouse_control_plane_executor_spark.table.schema import from_spark_schema

        t = self.create_table(name, from_spark_schema(df.schema))
        t.insert(df, txn_id=txn_id, cluster_by=cluster_by)
        return t

    def clone_table(
        self,
        src_name: str,
        dst_name: str,
        version: int | None = None,
        txn_id: str | None = None,
    ) -> LakehouseTable:
        """Shallow CLONE (Delta `CREATE TABLE ... SHALLOW CLONE src
        [VERSION AS OF v]`): create ``dst_name`` whose first data commit
        REFERENCES the source snapshot's files by absolute path — zero
        data copy, metadata-only, O(|files|) however large the table.
        The clone then evolves independently: inserts/deletes/compaction
        write into its own data dir, and the clone's vacuum can never
        touch source-owned files (vacuum only lists the table's OWN
        data/ dir, and compaction deletes nothing physically — physical
        reclamation is vacuum-only).

        Delta-parity caveat, inherited deliberately: VACUUM or DROP of
        the SOURCE table invalidates the cloned files — a shallow clone
        is a pointer, not a backup."""
        from mini_lakehouse_control_plane_executor_spark.table.log import FileAdd

        src = self.table(src_name)
        snap = src.snapshot(version)
        dst = LakehouseTable.create(
            self.spark, self.root, dst_name, snap.schema, constraints=snap.constraints
        )
        adds = [
            FileAdd(
                path=f.path
                if os.path.isabs(f.path)
                else os.path.join(src.dir, f.path),
                rows=f.rows,
                size=f.size,
                partition=dict(f.partition),
                min_values=dict(f.min_values),
                max_values=dict(f.max_values),
                # Deletion vectors are part of the referenced snapshot:
                # absolutize their paths exactly like the data files.
                dv_path=(
                    None
                    if f.dv_path is None
                    else f.dv_path
                    if os.path.isabs(f.dv_path)
                    else os.path.join(src.dir, f.dv_path)
                ),
                dv_rows=f.dv_rows,
            )
            for f in snap.files
        ]
        dst.log.commit(
            dst.log.latest_version(),
            txn_id or f"clone-{uuid.uuid4()}",
            snap.schema,
            adds=adds,
        )
        self._tables[dst_name] = dst
        _slog.with_table_name(dst_name).info(
            "table_cloned",
            src=src_name,
            src_version=snap.version,
            n_files=len(adds),
        )
        return dst

    def table(self, name: str) -> LakehouseTable:
        # Handles are cached so the transaction log's in-memory replay
        # state (see TransactionLog) persists across calls.
        t = self._tables.get(name)
        if t is None:
            # Names come from request bodies: one that is not a table
            # name ("../x") names no table and must not reach a path.
            try:
                validate_table_name(name)
            except SchemaError:
                raise KeyError(f"no such table: {name}") from None
            t = LakehouseTable(self.spark, self.root, name)
            if not t.exists():
                raise KeyError(f"no such table: {name}")
            self._tables[name] = t
        return t

    def list_tables(self) -> list[str]:
        base = os.path.join(self.root, "tables")
        return sorted(
            n for n in os.listdir(base)
            if LakehouseTable(self.spark, self.root, n).exists()
        )

    def insert(
        self,
        name: str,
        df: DataFrame,
        txn_id: str | None = None,
        mode: str = "append",
        cluster_by: list[str] | None = None,
    ) -> int:
        return self.table(name).insert(
            df, txn_id=txn_id, mode=mode, cluster_by=cluster_by
        )

    def delete(self, name: str, filter_str: str, txn_id: str | None = None):
        """Copy-on-write row delete; returns (new_version|None, rows_deleted)."""
        return self.table(name).delete(filter_str, txn_id=txn_id)

    def update(
        self,
        name: str,
        filter_str: str,
        assignments: dict[str, str],
        txn_id: str | None = None,
    ):
        """Copy-on-write UPDATE; returns (new_version|None, rows_updated)."""
        return self.table(name).update(filter_str, assignments, txn_id=txn_id)

    def merge(
        self,
        name: str,
        source: DataFrame,
        key: str,
        txn_id: str | None = None,
        when_matched: dict[str, str] | None = None,
        insert_unmatched: bool = True,
    ):
        """Copy-on-write MERGE (upsert / Delta-style clauses); returns
        (new_version, rows_updated, rows_inserted)."""
        return self.table(name).merge(
            source, key, txn_id=txn_id,
            when_matched=when_matched, insert_unmatched=insert_unmatched,
        )

    def drop_table(self, name: str) -> None:
        """DROP TABLE — implemented for real (the reference's DELETE
        /tables/{t} endpoint is a placeholder, ``rest_api.go:676-687``)."""
        t = self.table(name)  # raises KeyError if absent
        self._tables.pop(name, None)
        shutil.rmtree(t.dir, ignore_errors=True)

    def versions(self, name: str) -> list[int]:
        return self.table(name).versions()

    def diff(self, name: str, v_from: int, v_to: int | None = None) -> DataFrame:
        """CDC read: row changes between two versions (see
        LakehouseTable.diff)."""
        return self.table(name).diff(v_from, v_to)

    def vacuum(
        self, name: str, retain_versions: int = 1, min_age_seconds: float = 3600.0
    ) -> dict:
        """Reclaim files unreferenced by the newest ``retain_versions``
        versions; see LakehouseTable.vacuum for the safety contract."""
        return self.table(name).vacuum(retain_versions, min_age_seconds)

    def restore(self, name: str, version: int, txn_id: str | None = None) -> int:
        """RESTORE the table to an earlier version as a new forward
        commit (``LakehouseTable.restore``)."""
        new_version = self.table(name).restore(version, txn_id=txn_id)
        _slog.with_table_name(name).with_version(new_version).info(
            "table_restored", restored_to=version
        )
        return new_version

    def compact(
        self,
        name: str,
        force: bool = False,
        cluster_by: list[str] | None = None,
        zorder_by: list[str] | None = None,
        where: str | None = None,
    ) -> int | None:
        """SafeExecuteCompaction semantics (``compaction_service.go:
        659-709``): per-table mutual exclusion, at most
        COMPACT_MAX_CONCURRENT compactions session-wide, and the
        ShouldCompact ratio trigger (skipped with ``force=True``).
        Returns the new version, or None if skipped / nothing to do."""
        txn_id = f"compact-{uuid.uuid4()}"
        with self._compact_mu:
            if name in self._compacting:
                raise RuntimeError(f"compaction already in progress for {name!r}")
            self._compacting[name] = {
                "txn_id": txn_id,
                "started_ms": int(time.time() * 1000),
                "status": "RUNNING",
            }
        sc = self.spark.sparkContext
        try:
            with self._compact_slots:
                t = self.table(name)
                if not force and not (cluster_by or zorder_by) and not t.should_compact():
                    return None
                # Tag the rewrite's Spark jobs so cancel_compaction can
                # kill them mid-flight (real cancellation — the commit
                # is atomic and last, so a cancelled rewrite leaves the
                # table untouched; the reference's cancel only drops
                # the bookkeeping entry, compaction_service.go:916-919).
                clog = _slog.with_table_name(name).with_txn_id(txn_id)
                clog.info("compaction_started")
                sc.setJobGroup(f"compaction-{name}", txn_id, interruptOnCancel=True)
                try:
                    version = t.compact(
                        txn_id=txn_id,
                        cluster_by=cluster_by,
                        zorder_by=zorder_by,
                        where=where,
                    )
                finally:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                if version is not None:
                    with self._totals_mu:
                        self._totals["compactions"] += 1
                    clog.with_version(version).info("compaction_completed")
                else:
                    clog.info("compaction_skipped")
                return version
        finally:
            with self._compact_mu:
                self._compacting.pop(name, None)

    def compaction_status(self, name: str) -> dict:
        """Per-table compaction status (rest_api.go:580-605): running
        flag, plus txn/start/duration detail while one is in flight."""
        self.table(name)
        with self._compact_mu:
            entry = dict(self._compacting.get(name) or {})
        out = {"table_name": name, "running": bool(entry)}
        if entry:
            now_ms = int(time.time() * 1000)
            out.update(
                txn_id=entry["txn_id"],
                status=entry["status"],
                start_time=_rfc3339(entry["started_ms"]),
                duration_ms=now_ms - entry["started_ms"],
            )
        return out

    def active_compactions(self) -> list[dict]:
        """All in-flight compactions session-wide (rest_api.go:634-656)."""
        with self._compact_mu:
            entries = {n: dict(e) for n, e in self._compacting.items()}
        now_ms = int(time.time() * 1000)
        return [
            {
                "table_name": n,
                "txn_id": e["txn_id"],
                "status": e["status"],
                "start_time": _rfc3339(e["started_ms"]),
                "duration_ms": now_ms - e["started_ms"],
            }
            for n, e in sorted(entries.items())
        ]

    def cancel_compaction(self, name: str) -> None:
        """Cancel a running compaction (rest_api.go:659-674). Raises
        KeyError when none is active for the table. Unlike the
        reference (which only deletes the bookkeeping entry), this
        interrupts the rewrite's Spark jobs via the job group; the
        OCC commit is the final atomic step, so the cancelled run
        cannot have changed the table."""
        with self._compact_mu:
            entry = self._compacting.get(name)
            if entry is None:
                raise KeyError(f"no active compaction found for table {name}")
            entry["status"] = "CANCELLED"
        _slog.with_table_name(name).with_txn_id(entry["txn_id"]).warning(
            "compaction_cancelled"
        )
        self.spark.sparkContext.cancelJobGroup(f"compaction-{name}")

    def compaction_metrics(self, name: str) -> dict:
        """Compaction-candidate analysis of the LATEST snapshot
        (CompactionMetrics, compaction_service.go:224-289): small-file
        counts/bytes, the ShouldCompact verdict, and the reference's
        potential-savings estimate (bin-packed groups recompress to
        ~90% of their input, compaction_service.go:203-211)."""
        t = self.table(name)
        snap = t.snapshot()
        small = [f for f in snap.files if f.size < table_module.COMPACT_MIN_FILE_SIZE]
        total_size = sum(f.size for f in snap.files)
        small_size = sum(f.size for f in small)
        groups = t.compaction_candidates(snap)
        savings = int(sum(sum(f.size for f in g) for g in groups) * 0.1)
        return {
            "table_name": name,
            "version": snap.version,
            "total_files": len(snap.files),
            "small_files": len(small),
            "compaction_needed": t.should_compact(snap),
            "total_size_bytes": total_size,
            "small_files_size_bytes": small_size,
            "average_small_file_size": small_size // len(small) if small else 0,
            "potential_savings_bytes": savings,
            "timestamp": _rfc3339(int(time.time() * 1000)),
        }

    # -- queries -------------------------------------------------------

    def query(self, q: SimpleQuery | dict) -> DataFrame:
        """The reference's POST /queries path: snapshot-isolated structured
        query (version pinned once at plan time)."""
        if isinstance(q, dict):
            q = SimpleQuery.from_json(q)
        return self._plan(q, {})

    def sql(self, statement: str, versions: dict[str, int] | None = None) -> DataFrame:
        """Real SQL over snapshot views (the reference's POST /query
        endpoint is mocked — ``rest_api.go:709-734``; this un-mocks it),
        run in a per-call clone of ``self.spark`` that carries the caller's
        runtime SQL conf, UDFs and temp views. Each lake table named in the
        statement (an identifier word, any case; table names are
        ``[A-Za-z0-9_]``, so joins, subqueries and ``EXPLAIN`` are covered)
        is bound there as a view at ``versions.get(name, latest)``; one
        bound but not read costs time, never a result (a CTE still shadows
        it). The returned DataFrame belongs to the clone: a temp view made
        from it stays there, and ``self.spark`` gains no view."""
        words = {w.lower() for w in re.findall(r"[A-Za-z0-9_]+", statement)}
        jclone = self.spark._jsparkSession.cloneSession()
        clone = SparkSession(self.spark.sparkContext, jsparkSession=jclone)
        # PySpark's session constructor points RDD.toDF at the new session.
        _monkey_patch_RDD(self.spark)
        self._bind_views(clone, [n for n in self.list_tables() if n.lower() in words], versions)
        return clone.sql(statement)

    def attach_sql_views(
        self, prefix: str = "", versions: dict[str, int] | None = None
    ) -> dict[str, int]:
        """Register EVERY catalog table in ``self.spark`` as a snapshot-pinned
        temp view ``<prefix><table>``; return {view_name: pinned_version}.

        This is the one-call workaround for Spark 4.1's Python-DataSource
        catalog gap (``CREATE TABLE ... USING minilake`` parses, but the
        catalog read path hands Python sources empty options —
        ``sources/pydatasource.py:17-21``): after ``attach_sql_views()``,
        plain ``spark.sql("SELECT ... FROM <view>")`` works against
        log-controlled snapshots with no package import at the call site.

        Each view reads the snapshot current at THIS call (or
        ``versions[name]``); a commit that lands afterwards does not
        change it. Call again to refresh to latest."""
        return self._bind_views(self.spark, self.list_tables(), versions, prefix)

    def _bind_views(
        self, session: SparkSession, names: list[str], versions: dict | None, prefix: str = ""
    ) -> dict[str, int]:
        """Bind each named table in ``session`` as view ``<prefix><name>``, pinned
        before its one snapshot resolve (the read); return {view: version}."""
        of_rows = session._jvm.org.apache.spark.sql.classic.Dataset.ofRows
        pinned = {}
        for name in names:
            t = self.table(name)
            version = (versions or {}).get(name) or t.log.latest_version()
            jdf = of_rows(session._jsparkSession, t.read(version=version)._jdf.logicalPlan())
            jdf.createOrReplaceTempView(prefix + name)
            pinned[prefix + name] = version
        return pinned

    # -- jobs ----------------------------------------------------------

    def _plan(self, q: SimpleQuery, metrics: dict) -> DataFrame:
        """Plan ``q`` against one snapshot, resolved here once: the
        ``apply_query`` frame over the files ``Snapshot.scan`` keeps for
        the query's filter. ``metrics`` gets those files' input metrics
        first, so a query that fails to plan still reports what it would
        have read. A commit landing later changes neither."""
        t = self.table(q.table_name)
        snap = t.snapshot(q.version)
        files = snap.scan(q.filter)
        metrics.update(
            input_files=len(files),
            input_bytes=sum(f.size for f in files),
            # live rows: physical minus deletion-vector'd
            input_rows=sum(f.rows - f.dv_rows for f in files),
        )
        return apply_query(t._scan_files(files, to_spark_schema(snap.schema)), q)

    def submit(self, q: SimpleQuery | dict) -> tuple[str, DataFrame]:
        """Synchronous job-tracked planning: returns (job_id, result df).
        Input metrics are recorded at plan time; use ``submit_async`` for
        executed jobs with full output/task metrics."""
        if isinstance(q, dict):
            q = SimpleQuery.from_json(q)
        job_id = str(uuid.uuid4())
        info = JobInfo(job_id, "RUNNING", started_ms=int(time.time() * 1000))
        with self._jobs_mu:
            self._jobs[job_id] = info
        try:
            df = self._plan(q, info.metrics)
            info.status = "COMPLETED"
            return job_id, df
        except Exception as exc:
            info.status = "FAILED"
            info.error = str(exc)
            raise
        finally:
            info.finished_ms = int(time.time() * 1000)
            self._record_job_totals(info)
            # The sync path reaches a terminal status right here — set
            # the completion event so job_wait/job_result return
            # immediately instead of blocking their full timeout on a
            # job that is already COMPLETED/FAILED (only _run_job set it
            # before, making the sync path unwaitable).
            info.done.set()

    def submit_async(self, q: SimpleQuery | dict) -> str:
        """The reference's POST /queries contract: a missing table raises
        ``KeyError``; else a job id returns at once and the query runs in
        the background with an observable PENDING → RUNNING →
        COMPLETED/FAILED lifecycle and execution metrics (rows/bytes/tasks)."""
        if isinstance(q, dict):
            q = SimpleQuery.from_json(q)
        self.table(q.table_name)
        job_id = str(uuid.uuid4())
        with self._jobs_mu:
            self._jobs[job_id] = JobInfo(
                job_id, "PENDING", started_ms=int(time.time() * 1000)
            )
        _slog.with_job_id(job_id).with_table_name(q.table_name).info("job_submitted")
        threading.Thread(
            target=self._run_job, args=(job_id, q), daemon=True
        ).start()
        return job_id

    def _run_job(self, job_id: str, q: SimpleQuery) -> None:
        with self._jobs_mu:
            info = self._jobs[job_id]
        info.status = "RUNNING"
        sc = self.spark.sparkContext
        # Span wraps the whole job body; entered/exited manually so the
        # existing status bookkeeping keeps owning the except/finally.
        _job_span_cm = _span("query_execute", job_id=job_id, table_name=q.table_name)
        job_span = _job_span_cm.__enter__()
        try:
            # Tag this thread's Spark jobs FIRST so the status tracker can
            # attribute stages/tasks to this lakehouse job and so
            # cancel_job's cancelJobGroup covers the whole execution,
            # not just the result write.
            sc.setJobGroup(job_id, f"lakehouse-job-{job_id}")
            df = self._plan(q, info.metrics)
            # File-backed result sink: rows go to parquet at executor
            # parallelism and NEVER materialize on the driver; the row
            # count (footers) and a bounded preview are read back from
            # the written files without another Spark job.
            result_path = os.path.join(self.root, "results", job_id)
            df.write.mode("overwrite").parquet(result_path)
            output_rows, preview = _read_result(
                result_path, df.schema, RESULT_PREVIEW_ROWS
            )
            info.extra["result_path"] = result_path
            info.extra["preview"] = preview
            info.extra["schema"] = [f.name for f in df.schema.fields]
            info.extra["spark_schema"] = df.schema
            info.metrics["output_rows"] = output_rows
            info.status = "COMPLETED"
        except Exception as exc:
            info.status = "FAILED"
            # Report 'cancelled' ONLY for the Spark job-group interrupt
            # itself; any other failure that races a cancel keeps its
            # real exception text (a genuine error must not be masked by
            # an unrelated cancel request).
            msg = str(exc)
            is_cancel_exc = "cancelled as part of cancellation of all jobs" in msg or (
                info.extra.get("cancel_requested")
                and ("cancelled" in msg.lower() or "killed" in msg.lower())
            )
            info.error = "cancelled" if is_cancel_exc else msg
            job_span.record_error(info.error)
        finally:
            # Counted here so a failed job reports what it ran too.
            info.metrics.update(self._stage_counters(job_id))
            job_span.set_attributes(
                job_status=info.status,
                output_rows=info.metrics.get("output_rows", 0),
                num_tasks=info.metrics.get("num_tasks", 0),
            )
            _job_span_cm.__exit__(None, None, None)
            info.finished_ms = int(time.time() * 1000)
            jlog = (
                _slog.with_job_id(job_id)
                .with_table_name(q.table_name)
                .with_duration_ms(info.finished_ms - info.started_ms)
            )
            if info.status == "COMPLETED":
                jlog.info(
                    "job_completed",
                    output_rows=info.metrics.get("output_rows", 0),
                    num_tasks=info.metrics.get("num_tasks", 0),
                )
            else:
                jlog.with_error(info.error or "").error("job_failed")
            self._record_job_totals(info)
            self._evict_finished_jobs()
            info.done.set()

    def _stage_counters(self, job_group: str) -> dict:
        """Stage and task counts of every Spark job in ``job_group``, from
        the status tracker. A stage that launched no task was skipped
        (its shuffle output already existed) and is left out, as the
        Spark UI leaves skipped tasks out of a job's total. The task
        counts of a Spark job are final once the tracker shows it ended."""
        tracker = self.spark.sparkContext.statusTracker()
        deadline = time.monotonic() + TRACKER_SETTLE_S
        while True:
            spark_jobs = [
                ji
                for ji in map(tracker.getJobInfo, tracker.getJobIdsForGroup(job_group) or [])
                if ji
            ]
            if time.monotonic() >= deadline or all(
                ji.status != "RUNNING" for ji in spark_jobs
            ):
                break
            time.sleep(0.01)
        stage_ids = {sid for ji in spark_jobs for sid in ji.stageIds}
        stages = [
            si
            for si in map(tracker.getStageInfo, sorted(stage_ids))
            if si and si.numActiveTasks + si.numCompletedTasks + si.numFailedTasks
        ]
        return {
            "spark_jobs": len(spark_jobs),
            "num_stages": len(stages),
            "completed_stages": sum(si.numCompletedTasks >= si.numTasks for si in stages),
            "num_tasks": sum(si.numTasks for si in stages),
            "completed_tasks": sum(si.numCompletedTasks for si in stages),
            "failed_tasks": sum(si.numFailedTasks for si in stages),
            "running_tasks": sum(si.numActiveTasks for si in stages),
        }

    def _record_job_totals(self, info: JobInfo) -> None:
        with self._totals_mu:
            t = self._totals
            t["queries_completed" if info.status == "COMPLETED" else "queries_failed"] += 1
            t["query_duration_seconds_sum"] += (
                (info.finished_ms or info.started_ms) - info.started_ms
            ) / 1000.0
            t["tasks_completed"] += info.metrics.get("completed_tasks", 0)
            t["input_rows"] += info.metrics.get("input_rows", 0)
            t["input_bytes"] += info.metrics.get("input_bytes", 0)
            t["output_rows"] += info.metrics.get("output_rows", 0)

    def query_metrics(self, job_id: str) -> dict:
        """QueryExecutionMetrics parity
        (``distributed_query_executor.go:510-524``): per-job execution
        counters under the reference's field names and formats —
        ``start_time``/``end_time`` are RFC3339 (Go ``time.Time`` JSON),
        ``end_time`` omitted while running (``omitempty``), and
        ``duration_ms`` of an in-flight job is time-since-start
        (``:484-490``). Stage and task counters are Spark's status-tracker
        counts over the job's stages, read once when the job ends, failed
        or not (``_stage_counters``): ``completed_tasks``,
        ``failed_tasks`` and ``running_tasks`` sum each stage's
        completed, failed and active tasks; ``completed_stages`` (and
        ``current_stage``) counts the stages whose every task completed.
        Failed task attempts that Spark retried to success count in
        ``failed_tasks`` of a completed job. A running job reports zero
        until it ends."""
        with self._jobs_mu:
            info = self._jobs[job_id]
        m = info.metrics
        end_ms = info.finished_ms
        out = {
            "job_id": info.job_id,
            "status": info.status.lower(),
            "start_time": _rfc3339(info.started_ms),
            "duration_ms": (end_ms or int(time.time() * 1000)) - info.started_ms,
            "total_stages": m.get("num_stages", 0),
            "completed_stages": m.get("completed_stages", 0),
            "current_stage": m.get("completed_stages", 0),
            "total_tasks": m.get("num_tasks", 0),
            "completed_tasks": m.get("completed_tasks", 0),
            "failed_tasks": m.get("failed_tasks", 0),
            "running_tasks": m.get("running_tasks", 0),
        }
        if end_ms is not None:
            out["end_time"] = _rfc3339(end_ms)
        return out

    def metrics_text(self) -> str:
        """Prometheus text exposition of the session's counters, mirroring
        the reference's registry (``pkg/observability/metrics.go`` —
        lakehouse_queries_total, lakehouse_query_failures_total,
        lakehouse_query_duration_seconds, lakehouse_tasks_completed_total,
        lakehouse_object_store_bytes_read_total,
        lakehouse_compactions_total). Raft/worker-heartbeat gauges are
        deliberately absent: Spark's driver/executor machinery replaces
        that plane (SURVEY §4.3)."""
        with self._totals_mu:
            t = dict(self._totals)
        with self._jobs_mu:
            jobs = list(self._jobs.values())
        active = sum(1 for j in jobs if j.status in ("PENDING", "RUNNING"))
        n_queries = t["queries_completed"] + t["queries_failed"]
        commits = conflicts = 0
        for name in list(self._tables):
            try:
                tab = self._tables[name]
                commits += tab.log.latest_version()
                conflicts += tab.log.conflict_count
            except Exception:
                pass
        lines = [
            "# TYPE lakehouse_queries_total counter",
            f'lakehouse_queries_total{{status="completed"}} {int(t["queries_completed"])}',
            f'lakehouse_queries_total{{status="failed"}} {int(t["queries_failed"])}',
            "# TYPE lakehouse_query_failures_total counter",
            f"lakehouse_query_failures_total {int(t['queries_failed'])}",
            "# TYPE lakehouse_queries_active gauge",
            f"lakehouse_queries_active {active}",
            "# TYPE lakehouse_query_duration_seconds summary",
            f"lakehouse_query_duration_seconds_sum {t['query_duration_seconds_sum']:.3f}",
            f"lakehouse_query_duration_seconds_count {int(n_queries)}",
            "# TYPE lakehouse_tasks_completed_total counter",
            f"lakehouse_tasks_completed_total {int(t['tasks_completed'])}",
            "# TYPE lakehouse_object_store_bytes_read_total counter",
            f"lakehouse_object_store_bytes_read_total {int(t['input_bytes'])}",
            "# TYPE lakehouse_rows_read_total counter",
            f"lakehouse_rows_read_total {int(t['input_rows'])}",
            "# TYPE lakehouse_rows_output_total counter",
            f"lakehouse_rows_output_total {int(t['output_rows'])}",
            "# TYPE lakehouse_commits_total counter",
            f"lakehouse_commits_total {commits}",
            "# TYPE lakehouse_commit_conflicts_total counter",
            f"lakehouse_commit_conflicts_total {conflicts}",
            "# TYPE lakehouse_compactions_total counter",
            f"lakehouse_compactions_total {int(t['compactions'])}",
            "# TYPE lakehouse_tables gauge",
            f"lakehouse_tables {len(self.list_tables())}",
        ]
        return "\n".join(lines) + "\n"

    def _evict_finished_jobs(self) -> None:
        """Bound the job map: keep the newest MAX_FINISHED_JOBS finished
        jobs; evicted jobs lose their JobInfo AND their result directory
        (a long-lived server otherwise grows without bound)."""
        with self._jobs_mu:
            finished = [
                j for j in self._jobs.values() if j.status in ("COMPLETED", "FAILED")
            ]
            if len(finished) <= MAX_FINISHED_JOBS:
                return
            finished.sort(key=lambda j: j.finished_ms or 0)
            evicted = finished[: len(finished) - MAX_FINISHED_JOBS]
            for j in evicted:
                self._jobs.pop(j.job_id, None)
        for j in evicted:
            path = j.extra.get("result_path")
            if path:
                shutil.rmtree(path, ignore_errors=True)

    def job_status(self, job_id: str) -> JobInfo:
        with self._jobs_mu:
            return self._jobs[job_id]

    def job_result(self, job_id: str, timeout_s: float = 300.0) -> list[dict]:
        """Block until the async job finishes; load its rows from the
        file-backed result sink (GET /queries/{id}/results). Full-result
        materialization happens HERE, at the caller's explicit request —
        the job runner itself never holds more than the preview."""
        info = self.job_wait(job_id, timeout_s)
        return _read_result(info.extra["result_path"], info.extra["spark_schema"])[1]

    def cancel_job(self, job_id: str) -> bool:
        """Best-effort async-job cancel, the reference's ``CancelQuery``
        (``grpc_service.go:197-199`` → distributed executor). Interrupts
        the job's Spark job group — every stage the runner thread started
        under its job-group tag — and flags the JobInfo so the runner
        records FAILED/"cancelled" rather than the raw interruption
        error. Returns False (no-op) once the job already finished; like
        the reference, a cancel racing job completion may lose."""
        with self._jobs_mu:
            info = self._jobs[job_id]
        if info.status not in ("PENDING", "RUNNING"):
            return False
        info.extra["cancel_requested"] = True
        self.spark.sparkContext.cancelJobGroup(job_id)
        _slog.with_job_id(job_id).info("job_cancel_requested")
        return True

    def job_wait(self, job_id: str, timeout_s: float = 300.0) -> JobInfo:
        """Block until the async job leaves PENDING/RUNNING; raise on
        failure; return its JobInfo (path + preview live in .extra)."""
        with self._jobs_mu:
            info = self._jobs[job_id]
        if not info.done.wait(timeout_s):
            raise TimeoutError(f"job {job_id} still {info.status}")
        if info.status == "FAILED":
            raise RuntimeError(f"job {job_id} failed: {info.error}")
        return info
