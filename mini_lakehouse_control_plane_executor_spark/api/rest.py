"""HTTP façade over LakehouseSession, mirroring the reference coordinator's
REST route table (``pkg/coordinator/rest_api.go:44-76``):

    POST   /tables                                   create table
    GET    /tables/{t}                               table info
    DELETE /tables/{t}                               drop table (real, vs the
                                                     reference placeholder)
    GET    /tables/{t}/versions                      list versions
    GET    /tables/{t}/history                       DESCRIBE HISTORY (newest first)
    GET    /tables/{t}/versions/{v}/snapshot         snapshot file list
    POST   /tables/{t}/data                          insert from a data_path
    POST   /tables/{t}/insert                        insert inline rows
    POST   /queries                                  async query -> job_id
    GET    /queries/{id}                             job status + metrics
    GET    /queries/{id}/results                     real rows (the reference
                                                     returns a result_path
                                                     stub, ``rest_api.go:
                                                     409-421``)
    POST   /query                                    synchronous query
    POST   /tables/{t}/compaction                    trigger compaction
    GET    /tables/{t}/compaction/status             compaction running?
    GET    /tables/{t}/compaction/metrics            candidate analysis
    GET    /compaction/active                        in-flight compactions
    DELETE /tables/{t}/compaction                    cancel (really
                                                     interrupts the Spark
                                                     jobs, vs the
                                                     reference's entry
                                                     delete)
    POST   /tables/{t}/constraints                   ADD CONSTRAINT CHECK
    DELETE /tables/{t}/constraints/{name}            DROP CONSTRAINT
    DELETE /tables/{t}/columns/{name}                DROP COLUMN (logical)
                                                     (validated vs existing rows)
    POST   /tables/{t}/restore                       Delta-style RESTORE to an
                                                     earlier version (forward
                                                     commit, history intact)
    POST   /tables/{t}/vacuum                        retention GC (beyond ref)
    POST   /tables/{t}/clone                         Delta-style SHALLOW CLONE
                                                     (metadata-only, zero copy)
    GET    /tables/{t}/diff/{from}/{to}?limit=N      CDC row changes, bounded
    GET    /queries/{id}/metrics                     QueryExecutionMetrics
    DELETE /queries/{id}                             best-effort job cancel
                                                     (CancelQuery,
                                                     ``grpc_service.go:
                                                     197-199``)
    GET    /metrics                                  Prometheus exposition
    POST   /sql                                      real SQL over pinned views
                                                     (+ {"explain": true} for
                                                     the plan, no execution)
    POST   /tables/{t}/columns                       additive schema evolution
    POST   /tables/{t}/merge                         transactional upsert
    POST   /tables/{t}/delete                        row DELETE (copy-on-write
                                                     or merge-on-read via
                                                     deletion vectors)
    POST   /tables/{t}/update                        row UPDATE (expressions)
    GET    /health                                   liveness

Transport is stdlib ``http.server`` (threaded) — the engine stays a
library; this is the thin adapter the reference builds with gorilla/mux.
"""

from __future__ import annotations

import datetime
import inspect
import json
import re
import threading
import urllib.parse
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

from pyspark.errors import PySparkException

from mini_lakehouse_control_plane_executor_spark.table.catalog import LakehouseSession
from mini_lakehouse_control_plane_executor_spark.table.log import CommitRetriesExhausted
from mini_lakehouse_control_plane_executor_spark.table.schema import (
    Field,
    SchemaError,
    arrow_types,
    to_spark_schema,
)

# Failure classes a malformed client body produces on the write paths:
# non-dict row elements raise TypeError, missing row fields KeyError,
# row keys outside the schema and bad literals/exprs/constraint names
# ValueError (SchemaError subclasses it), and row-verifier type
# mismatches / in-write CHECK violations PySparkException. Anything else
# (AttributeError, OSError from the staging dir, ...) is a genuine
# server defect and must surface as 500.
_CLIENT_INPUT_ERRORS = (ValueError, KeyError, TypeError, PySparkException)


class _ApiError(Exception):
    def __init__(self, status: int, message: str):
        super().__init__(message)
        self.status = status


class _BodyTooLarge(Exception):
    """Declared Content-Length above _BODY_CAP_BYTES. The body is NOT
    read: the dispatcher responds 413 with ``Connection: close`` and
    drops the connection, because the unread bytes would desync any
    further keep-alive requests."""

    def __init__(self, length: int):
        super().__init__(f"declared body of {length} bytes")
        self.length = length


# Largest request body the server will buffer (or even drain) for one
# request. Inline-row inserts are test/demo-scale; bulk loads go through
# POST /tables/{t}/data with a data_path.
_BODY_CAP_BYTES = 64 * 1024 * 1024
_DRAIN_CHUNK = 64 * 1024


# Cap on rows serialized into one /diff response; callers raise it
# explicitly with ?limit=N (the async-query path stays file-backed).
DIFF_MAX_ROWS = 10_000


def _fields_from_api(schema: dict) -> list[Field]:
    fields = schema.get("fields") if isinstance(schema, dict) else None
    if not isinstance(fields, list) or not fields or not all(
        isinstance(f, dict) for f in fields
    ):
        raise _ApiError(400, "Missing or invalid schema")
    return [
        Field(f.get("name", ""), f.get("type", ""), bool(f.get("nullable", True)))
        for f in fields
    ]


def _json_date(v):
    if isinstance(v, str):
        try:
            return datetime.date.fromisoformat(v)
        except ValueError:
            pass
    return v


def _json_timestamp(v):
    """An ISO-8601 string as a UTC datetime; one without an offset is
    read as UTC, the session time zone."""
    if isinstance(v, str):
        try:
            ts = datetime.datetime.fromisoformat(v)
        except ValueError:
            return v
        if ts.tzinfo is None:
            return ts.replace(tzinfo=datetime.timezone.utc)
        return ts.astimezone(datetime.timezone.utc)
    return v


def _json_float(v):
    if isinstance(v, int) and not isinstance(v, bool):
        try:
            return float(v)
        except OverflowError:
            pass
    return v


# JSON has no date or timestamp value, and Python's json reads 7.0 as the
# int 7. Per schema type, the Python value PySpark's row verifier accepts
# for such a JSON value; any other value passes unchanged, so the
# verifier still rejects it.
_FROM_JSON = {
    "date": _json_date,
    "timestamp": _json_timestamp,
    "float32": _json_float,
    "float64": _json_float,
}


def _rows_to_arrow(rows: list, fields: list[Field]) -> "pa.Table":
    """Request rows (JSON objects) -> a ``pa.Table`` in table-schema
    order. An ISO-8601 string in a date or timestamp column becomes a
    date or timestamp, and an integer in a float column a float
    (``_FROM_JSON``); past that, acceptance and stored values are
    exactly those of ``createDataFrame(<tuples>, schema)``: every row
    passes PySpark's own row verifier (the ``verifySchema=True`` check),
    since Arrow would otherwise coerce silently (``1.5`` into an int
    column stored as ``1``, ``true`` into a float column as ``1.0``, JSON
    numbers into a date column as epoch days). Only a string column
    takes any JSON value; it stores Python ``str()`` of it, with a bare
    boolean lower-cased, as the row path does. A key outside the schema
    is an error: silently dropping data is never correct."""
    import pyarrow as pa
    from pyspark.sql.types import _make_type_verifier

    names = [f.name for f in fields]
    known = set(names)
    verify = _make_type_verifier(to_spark_schema(fields))
    convert = [_FROM_JSON.get(f.type) for f in fields]
    tuples = []
    for r in rows:
        if not isinstance(r, dict):
            raise TypeError(f"row must be a JSON object, got {type(r).__name__}")
        unknown = sorted(set(r) - known)
        if unknown:
            raise ValueError(f"row key(s) {unknown} not in table schema")
        row = tuple(c(r[n]) if c else r[n] for n, c in zip(names, convert))
        verify(row)
        tuples.append(row)
    types = arrow_types()
    arrays = []
    for f, col in zip(fields, zip(*tuples)):
        if f.type == "string":
            col = [
                v if v is None or isinstance(v, str)
                else str(v).lower() if isinstance(v, bool)
                else str(v)
                for v in col
            ]
        arrays.append(pa.array(col, type=types[f.type]))
    return pa.Table.from_arrays(arrays, names=names)


def _fields_to_api(fields: list[Field]) -> dict:
    return {
        "fields": [
            {"name": f.name, "type": f.type, "nullable": f.nullable} for f in fields
        ]
    }


class LakehouseRestServer:
    """Threaded HTTP server bound to a LakehouseSession. ``port=0`` picks
    a free port (exposed as ``.port`` after construction)."""

    def __init__(self, lake: LakehouseSession, host: str = "127.0.0.1", port: int = 0):
        self.lake = lake
        handler = _make_handler(self)
        self.httpd = ThreadingHTTPServer((host, port), handler)
        self.httpd.daemon_threads = True
        self.port = self.httpd.server_address[1]
        self._thread: threading.Thread | None = None

    def start(self) -> "LakehouseRestServer":
        self._thread = threading.Thread(target=self.httpd.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self.httpd.shutdown()
        self.httpd.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    # -- route handlers (return (status, json-able)) -------------------

    def create_table(self, body: dict):
        name = body.get("name") or body.get("table_name")
        if not name:
            raise _ApiError(400, "Missing table name (use 'name' or 'table_name')")
        try:
            self.lake.create_table(
                name,
                _fields_from_api(body.get("schema") or {}),
                constraints=body.get("constraints") or None,
            )
        except (SchemaError, ValueError) as exc:
            raise _ApiError(400, str(exc))
        return 200, {"success": True, "message": f"Table {name} created successfully"}

    def get_table(self, name: str):
        t = self._table(name)
        snap = t.snapshot()
        return 200, {
            "table_name": name,
            "latest_version": snap.version,
            "schema": _fields_to_api(snap.schema),
            "file_count": len(snap.files),
            "constraints": t.constraints,
        }

    def drop_table(self, name: str):
        self._table(name)
        self.lake.drop_table(name)
        return 200, {"success": True, "message": f"Table {name} dropped"}

    def list_versions(self, name: str):
        return 200, {"table_name": name, "versions": self._table(name).versions()}

    def table_history(self, name: str):
        """GET /tables/{t}/history — Delta DESCRIBE HISTORY analogue,
        newest first, from log entries only (no data reads)."""
        return 200, {"table_name": name, "history": self._table(name).history()}

    def get_snapshot(self, name: str, version: str):
        try:
            v = int(version)
        except ValueError:
            raise _ApiError(400, f"Invalid version: {version}")
        t = self._table(name)
        try:
            snap = t.snapshot(v)
        except ValueError as exc:
            raise _ApiError(404, str(exc))
        return 200, {
            "table_name": name,
            "version": snap.version,
            "schema": _fields_to_api(snap.schema),
            "files": [
                {
                    "path": f.path,
                    "rows": f.rows,
                    "size": f.size,
                    "partition": f.partition,
                    "dv_rows": f.dv_rows,
                }
                for f in snap.files
            ],
            "file_count": len(snap.files),
        }

    def insert_data(self, name: str, body: dict):
        data_path = body.get("data_path")
        if not data_path:
            raise _ApiError(400, "Missing data_path")
        t = self._table(name)
        try:
            version = t.insert_path(
                data_path, fmt=body.get("format", "parquet"), txn_id=body.get("txn_id")
            )
        except Exception as exc:
            raise _ApiError(400, f"Insert failed: {exc}")
        return 200, {
            "success": True,
            "txn_id": body.get("txn_id"),
            "new_version": version,
            "message": f"Data inserted into table {name}, new version: {version}",
        }

    def insert_rows(self, name: str, body: dict):
        rows = body.get("rows")
        if not isinstance(rows, list) or not rows:
            raise _ApiError(400, "Missing rows")
        t = self._table(name)
        try:
            version = t.insert(self._rows_df(t, rows), txn_id=body.get("txn_id"))
        except _CLIENT_INPUT_ERRORS as exc:
            raise _ApiError(400, f"Insert failed: {exc}")
        return 200, {"success": True, "new_version": version}

    def _rows_df(self, t, rows: list):
        """Inline request rows as a driver-local DataFrame: an Arrow
        table, so the insert starts no Spark write job and lands as one
        file written by pyarrow (``LakehouseTable.insert``)."""
        fields = t.fields
        return self.lake.spark.createDataFrame(
            _rows_to_arrow(rows, fields), to_spark_schema(fields)
        )

    def execute_query_async(self, body: dict):
        try:
            # submit_async parses the body and looks up the table;
            # execution errors surface through the job's FAILED status.
            # Only the parse/lookup exception classes map to 400 —
            # anything else is a genuine server fault and must surface
            # as 500 so it reaches 5xx monitoring.
            job_id = self.lake.submit_async(body)
        except (ValueError, KeyError, TypeError) as exc:
            raise _ApiError(400, f"Invalid query: {exc}")
        return 200, {
            "success": True,
            "job_id": job_id,
            "message": "Query submitted successfully",
        }

    def query_status(self, job_id: str):
        try:
            info = self.lake.job_status(job_id)
        except KeyError:
            raise _ApiError(404, f"no such job: {job_id}")
        return 200, info.to_json()

    def query_results(self, job_id: str):
        try:
            info = self.lake.job_status(job_id)
        except KeyError:
            raise _ApiError(404, f"no such job: {job_id}")
        if info.status in ("PENDING", "RUNNING"):
            raise _ApiError(400, f"Query not completed, current status: {info.status}")
        if info.status == "FAILED":
            raise _ApiError(400, f"Query failed: {info.error}")
        # File-backed contract (reference: rest_api.go:385-410 returns a
        # path into results/<job_id>): full rows live in parquet at
        # result_path; the response carries only a bounded preview.
        return 200, {
            "job_id": job_id,
            "status": info.status,
            "columns": info.extra.get("schema", []),
            "rows": info.extra.get("preview", []),
            "row_count": info.metrics.get("output_rows", 0),
            "result_path": info.extra.get("result_path"),
            "preview_only": info.metrics.get("output_rows", 0)
            > len(info.extra.get("preview", [])),
        }

    def execute_query_direct(self, body: dict):
        try:
            df = self.lake.query(body)
            rows = [r.asDict(recursive=True) for r in df.collect()]
        except Exception as exc:
            raise _ApiError(400, f"Query failed: {exc}")
        return 200, {
            "columns": [f.name for f in df.schema.fields],
            "rows": rows,
            "row_count": len(rows),
        }

    def delete_rows(self, name: str, body: dict):
        """POST /tables/{t}/delete {"filter": "<predicate>",
        "mode": "copy-on-write"|"merge-on-read"?, "txn_id"?} —
        transactional row DELETE over HTTP (beyond the reference
        surface, which stubs DeleteTable and has no row deletes).
        merge-on-read commits a deletion vector instead of rewriting
        files (the selective-DELETE lever at scale)."""
        flt = body.get("filter")
        if not flt or not isinstance(flt, str):
            raise _ApiError(400, "Missing filter")
        t = self._table(name)
        try:
            version, n = t.delete(
                flt,
                txn_id=body.get("txn_id"),
                mode=body.get("mode", "copy-on-write"),
            )
        except _CLIENT_INPUT_ERRORS as exc:
            raise _ApiError(400, f"Delete failed: {exc}")
        return 200, {
            "success": True,
            "new_version": version,
            "rows_deleted": n,
        }

    def update_rows(self, name: str, body: dict):
        """POST /tables/{t}/update {"filter": "<predicate>",
        "set": {col: sql_expr},
        "mode": "copy-on-write"|"merge-on-read"?, "txn_id"?} —
        transactional row UPDATE over HTTP (beyond the reference
        surface). merge-on-read commits a deletion vector over the old
        rows plus fresh files of the rewritten rows instead of
        rewriting the touched files."""
        flt = body.get("filter")
        assignments = body.get("set")
        if not flt or not isinstance(flt, str):
            raise _ApiError(400, "Missing filter")
        if not isinstance(assignments, dict) or not assignments or not all(
            isinstance(k, str) and isinstance(v, str)
            for k, v in assignments.items()
        ):
            raise _ApiError(400, "Missing or invalid set assignments")
        t = self._table(name)
        try:
            version, n = t.update(
                flt,
                assignments,
                txn_id=body.get("txn_id"),
                mode=body.get("mode", "copy-on-write"),
            )
        except _CLIENT_INPUT_ERRORS as exc:
            raise _ApiError(400, f"Update failed: {exc}")
        return 200, {
            "success": True,
            "new_version": version,
            "rows_updated": n,
        }

    def merge_rows(self, name: str, body: dict):
        """POST /tables/{t}/merge {"rows": [...], "key": "...",
        "when_matched": {col: expr}?, "insert_unmatched": bool?} —
        transactional upsert over HTTP (beyond the reference surface)."""
        rows, key = body.get("rows"), body.get("key")
        if not isinstance(rows, list) or not rows or not key:
            raise _ApiError(400, "Missing rows or key")
        t = self._table(name)
        try:
            version, n_upd, n_ins = t.merge(
                self._rows_df(t, rows),
                key,
                txn_id=body.get("txn_id"),
                when_matched=body.get("when_matched"),
                insert_unmatched=bool(body.get("insert_unmatched", True)),
            )
        except _CLIENT_INPUT_ERRORS as exc:
            # Only the enumerated client-input failure types map to 400
            # (same contract as insert_rows); genuine server defects
            # (AttributeError, OSError, ...) re-raise so the
            # dispatcher's 500 path surfaces them instead of hiding
            # behind 'Merge failed'.
            raise _ApiError(400, f"Merge failed: {exc}")
        return 200, {
            "success": True,
            "new_version": version,
            "rows_updated": n_upd,
            "rows_inserted": n_ins,
        }

    def add_columns(self, name: str, body: dict):
        """POST /tables/{t}/columns — additive schema evolution (beyond
        the reference, which has no schema-change operation). Accepts
        either {"schema": {"fields": [...]}} (multi-column) or the
        single-column shorthand {"name": n, "type": t[, "nullable"]}."""
        t = self._table(name)
        if body.get("name") and body.get("type"):
            from mini_lakehouse_control_plane_executor_spark.table.schema import Field as _Field

            fields = [
                _Field(body["name"], body["type"], bool(body.get("nullable", True)))
            ]
        else:
            fields = _fields_from_api(body.get("schema") or body)
        try:
            version = t.add_columns(fields)
        except (SchemaError, ValueError) as exc:
            raise _ApiError(400, str(exc))
        return 200, {
            "success": True,
            "new_version": version,
            "version": version,
            "schema": [
                {"name": f.name, "type": f.type, "nullable": f.nullable}
                for f in t.fields
            ],
        }

    def execute_sql(self, body: dict):
        """POST /sql {"sql": "...", "versions": {table: v}} — REAL SQL
        over snapshot-pinned views. The reference's SQL endpoint returns
        canned results keyed on substring matching
        (``rest_api.go:709-734``); this one executes."""
        stmt = body.get("sql")
        if not stmt:
            raise _ApiError(400, "Missing sql")
        explain = body.get("explain")
        if explain is not None and not isinstance(explain, bool):
            raise _ApiError(400, "explain must be a boolean")
        if explain:
            # Plan-only: how a user checks pushdown/broadcast/shuffle
            # shape over HTTP before paying for execution. EXPLAIN
            # FORMATTED runs through the same snapshot-pinned views as
            # the statement itself would, and executes nothing.
            try:
                df = self.lake.sql(
                    f"EXPLAIN FORMATTED {stmt}",
                    versions=body.get("versions") or None,
                )
                plan = "\n".join(r[0] for r in df.collect())
            except Exception as exc:
                raise _ApiError(400, f"SQL failed: {exc}")
            # Spark's ExplainCommand catches ANALYSIS errors (unknown
            # column/table) and returns them as result rows instead of
            # raising — only parse errors raise. Surface those as the
            # same 400 the non-explain path gives, with the full
            # multi-row message, never a 200 whose "plan" is an error.
            # Belt and braces: the wording above is Spark-internal and
            # could change between versions, but every successful
            # EXPLAIN FORMATTED output contains the physical-plan
            # section header — a "plan" without one is an error text
            # whatever its prefix says.
            if plan.startswith("Error occurred during query planning") or (
                "== Physical Plan ==" not in plan
            ):
                raise _ApiError(400, f"SQL failed: {plan}")
            return 200, {"plan": plan}
        try:
            df = self.lake.sql(stmt, versions=body.get("versions") or None)
            rows = [r.asDict(recursive=True) for r in df.collect()]
        except Exception as exc:
            raise _ApiError(400, f"SQL failed: {exc}")
        return 200, {
            "columns": [f.name for f in df.schema.fields],
            "rows": rows,
            "row_count": len(rows),
        }

    def trigger_compaction(self, name: str, body: dict):
        """POST /tables/{t}/compaction — optional ``cluster_by`` runs a
        linearly clustered full rewrite, ``zorder_by`` a z-ordered
        (multi-dimensional, interleaved-bit) one, instead of the
        small-file bin-pack; ``where`` scopes which FILES are eligible
        (OPTIMIZE ... WHERE at file granularity — rows are never
        filtered)."""
        self._table(name)
        cluster_by = body.get("cluster_by") or None
        zorder_by = body.get("zorder_by") or None
        # Presence first, THEN the type check: `body.get("where") or None`
        # would collapse falsy non-strings (0, false, "") to None and
        # silently run an UNSCOPED compaction instead of the documented
        # 400. Only absent/None means "no scope".
        where = body.get("where")
        if where is not None and (not isinstance(where, str) or not where.strip()):
            raise _ApiError(400, "where must be a non-empty filter string")
        try:
            version = self.lake.compact(
                name,
                force=bool(body.get("force")),
                cluster_by=cluster_by,
                zorder_by=zorder_by,
                where=where,
            )
        # In progress / bad column / lost every OCC race to other writers.
        except (RuntimeError, ValueError, CommitRetriesExhausted) as exc:
            return 200, {"success": False, "error": str(exc)}
        if version is None:
            return 200, {"success": False, "error": "nothing to compact"}
        return 200, {
            "success": True,
            "new_version": version,
            "message": f"Compaction completed for table {name}",
        }

    def compaction_status(self, name: str):
        self._table(name)
        return 200, self.lake.compaction_status(name)

    def compaction_metrics(self, name: str):
        """GET /tables/{t}/compaction/metrics — candidate analysis of
        the latest snapshot (``rest_api.go:608-632``)."""
        self._table(name)
        return 200, self.lake.compaction_metrics(name)

    def active_compactions(self):
        """GET /compaction/active — all in-flight compactions
        (``rest_api.go:634-656``)."""
        comps = self.lake.active_compactions()
        return 200, {"active_compactions": comps, "count": len(comps)}

    def cancel_compaction(self, name: str):
        """DELETE /tables/{t}/compaction — cancel a running compaction
        (``rest_api.go:659-674``; 400 when none is active, like the
        reference's error path)."""
        self._table(name)
        try:
            self.lake.cancel_compaction(name)
        except KeyError as exc:
            raise _ApiError(400, str(exc))
        return 200, {
            "success": True,
            "message": f"Compaction cancelled for table {name}",
        }

    def add_constraint(self, name: str, body: dict):
        """POST /tables/{t}/constraints {"name": n, "expr": e} — Delta
        ALTER TABLE ADD CONSTRAINT: validated against all existing rows
        before taking effect."""
        t = self._table(name)
        if not body.get("name") or not body.get("expr"):
            raise _ApiError(400, "missing required fields: name, expr")
        # Non-string name/expr (a list reaches re.fullmatch and raises
        # TypeError) is a client error, not a 500.
        if not isinstance(body["name"], str) or not isinstance(body["expr"], str):
            raise _ApiError(400, "name and expr must be strings")
        try:
            t.add_constraint(body["name"], body["expr"])
        except ValueError as exc:
            raise _ApiError(409, str(exc))
        return 200, {"success": True, "constraints": t.constraints}

    def drop_column(self, name: str, col: str):
        """DELETE /tables/{t}/columns/{col} — logical DROP COLUMN."""
        t = self._table(name)
        from mini_lakehouse_control_plane_executor_spark.table.schema import SchemaError as _SErr

        try:
            version = t.drop_column(col)
        except KeyError as exc:
            raise _ApiError(404, str(exc))
        except _SErr as exc:
            raise _ApiError(409, str(exc))
        return 200, {
            "success": True,
            "version": version,
            "schema": [
                {"name": f.name, "type": f.type, "nullable": f.nullable}
                for f in t.fields
            ],
        }

    def drop_constraint(self, name: str, cname: str):
        """DELETE /tables/{t}/constraints/{name} — Delta ALTER TABLE
        DROP CONSTRAINT: a versioned commit, restorable via RESTORE."""
        t = self._table(name)
        try:
            t.drop_constraint(cname)
        except KeyError as exc:
            raise _ApiError(404, str(exc))
        return 200, {"success": True, "constraints": t.constraints}

    @staticmethod
    def _body_version(body: dict, required: bool = False) -> int | None:
        """Parse body["version"] BEFORE the semantic try-block: malformed
        input (non-numeric string, list/dict, bool) is the client's
        fault -> 400, while ValueError raised later by the lake layer
        (unknown version, vacuumed files) keeps mapping to 409."""
        if "version" not in body:
            if required:
                raise _ApiError(400, "missing required field: version")
            return None
        v = body["version"]
        if isinstance(v, bool) or not isinstance(v, (int, str)):
            raise _ApiError(400, f"version must be an integer, got {type(v).__name__}")
        try:
            return int(v)
        except ValueError:
            raise _ApiError(400, f"version must be an integer, got {v!r}")

    def restore(self, name: str, body: dict):
        """POST /tables/{t}/restore {"version": V} — Delta-style RESTORE
        as one forward commit; history stays time-travelable."""
        self._table(name)
        version = self._body_version(body, required=True)
        try:
            new_version = self.lake.restore(
                name, version, txn_id=body.get("txn_id") or None
            )
        except ValueError as exc:  # unknown version / vacuumed files
            raise _ApiError(409, str(exc))
        return 200, {"success": True, "new_version": new_version}

    def clone(self, name: str, body: dict):
        """POST /tables/{t}/clone {"target": name[, "version": V]} —
        Delta-style SHALLOW CLONE: metadata-only, the new table
        references the source snapshot's files."""
        self._table(name)
        target = body.get("target")
        if not target:
            raise _ApiError(400, "missing required field: target")
        version = self._body_version(body)
        try:
            t = self.lake.clone_table(
                name,
                str(target),
                version=version,
                txn_id=body.get("txn_id") or None,
            )
        except ValueError as exc:  # bad name / existing table / version
            raise _ApiError(409, str(exc))
        return 200, {
            "success": True,
            "table": str(target),
            "version": t.log.latest_version(),
        }

    def vacuum(self, name: str, body: dict):
        self._table(name)
        try:
            retain = int(body.get("retain_versions", 1))
            min_age = float(body.get("min_age_seconds", 3600.0))
        except (TypeError, ValueError) as exc:
            raise _ApiError(400, f"Invalid vacuum parameter: {exc}")
        stats = self.lake.vacuum(
            name, retain_versions=retain, min_age_seconds=min_age
        )
        return 200, {"success": True, **stats}

    def health(self):
        return 200, {"status": "healthy"}

    def table_diff(self, name: str, v_from: str, v_to: str, params: dict | None = None):
        """GET /tables/{t}/diff/{from}/{to}?limit=N — CDC row changes
        between two versions, tagged _change_type insert/delete (beyond
        the reference surface; pairs with the versions/time-travel
        routes). The response is BOUNDED: at most ``limit`` rows
        (default DIFF_MAX_ROWS) come back, with ``truncated`` set when
        the diff is larger — an overwrite of a big table must not
        materialize on the driver or produce a multi-GB response. The
        limit+1 collect detects truncation without a second Spark job;
        callers needing the full changeset raise ``limit`` or consume
        ``LakehouseTable.diff`` as a DataFrame."""
        limit = DIFF_MAX_ROWS
        if params and "limit" in params:
            try:
                limit = int(params["limit"])
            except ValueError:
                raise _ApiError(400, f"Invalid limit: {params['limit']}")
            if limit < 1:
                raise _ApiError(400, "limit must be >= 1")
        t = self._table(name)
        try:
            df = t.diff(int(v_from), int(v_to))
            rows = [r.asDict(recursive=True) for r in df.limit(limit + 1).collect()]
        except KeyError as exc:
            raise _ApiError(404, str(exc))
        except Exception as exc:
            raise _ApiError(400, f"Diff failed: {exc}")
        truncated = len(rows) > limit
        rows = rows[:limit]
        return 200, {
            "table_name": name,
            "from_version": int(v_from),
            "to_version": int(v_to),
            "columns": [f.name for f in df.schema.fields],
            "rows": rows,
            "row_count": len(rows),
            "truncated": truncated,
        }

    def query_metrics(self, job_id: str):
        """GET /queries/{id}/metrics — QueryExecutionMetrics parity
        (``distributed_query_executor.go:510-524``)."""
        try:
            return 200, self.lake.query_metrics(job_id)
        except KeyError:
            raise _ApiError(404, f"no such job: {job_id}")

    def cancel_query(self, job_id: str):
        """DELETE /queries/{id} — best-effort cancel of an in-flight
        async job (superset route: the reference exposes CancelQuery
        only in-process, ``grpc_service.go:197-199``). ``cancelled``
        False = the job had already finished (lost-race contract)."""
        try:
            cancelled = self.lake.cancel_job(job_id)
        except KeyError:
            raise _ApiError(404, f"no such job: {job_id}")
        return 200, {"job_id": job_id, "cancelled": cancelled}

    def metrics(self):
        """GET /metrics — Prometheus text exposition
        (``pkg/observability/metrics.go``); returned as a raw string so
        the handler serves text/plain."""
        return 200, self.lake.metrics_text()

    def _table(self, name: str):
        try:
            return self.lake.table(name)
        except KeyError:
            raise _ApiError(404, f"no such table: {name}")


_ROUTES: list[tuple[str, re.Pattern, str]] = [
    ("POST", re.compile(r"^/tables$"), "create_table"),
    ("GET", re.compile(r"^/tables/([A-Za-z0-9_]+)$"), "get_table"),
    ("DELETE", re.compile(r"^/tables/([A-Za-z0-9_]+)$"), "drop_table"),
    ("GET", re.compile(r"^/tables/([A-Za-z0-9_]+)/versions$"), "list_versions"),
    ("GET", re.compile(r"^/tables/([A-Za-z0-9_]+)/history$"), "table_history"),
    (
        "GET",
        re.compile(r"^/tables/([A-Za-z0-9_]+)/versions/(\d+)/snapshot$"),
        "get_snapshot",
    ),
    ("POST", re.compile(r"^/tables/([A-Za-z0-9_]+)/data$"), "insert_data"),
    ("POST", re.compile(r"^/tables/([A-Za-z0-9_]+)/insert$"), "insert_rows"),
    ("POST", re.compile(r"^/queries$"), "execute_query_async"),
    ("GET", re.compile(r"^/queries/([A-Za-z0-9-]+)$"), "query_status"),
    ("GET", re.compile(r"^/queries/([A-Za-z0-9-]+)/results$"), "query_results"),
    ("GET", re.compile(r"^/queries/([A-Za-z0-9-]+)/metrics$"), "query_metrics"),
    ("DELETE", re.compile(r"^/queries/([A-Za-z0-9-]+)$"), "cancel_query"),
    ("GET", re.compile(r"^/metrics$"), "metrics"),
    ("POST", re.compile(r"^/query$"), "execute_query_direct"),
    ("POST", re.compile(r"^/sql$"), "execute_sql"),
    ("POST", re.compile(r"^/tables/([A-Za-z0-9_]+)/compaction$"), "trigger_compaction"),
    (
        "GET",
        re.compile(r"^/tables/([A-Za-z0-9_]+)/compaction/status$"),
        "compaction_status",
    ),
    (
        "GET",
        re.compile(r"^/tables/([A-Za-z0-9_]+)/compaction/metrics$"),
        "compaction_metrics",
    ),
    ("GET", re.compile(r"^/compaction/active$"), "active_compactions"),
    (
        "DELETE",
        re.compile(r"^/tables/([A-Za-z0-9_]+)/compaction$"),
        "cancel_compaction",
    ),
    ("POST", re.compile(r"^/tables/([A-Za-z0-9_]+)/constraints$"), "add_constraint"),
    (
        "DELETE",
        re.compile(r"^/tables/([A-Za-z0-9_]+)/constraints/([A-Za-z0-9_]+)$"),
        "drop_constraint",
    ),
    (
        "DELETE",
        re.compile(r"^/tables/([A-Za-z0-9_]+)/columns/([A-Za-z0-9_]+)$"),
        "drop_column",
    ),
    ("POST", re.compile(r"^/tables/([A-Za-z0-9_]+)/restore$"), "restore"),
    ("POST", re.compile(r"^/tables/([A-Za-z0-9_]+)/clone$"), "clone"),
    ("POST", re.compile(r"^/tables/([A-Za-z0-9_]+)/vacuum$"), "vacuum"),
    ("GET", re.compile(r"^/tables/([A-Za-z0-9_]+)/diff/(\d+)/(\d+)$"), "table_diff"),
    ("POST", re.compile(r"^/tables/([A-Za-z0-9_]+)/columns$"), "add_columns"),
    ("POST", re.compile(r"^/tables/([A-Za-z0-9_]+)/merge$"), "merge_rows"),
    ("POST", re.compile(r"^/tables/([A-Za-z0-9_]+)/delete$"), "delete_rows"),
    ("POST", re.compile(r"^/tables/([A-Za-z0-9_]+)/update$"), "update_rows"),
    ("GET", re.compile(r"^/health$"), "health"),
]

_BODY_METHODS = {"POST"}


def _make_handler(server: LakehouseRestServer):
    class Handler(BaseHTTPRequestHandler):
        protocol_version = "HTTP/1.1"

        def log_message(self, fmt, *args):  # keep test output quiet
            pass

        def _drain_body(self, keep: bool = True) -> bytes:
            """Read (and, when ``keep``, return) any request body. MUST
            be called on every request path — including 404s and methods
            whose handlers ignore bodies — or the unread bytes desync
            the HTTP/1.1 keep-alive connection: the next request line is
            parsed from the middle of the stale body and the client gets
            spurious 400s. The body is consumed in bounded chunks (never
            one Content-Length-sized read), drain-only paths discard the
            chunks as they go, and a declared length above
            _BODY_CAP_BYTES is not read at all — _BodyTooLarge makes the
            dispatcher answer 413 and close the connection, so a client
            cannot force the server to buffer a multi-GB body per
            keep-alive connection."""
            length = int(self.headers.get("Content-Length") or 0)
            if length <= 0:
                return b""
            if length > _BODY_CAP_BYTES:
                raise _BodyTooLarge(length)
            chunks: list[bytes] = []
            remaining = length
            while remaining > 0:
                chunk = self.rfile.read(min(remaining, _DRAIN_CHUNK))
                if not chunk:  # client hung up mid-body
                    break
                remaining -= len(chunk)
                if keep:
                    chunks.append(chunk)
            return b"".join(chunks)

        def _dispatch(self, method: str):
            try:
                self._dispatch_inner(method)
            except _BodyTooLarge as exc:
                data = json.dumps(
                    {
                        "error": (
                            f"Request body too large: {exc.length} bytes "
                            f"(cap {_BODY_CAP_BYTES})"
                        )
                    }
                ).encode()
                self.send_response(413)
                self.send_header("Content-Type", "application/json")
                self.send_header("Content-Length", str(len(data)))
                # Body unread -> socket desynced; close instead of reading.
                self.send_header("Connection", "close")
                self.end_headers()
                self.wfile.write(data)

        def _dispatch_inner(self, method: str):
            raw_path, _, qs = self.path.partition("?")
            path = raw_path.rstrip("/") or "/"
            for m, pat, fn_name in _ROUTES:
                if m != method:
                    continue
                match = pat.match(path)
                if not match:
                    continue
                args = list(match.groups())
                if method not in _BODY_METHODS:
                    # A body on GET/DELETE still desyncs; discard it.
                    self._drain_body(keep=False)
                if method in _BODY_METHODS:
                    raw = self._drain_body()
                    try:
                        body = json.loads(raw) if raw else {}
                    except json.JSONDecodeError as exc:
                        return self._send(400, {"error": f"Invalid JSON: {exc}"})
                    # Every body-taking handler addresses fields by name;
                    # a syntactically-valid non-object body (list/str/
                    # number) is a client error, not a server fault.
                    if not isinstance(body, dict):
                        return self._send(
                            400,
                            {"error": "Request body must be a JSON object"},
                        )
                    args.append(body)
                fn = getattr(server, fn_name)
                kwargs = {}
                # Handlers opt into query-string access by declaring a
                # ``params`` keyword (e.g. table_diff's ?limit=N).
                if "params" in inspect.signature(fn).parameters:
                    kwargs["params"] = {
                        k: v[-1] for k, v in urllib.parse.parse_qs(qs).items()
                    }
                try:
                    status, payload = fn(*args, **kwargs)
                except _ApiError as exc:
                    return self._send(exc.status, {"error": str(exc)})
                except Exception as exc:  # pragma: no cover - defensive
                    return self._send(500, {"error": f"Internal error: {exc}"})
                return self._send(status, payload)
            # Unmatched route (or a body sent to a bodyless method):
            # drain before responding to keep the connection usable.
            self._drain_body(keep=False)
            self._send(404, {"error": f"no route for {method} {path}"})

        def _send(self, status: int, payload) -> None:
            if isinstance(payload, str):  # Prometheus /metrics exposition
                data = payload.encode()
                ctype = "text/plain; version=0.0.4; charset=utf-8"
            else:
                data = json.dumps(payload).encode()
                ctype = "application/json"
            self.send_response(status)
            self.send_header("Content-Type", ctype)
            self.send_header("Content-Length", str(len(data)))
            self.end_headers()
            self.wfile.write(data)

        def do_GET(self):
            self._dispatch("GET")

        def do_POST(self):
            self._dispatch("POST")

        def do_DELETE(self):
            self._dispatch("DELETE")

    return Handler
