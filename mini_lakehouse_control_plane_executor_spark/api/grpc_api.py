"""gRPC parity for the reference's stable protobuf interface.

The reference declares its protobufs the stable contract (requirement 0,
``.kiro/specs/mini-lakehouse/requirements.md:31-33``); of the three
services, ``MetadataService`` (``proto/metadata.proto:8-16``) is the one
a USER-facing engine must honor — CreateTable / GetLatestVersion /
GetSnapshot / Commit / ListVersions / Leader / Health. The proto'd parts
of the other two (``coordinator.proto``'s worker registration/heartbeat
and ``worker.proto``'s RunTask) are the work-scheduling plane that
Spark's driver/executor machinery replaces wholesale (SURVEY §4.3), so
they have no analogue here by design. The reference's user-facing query
service never got a .proto — it is the in-process Go
``QueryExecutionService`` (``pkg/coordinator/grpc_service.go:134-257``);
``QueryExecutionServicer`` below mirrors its methods and struct shapes
(plus TableService's InsertData) under the same conventions.

Layering:

- **Messages** are plain dataclasses mirroring ``metadata.proto``
  field-for-field, with proto3 semantics: every field has a zero
  default, an empty ``error`` string means success, and unknown wire
  fields are ignored on parse. Their one JSON codec is the
  ``_Message`` base class (``to_json``/``from_json``, proto3's JSON
  rules); their one binary codec is ``api.protowire``.
- **``MetadataServicer``** is transport-agnostic: each RPC takes a
  request message and returns a response message, errors reported IN
  the response (the reference's convention — its handlers never raise
  over the wire, e.g. ``CommitResponse.error``), backed by
  ``LakehouseSession`` and the transaction log.
- **``serve()``** binds the servicer to a real ``grpc.Server`` when
  ``grpcio`` is importable and raises a clear ImportError otherwise.
  MetadataService speaks REAL PROTO3 BYTES: ``api.protowire``
  implements the protobuf wire format for ``metadata.proto``'s
  messages (field numbers registered below, exactly the .proto's), so
  any client built from the reference's .proto — Go, generated Python,
  grpcurl — interoperates byte-for-byte, with no ``google.protobuf``
  runtime dependency. QueryExecutionService (which has no .proto in
  the reference) keeps a JSON codec over the same generic handlers.
"""

from __future__ import annotations

import dataclasses
import json
import typing
from dataclasses import dataclass, field as dc_field

from mini_lakehouse_control_plane_executor_spark.api import protowire

from mini_lakehouse_control_plane_executor_spark.table.catalog import LakehouseSession
from mini_lakehouse_control_plane_executor_spark.table.log import (
    CommitConflictError,
    CommitValidationError,
    FileAdd,
)
from mini_lakehouse_control_plane_executor_spark.table.schema import Field as SchemaField
from mini_lakehouse_control_plane_executor_spark.table.schema import SchemaError

SERVICE_NAME = "metadata.MetadataService"  # proto/metadata.proto:3,8


# ---------------------------------------------------------------------------
# Messages (proto/metadata.proto:18-113). One dataclass per proto
# message, same field names, proto3 zero defaults.
# ---------------------------------------------------------------------------


class _Message:
    """proto3's JSON mapping, shared by every message dataclass below.

    ``to_json`` emits every field in declaration order, nested messages
    as dicts. ``from_json`` parses leniently, as proto3 does: a key that
    is missing, ``null`` or zero-valued keeps the field default, unknown
    keys are ignored, nested messages (and lists of them) recurse, and
    scalars are coerced to the declared type."""

    def to_json(self) -> dict:
        return dataclasses.asdict(self)

    @classmethod
    def from_json(cls, d: dict):
        hints = typing.get_type_hints(cls)
        return cls(**{
            f.name: _from_json_value(hints[f.name], d[f.name])
            for f in dataclasses.fields(cls)
            if d.get(f.name)
        })


def _from_json_value(tp, v):
    if typing.get_origin(tp) is list:
        (item,) = typing.get_args(tp)
        return [_from_json_value(item, x) for x in v]
    if issubclass(tp, _Message):
        return tp.from_json(v)
    return tp(v)


@dataclass
class Field(_Message):
    name: str = ""
    type: str = ""
    nullable: bool = False


@dataclass
class Schema(_Message):
    fields: list[Field] = dc_field(default_factory=list)


@dataclass
class FileStats(_Message):
    min_values: dict = dc_field(default_factory=dict)
    max_values: dict = dc_field(default_factory=dict)


@dataclass
class FileInfo(_Message):
    """``FileInfo`` and ``FileAdd`` share one shape in the proto
    (``metadata.proto:94-113``); one dataclass serves both."""

    path: str = ""
    rows: int = 0
    size: int = 0
    partition: dict = dc_field(default_factory=dict)
    stats: FileStats = dc_field(default_factory=FileStats)


@dataclass
class FileRemove(_Message):
    path: str = ""


@dataclass
class CreateTableRequest(_Message):
    table_name: str = ""
    schema: Schema = dc_field(default_factory=Schema)


@dataclass
class CreateTableResponse(_Message):
    success: bool = False
    error: str = ""


@dataclass
class GetLatestVersionRequest(_Message):
    table_name: str = ""


@dataclass
class GetLatestVersionResponse(_Message):
    version: int = 0
    error: str = ""


@dataclass
class GetSnapshotRequest(_Message):
    table_name: str = ""
    version: int = 0  # proto3 zero value -> latest (reference: log.py:233)


@dataclass
class GetSnapshotResponse(_Message):
    files: list[FileInfo] = dc_field(default_factory=list)
    schema: Schema = dc_field(default_factory=Schema)
    error: str = ""


@dataclass
class CommitRequest(_Message):
    table_name: str = ""
    base_version: int = 0
    txn_id: str = ""
    adds: list[FileInfo] = dc_field(default_factory=list)
    removes: list[FileRemove] = dc_field(default_factory=list)


@dataclass
class CommitResponse(_Message):
    new_version: int = 0
    error: str = ""


@dataclass
class ListVersionsRequest(_Message):
    table_name: str = ""


@dataclass
class ListVersionsResponse(_Message):
    versions: list[int] = dc_field(default_factory=list)
    error: str = ""


@dataclass
class LeaderRequest(_Message):
    pass


@dataclass
class LeaderResponse(_Message):
    leader_id: str = ""
    leader_address: str = ""


@dataclass
class HealthRequest(_Message):
    pass


@dataclass
class HealthResponse(_Message):
    healthy: bool = False
    status: str = ""


# ---------------------------------------------------------------------------
# Servicer
# ---------------------------------------------------------------------------


class MetadataServicer:
    """The seven MetadataService RPCs over a LakehouseSession.

    Error contract is the reference's: RPCs return normally with the
    failure in the response's ``error`` field (proto3 empty-string
    default == success); the transport never carries an exception for
    domain errors — only for malformed payloads.
    """

    def __init__(self, lake: LakehouseSession):
        self.lake = lake

    def CreateTable(self, req: CreateTableRequest) -> CreateTableResponse:
        try:
            self.lake.create_table(
                req.table_name,
                [
                    SchemaField(f.name, f.type, f.nullable)
                    for f in req.schema.fields
                ],
            )
        except (SchemaError, ValueError) as exc:
            return CreateTableResponse(success=False, error=str(exc))
        return CreateTableResponse(success=True)

    def GetLatestVersion(self, req: GetLatestVersionRequest) -> GetLatestVersionResponse:
        try:
            t = self.lake.table(req.table_name)
        except KeyError as exc:
            return GetLatestVersionResponse(error=str(exc))
        return GetLatestVersionResponse(version=t.log.latest_version())

    def GetSnapshot(self, req: GetSnapshotRequest) -> GetSnapshotResponse:
        try:
            t = self.lake.table(req.table_name)
            snap = t.snapshot(req.version or None)
        except KeyError as exc:
            return GetSnapshotResponse(error=str(exc))
        except ValueError as exc:
            return GetSnapshotResponse(error=str(exc))
        return GetSnapshotResponse(
            files=[
                FileInfo(
                    path=f.path,
                    rows=f.rows,
                    size=f.size,
                    partition=dict(f.partition),
                    stats=FileStats(dict(f.min_values), dict(f.max_values)),
                )
                for f in snap.files
            ],
            schema=Schema(
                [Field(f.name, f.type, f.nullable) for f in snap.schema]
            ),
        )

    def Commit(self, req: CommitRequest) -> CommitResponse:
        """The raw OCC commit the reference coordinator issues after
        writing data files to storage (``pkg/metadata/state.go:198-243``
        validation; CAS + txn-id idempotency ``table/log.py:350``)."""
        try:
            t = self.lake.table(req.table_name)
        except KeyError as exc:
            return CommitResponse(error=str(exc))
        adds = [
            FileAdd(
                path=a.path,
                rows=a.rows,
                size=a.size,
                partition=dict(a.partition),
                min_values=dict(a.stats.min_values),
                max_values=dict(a.stats.max_values),
            )
            for a in req.adds
        ]
        try:
            version = t.log.commit(
                base_version=req.base_version,
                txn_id=req.txn_id,
                schema=t.fields,
                adds=adds,
                removes=[r.path for r in req.removes],
            )
        except (CommitConflictError, CommitValidationError) as exc:
            return CommitResponse(error=str(exc))
        return CommitResponse(new_version=version)

    def ListVersions(self, req: ListVersionsRequest) -> ListVersionsResponse:
        try:
            t = self.lake.table(req.table_name)
        except KeyError as exc:
            return ListVersionsResponse(error=str(exc))
        return ListVersionsResponse(versions=t.versions())

    def Leader(self, req: LeaderRequest) -> LeaderResponse:
        """Single-node by construction: the Spark driver IS the
        metadata authority (no Raft plane to elect across — SURVEY
        §4.3), so Leader always answers itself, the degenerate case the
        reference reaches only after winning an election."""
        sc = self.lake.spark.sparkContext
        return LeaderResponse(
            leader_id=sc.applicationId or "spark-driver",
            leader_address=sc.master or "local",
        )

    def Health(self, req: HealthRequest) -> HealthResponse:
        return HealthResponse(healthy=True, status="healthy")


# RPC name -> (request parser, response type); drives both the generic
# gRPC wiring and the tests' exhaustive service-surface check.
RPCS: dict[str, tuple] = {
    "CreateTable": (CreateTableRequest, CreateTableResponse),
    "GetLatestVersion": (GetLatestVersionRequest, GetLatestVersionResponse),
    "GetSnapshot": (GetSnapshotRequest, GetSnapshotResponse),
    "Commit": (CommitRequest, CommitResponse),
    "ListVersions": (ListVersionsRequest, ListVersionsResponse),
    "Leader": (LeaderRequest, LeaderResponse),
    "Health": (HealthRequest, HealthResponse),
}


# ---------------------------------------------------------------------------
# Wire descriptors: field numbers/kinds exactly as declared in
# ``proto/metadata.proto`` — ``api.protowire`` turns these into real
# proto3 bytes, wire-compatible with any stub generated from that file.
# ---------------------------------------------------------------------------

protowire.register(Field, {
    "name": (1, "string"),          # metadata.proto:89
    "type": (2, "string"),
    "nullable": (3, "bool"),
})
protowire.register(Schema, {
    "fields": (1, "rmsg", Field),   # metadata.proto:85
})
protowire.register(FileStats, {
    "min_values": (1, "map_ss"),    # metadata.proto:101-104
    "max_values": (2, "map_ss"),
})
protowire.register(FileInfo, {      # FileInfo == FileAdd (same shape)
    "path": (1, "string"),          # metadata.proto:94-113
    "rows": (2, "uint64"),
    "size": (3, "uint64"),
    "partition": (4, "map_ss"),
    "stats": (5, "msg", FileStats),
})
protowire.register(FileRemove, {
    "path": (1, "string"),          # metadata.proto:115-117
})
protowire.register(CreateTableRequest, {
    "table_name": (1, "string"),    # metadata.proto:18-21
    "schema": (2, "msg", Schema),
})
protowire.register(CreateTableResponse, {
    "success": (1, "bool"),         # metadata.proto:23-26
    "error": (2, "string"),
})
protowire.register(GetLatestVersionRequest, {
    "table_name": (1, "string"),    # metadata.proto:28-30
})
protowire.register(GetLatestVersionResponse, {
    "version": (1, "uint64"),       # metadata.proto:32-35
    "error": (2, "string"),
})
protowire.register(GetSnapshotRequest, {
    "table_name": (1, "string"),    # metadata.proto:37-40
    "version": (2, "uint64"),
})
protowire.register(GetSnapshotResponse, {
    "files": (1, "rmsg", FileInfo),  # metadata.proto:42-46
    "schema": (2, "msg", Schema),
    "error": (3, "string"),
})
protowire.register(CommitRequest, {
    "table_name": (1, "string"),    # metadata.proto:48-54
    "base_version": (2, "uint64"),
    "txn_id": (3, "string"),
    "adds": (4, "rmsg", FileInfo),
    "removes": (5, "rmsg", FileRemove),
})
protowire.register(CommitResponse, {
    "new_version": (1, "uint64"),   # metadata.proto:56-59
    "error": (2, "string"),
})
protowire.register(ListVersionsRequest, {
    "table_name": (1, "string"),    # metadata.proto:61-63
})
protowire.register(ListVersionsResponse, {
    "versions": (1, "ruint64"),     # metadata.proto:65-68
    "error": (2, "string"),
})
protowire.register(LeaderRequest, {})  # metadata.proto:70
protowire.register(LeaderResponse, {
    "leader_id": (1, "string"),     # metadata.proto:72-75
    "leader_address": (2, "string"),
})
protowire.register(HealthRequest, {})  # metadata.proto:77
protowire.register(HealthResponse, {
    "healthy": (1, "bool"),         # metadata.proto:79-82
    "status": (2, "string"),
})


def serve(lake: LakehouseSession, host: str = "127.0.0.1", port: int = 0):
    """Bind MetadataServicer + QueryExecutionServicer to a real
    grpc.Server. MetadataService speaks REAL PROTOBUF BYTES (the
    ``api.protowire`` codec implements the proto3 wire format for
    ``metadata.proto``'s messages — wire-compatible with any generated
    stub, no ``google.protobuf`` runtime needed); QueryExecutionService,
    which never got a .proto in the reference (it is an in-process Go
    service, ``grpc_service.go:134-257``), keeps the JSON codec over the
    same generic-handler wiring. Returns ``(server, bound_port)``; call
    ``server.stop(grace)`` to shut down. Raises ImportError when grpcio
    is not installed."""
    try:
        import grpc
    except ImportError as exc:  # pragma: no cover - environment-dependent
        raise ImportError(
            "grpcio is required for the gRPC transport; the MetadataServicer "
            "API is available without it"
        ) from exc
    from concurrent.futures import ThreadPoolExecutor

    def _handler(servicer, method: str, req_cls, codec: str):
        def unary(request, _context):
            return getattr(servicer, method)(request)

        if codec == "proto":
            return grpc.unary_unary_rpc_method_handler(
                unary,
                request_deserializer=lambda b: protowire.decode(req_cls, b),
                response_serializer=protowire.encode,
            )
        return grpc.unary_unary_rpc_method_handler(
            unary,
            request_deserializer=lambda b: req_cls.from_json(json.loads(b.decode())),
            response_serializer=lambda resp: json.dumps(resp.to_json()).encode(),
        )

    def _service(servicer, service_name, rpcs, codec):
        handlers = {
            name: _handler(servicer, name, req_cls, codec)
            for name, (req_cls, _) in rpcs.items()
        }
        return grpc.method_handlers_generic_handler(service_name, handlers)

    server = grpc.server(ThreadPoolExecutor(max_workers=8))
    server.add_generic_rpc_handlers(
        (
            _service(MetadataServicer(lake), SERVICE_NAME, RPCS, "proto"),
            _service(
                QueryExecutionServicer(lake), QUERY_SERVICE_NAME, QUERY_RPCS, "json"
            ),
        )
    )
    bound = server.add_insecure_port(f"{host}:{port}")
    server.start()
    return server, bound


# ---------------------------------------------------------------------------
# QueryExecutionService parity (``pkg/coordinator/grpc_service.go:134-257``).
#
# The reference exposes query execution as an in-process Go service with
# four methods — ExecuteQuery, GetQueryStatus, CancelQuery,
# WaitForQueryCompletion — whose request/response shapes are
# ``SimpleQuery`` (``query_planner.go:93-107``), ``QueryStatus``
# (``task_scheduler.go:377-385``), and ``QueryResult``/``QueryMetrics``
# (``grpc_service.go:259-275``). It never got a .proto (only the
# worker-registration plane did), so this mirrors the Go structs
# field-for-field instead, plus the TableService InsertData entry point
# (``table_service.go:121-244``) that the reference reaches over REST.
# Same layering as MetadataServicer: transport-agnostic servicer, errors
# in the response, optional grpc.Server binding via serve().
# ---------------------------------------------------------------------------

QUERY_SERVICE_NAME = "coordinator.QueryExecutionService"


@dataclass
class AggregateSpec(_Message):
    function: str = ""
    column: str = ""
    alias: str = ""


@dataclass
class ExecuteQueryRequest(_Message):
    """``SimpleQuery`` (``query_planner.go:93-100``): version 0 = latest."""

    table_name: str = ""
    filter: str = ""
    group_by: list[str] = dc_field(default_factory=list)
    aggregates: list[AggregateSpec] = dc_field(default_factory=list)
    projection: list[str] = dc_field(default_factory=list)
    version: int = 0


@dataclass
class ExecuteQueryResponse(_Message):
    job_id: str = ""
    error: str = ""


@dataclass
class GetQueryStatusRequest(_Message):
    job_id: str = ""


@dataclass
class GetQueryStatusResponse(_Message):
    """``QueryStatus`` (``task_scheduler.go:377-385``) + proto3-style error."""

    job_id: str = ""
    status: str = ""  # PENDING | RUNNING | COMPLETED | FAILED
    total_tasks: int = 0
    completed_tasks: int = 0
    failed_tasks: int = 0
    running_tasks: int = 0
    error: str = ""


@dataclass
class CancelQueryRequest(_Message):
    job_id: str = ""


@dataclass
class CancelQueryResponse(_Message):
    cancelled: bool = False
    error: str = ""


@dataclass
class WaitForQueryRequest(_Message):
    job_id: str = ""
    timeout_ms: int = 0  # 0 = default (300s)


@dataclass
class QueryMetricsMsg(_Message):
    """``QueryMetrics`` (``grpc_service.go:268-275``). The reference
    leaves retried/bytes/rows as zero TODOs (``:224-226``); we fill
    bytes/rows from the pinned-snapshot plan — a documented superset."""

    duration_ms: int = 0
    total_tasks: int = 0
    failed_tasks: int = 0
    retried_tasks: int = 0
    bytes_processed: int = 0
    rows_processed: int = 0


@dataclass
class QueryResultMsg(_Message):
    """``QueryResult`` (``grpc_service.go:259-265``): the reference
    returns the result *path*; rows stay in storage."""

    job_id: str = ""
    success: bool = False
    error: str = ""
    result_path: str = ""
    metrics: QueryMetricsMsg = dc_field(default_factory=QueryMetricsMsg)


@dataclass
class InsertDataRequest(_Message):
    """``TableService.InsertData`` (``table_service.go:121-244``;
    REST ``rest_api.go:289-325``): load external files, append-commit."""

    table_name: str = ""
    data_path: str = ""
    format: str = "parquet"
    txn_id: str = ""


@dataclass
class InsertDataResponse(_Message):
    version: int = 0
    error: str = ""


class QueryExecutionServicer:
    """The reference's query-execution service surface over a
    LakehouseSession's async-job API: ExecuteQuery submits and returns a
    job id immediately (``grpc_service.go:154-166``), GetQueryStatus
    reports lifecycle + task counts (``:169-194``), CancelQuery is
    best-effort (``:197-199``), WaitForQueryCompletion blocks and
    returns the result path + metrics (``:202-257``), and InsertData is
    the append-transaction entry point (``table_service.go:121-244``)."""

    def __init__(self, lake: LakehouseSession):
        self.lake = lake

    def ExecuteQuery(self, req: ExecuteQueryRequest) -> ExecuteQueryResponse:
        try:
            job_id = self.lake.submit_async(req.to_json())
        except KeyError as exc:
            return ExecuteQueryResponse(error=str(exc))
        return ExecuteQueryResponse(job_id=job_id)

    def GetQueryStatus(self, req: GetQueryStatusRequest) -> GetQueryStatusResponse:
        try:
            info = self.lake.job_status(req.job_id)
            m = self.lake.query_metrics(req.job_id)
        except KeyError as exc:
            return GetQueryStatusResponse(error=str(exc))
        return GetQueryStatusResponse(
            job_id=req.job_id,
            status=info.status,
            total_tasks=m["total_tasks"],
            completed_tasks=m["completed_tasks"],
            failed_tasks=m["failed_tasks"],
            running_tasks=m["running_tasks"],
        )

    def CancelQuery(self, req: CancelQueryRequest) -> CancelQueryResponse:
        try:
            return CancelQueryResponse(cancelled=self.lake.cancel_job(req.job_id))
        except KeyError as exc:
            return CancelQueryResponse(error=str(exc))

    def WaitForQueryCompletion(self, req: WaitForQueryRequest) -> QueryResultMsg:
        timeout_s = (req.timeout_ms / 1000.0) if req.timeout_ms else 300.0
        try:
            self.lake.job_status(req.job_id)
        except KeyError as exc:
            return QueryResultMsg(job_id=req.job_id, error=str(exc))
        try:
            info = self.lake.job_wait(req.job_id, timeout_s=timeout_s)
        except RuntimeError:
            info = self.lake.job_status(req.job_id)  # FAILED — report in-band
        except TimeoutError as exc:
            return QueryResultMsg(job_id=req.job_id, error=str(exc))
        if info.status != "COMPLETED":
            return QueryResultMsg(
                job_id=req.job_id, success=False, error=info.error or "failed"
            )
        m = self.lake.query_metrics(req.job_id)
        return QueryResultMsg(
            job_id=req.job_id,
            success=True,
            result_path=info.extra.get("result_path", ""),
            metrics=QueryMetricsMsg(
                duration_ms=m["duration_ms"],
                total_tasks=m["total_tasks"],
                failed_tasks=m["failed_tasks"],
                retried_tasks=0,
                bytes_processed=info.metrics.get("input_bytes", 0),
                rows_processed=info.metrics.get("input_rows", 0),
            ),
        )

    def InsertData(self, req: InsertDataRequest) -> InsertDataResponse:
        try:
            t = self.lake.table(req.table_name)
        except KeyError as exc:
            return InsertDataResponse(error=str(exc))
        try:
            version = t.insert_path(
                req.data_path, fmt=req.format, txn_id=req.txn_id or None
            )
        except Exception as exc:  # load/commit failures reported in-band
            return InsertDataResponse(error=str(exc))
        return InsertDataResponse(version=version)


QUERY_RPCS: dict[str, tuple] = {
    "ExecuteQuery": (ExecuteQueryRequest, ExecuteQueryResponse),
    "GetQueryStatus": (GetQueryStatusRequest, GetQueryStatusResponse),
    "CancelQuery": (CancelQueryRequest, CancelQueryResponse),
    "WaitForQueryCompletion": (WaitForQueryRequest, QueryResultMsg),
    "InsertData": (InsertDataRequest, InsertDataResponse),
}
