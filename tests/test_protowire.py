"""proto3 wire-format codec (``api.protowire``) for ``metadata.proto``.

No google.protobuf / grpcio needed: these tests verify the codec against
the protobuf encoding SPEC directly — hand-computed golden bytes, zero-
default omission, unknown-field skip, packed+unpacked repeated ints, map
entries — plus exhaustive round-trips over every MetadataService
request/response shape. When grpcio IS present, tests/test_grpc_api.py
additionally drives these bytes over a real grpc.Server.
"""

import dataclasses

import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

import mini_lakehouse_control_plane_executor_spark.api.grpc_api as g
from mini_lakehouse_control_plane_executor_spark.api import protowire as pw


# -- spec-level golden bytes ------------------------------------------------


def test_golden_create_table_request():
    """Hand-computed from the protobuf encoding spec: tag = (field_num
    << 3) | wire_type; strings/messages are wire type 2 with varint
    length; bools are varint 1."""
    req = g.CreateTableRequest(
        table_name="t",
        schema=g.Schema([g.Field("id", "int64", True)]),
    )
    field_bytes = (
        b"\x0a\x02id"        # Field.name (1, len 2)
        b"\x12\x05int64"     # Field.type (2, len 5)
        b"\x18\x01"          # Field.nullable (3, varint 1)
    )
    schema_bytes = b"\x0a" + bytes([len(field_bytes)]) + field_bytes
    want = (
        b"\x0a\x01t"         # table_name (1, len 1)
        + b"\x12" + bytes([len(schema_bytes)]) + schema_bytes
    )
    assert pw.encode(req) == want
    assert pw.decode(g.CreateTableRequest, want) == req


def test_golden_commit_response_and_varint_boundary():
    # new_version = 300 -> varint 0xac 0x02 (the spec's worked example).
    assert pw.encode(g.CommitResponse(new_version=300)) == b"\x08\xac\x02"
    assert pw.decode(g.CommitResponse, b"\x08\xac\x02").new_version == 300


def test_zero_defaults_omitted():
    """proto3 canonical form: zero scalars, empty strings, empty
    aggregates, and empty submessages produce NO bytes."""
    assert pw.encode(g.CreateTableRequest()) == b""
    assert pw.encode(g.HealthRequest()) == b""
    assert pw.encode(g.GetSnapshotResponse()) == b""
    # And decode of b"" yields all-defaults.
    assert pw.decode(g.CommitRequest, b"") == g.CommitRequest()


def test_unknown_fields_skipped():
    """Forward compatibility: a peer built from a NEWER .proto may send
    extra fields; the decoder must skip them by wire type."""
    base = pw.encode(g.GetLatestVersionResponse(version=7))
    extra = (
        b"\x98\x06\x2a"      # field 99, varint
        + b"\xa2\x06\x03abc"  # field 100, length-delimited
        + b"\xad\x06\x00\x00\x80\x3f"  # field 101, 32-bit
    )
    msg = pw.decode(g.GetLatestVersionResponse, base + extra)
    assert msg.version == 7 and msg.error == ""


def test_repeated_uint64_packed_and_unpacked():
    resp = g.ListVersionsResponse(versions=[1, 2, 300])
    enc = pw.encode(resp)
    # Packed on encode: one length-delimited field 1.
    assert enc == b"\x0a\x04\x01\x02\xac\x02"
    assert pw.decode(g.ListVersionsResponse, enc).versions == [1, 2, 300]
    # Unpacked form (one varint field per element) must also parse —
    # the spec requires decoders to accept both.
    unpacked = b"\x08\x01\x08\x02\x08\xac\x02"
    assert pw.decode(g.ListVersionsResponse, unpacked).versions == [1, 2, 300]


def test_map_entries_sorted_and_roundtrip():
    st = g.FileStats(min_values={"b": "2", "a": "1"}, max_values={"a": "9"})
    enc = pw.encode(st)
    # Deterministic: key-sorted entries; entry = {1: key, 2: value}.
    assert enc == (
        b"\x0a\x06" + b"\x0a\x01a\x12\x011"
        + b"\x0a\x06" + b"\x0a\x01b\x12\x012"
        + b"\x12\x06" + b"\x0a\x01a\x12\x019"
    )
    back = pw.decode(g.FileStats, enc)
    assert back.min_values == {"a": "1", "b": "2"}
    assert back.max_values == {"a": "9"}


def test_map_numeric_values_stringified():
    """map<string,string> per the proto: numeric stats stringify on
    encode (json repr, what a Go peer would receive) and stay strings."""
    st = g.FileStats(min_values={"qty": 1.5, "id": 7})
    back = pw.decode(g.FileStats, pw.encode(st))
    assert back.min_values == {"qty": "1.5", "id": "7"}


def test_truncated_payload_rejected():
    good = pw.encode(g.GetSnapshotRequest(table_name="orders", version=3))
    with pytest.raises(ValueError):
        pw.decode(g.GetSnapshotRequest, good[:-1])
    with pytest.raises(ValueError):
        pw.decode(g.GetSnapshotRequest, b"\x0a\x7fshort")


# -- exhaustive round-trips over the service surface ------------------------


def _samples():
    stats = g.FileStats({"id": "1"}, {"id": "99"})
    fi = g.FileInfo("data/p1.parquet", 10, 2048, {"region": "eu"}, stats)
    return [
        g.CreateTableRequest("t", g.Schema([g.Field("id", "int64", False)])),
        g.CreateTableResponse(success=True),
        g.CreateTableResponse(error="table 't' already exists"),
        g.GetLatestVersionRequest("t"),
        g.GetLatestVersionResponse(version=4),
        g.GetSnapshotRequest("t", 2),
        g.GetSnapshotResponse(
            files=[fi], schema=g.Schema([g.Field("id", "int64", True)])
        ),
        g.GetSnapshotResponse(error="no such table"),
        g.CommitRequest(
            "t", 3, "txn-1", adds=[fi], removes=[g.FileRemove("data/p0.parquet")]
        ),
        g.CommitResponse(new_version=5),
        g.ListVersionsRequest("t"),
        g.ListVersionsResponse(versions=[1, 2, 3]),
        g.LeaderRequest(),
        g.LeaderResponse("app-1", "local[32]"),
        g.HealthRequest(),
        g.HealthResponse(healthy=True, status="healthy"),
    ]


@pytest.mark.parametrize("msg", _samples(), ids=lambda m: type(m).__name__)
def test_roundtrip(msg):
    assert pw.decode(type(msg), pw.encode(msg)) == msg


def test_every_rpc_message_registered():
    """Each of the seven MetadataService RPCs encodes/decodes through
    protowire — the wire contract covers the whole service surface —
    and every registered descriptor names exactly its dataclass's
    fields, nested messages included: a field missing from the
    descriptor would travel over JSON but vanish on the proto wire."""
    for name, (req_cls, resp_cls) in g.RPCS.items():
        for cls in (req_cls, resp_cls):
            m = cls()
            assert pw.decode(cls, pw.encode(m)) == m, (name, cls)
    for cls in (g.Field, g.Schema, g.FileStats, g.FileInfo, g.FileRemove):
        assert cls in pw._DESCRIPTORS, cls
    for cls, desc in pw._DESCRIPTORS.items():
        assert set(desc) == {f.name for f in dataclasses.fields(cls)}, cls


def test_servicer_over_wire_bytes(lake):
    """End-to-end minus the socket: requests ENCODED TO PROTO BYTES,
    decoded by the server-side codec, handled by the servicer, response
    re-encoded — exactly what serve()'s generic handlers do."""
    svc = g.MetadataServicer(lake)

    def call(rpc, req):
        req_cls, resp_cls = g.RPCS[rpc]
        wire_req = pw.decode(req_cls, pw.encode(req))
        resp = getattr(svc, rpc)(wire_req)
        return pw.decode(resp_cls, pw.encode(resp))

    schema = g.Schema([g.Field("id", "int64", False), g.Field("v", "float64", True)])
    out = call("CreateTable", g.CreateTableRequest("wt", schema))
    assert out.success and not out.error
    assert call("GetLatestVersion", g.GetLatestVersionRequest("wt")).version == 1
    snap = call("GetSnapshot", g.GetSnapshotRequest("wt"))
    assert [f.name for f in snap.schema.fields] == ["id", "v"] and not snap.error
    assert call("ListVersions", g.ListVersionsRequest("wt")).versions == [1]
    assert call("Health", g.HealthRequest()).healthy
    assert call("Leader", g.LeaderRequest()).leader_id
    # Error-in-response convention survives the wire.
    missing = call("GetSnapshot", g.GetSnapshotRequest("nope"))
    assert missing.error and not missing.files


@given(st.binary(max_size=200))
@settings(max_examples=300, deadline=None)
def test_decode_arbitrary_bytes_never_crashes_uncleanly(data):
    """Adversarial robustness: decoding ARBITRARY bytes as any message
    type either succeeds (bytes happened to be a valid proto3 payload —
    unknown fields are skipped by spec) or raises a clean ValueError /
    EOF-style error — never an unbounded loop, IndexError, or crash.
    This is the property a network-facing codec must have: a malformed
    peer cannot take the server down."""
    for cls in (
        g.CreateTableRequest,
        g.GetSnapshotResponse,
        g.CommitRequest,
        g.FileInfo,
        g.Schema,
    ):
        try:
            msg = pw.decode(cls, data)
        except (ValueError, IndexError) as exc:
            # IndexError would be a lazy bound-check; require ValueError
            assert isinstance(exc, ValueError), f"{cls.__name__}: {type(exc)}"
            continue
        # decodable garbage must re-encode without error
        pw.encode(msg)


def test_truncated_unknown_field_rejected():
    """Truncation landing inside a SKIPPED unknown field must raise,
    not decode to a partial message (r12 review): a CommitRequest whose
    trailing unknown field is cut off previously decoded cleanly with
    fewer fields — corruption accepted selectively."""
    raw = pw.encode(g.GetLatestVersionResponse(version=7))
    # append an unknown LEN field (tag 15) claiming 100 bytes but
    # providing 2 — a truncated trailer
    trailer = bytes([15 << 3 | 2, 100]) + b"xx"
    with pytest.raises(ValueError, match="truncated"):
        pw.decode(g.GetLatestVersionResponse, raw + trailer)
    # unknown I64 field cut to 3 bytes
    trailer = bytes([14 << 3 | 1]) + b"abc"
    with pytest.raises(ValueError, match="truncated"):
        pw.decode(g.GetLatestVersionResponse, raw + trailer)
