"""Schema model: flat ``{name, type, nullable}`` field lists.

Mirrors the reference's declared type system (CreateTable validation in
``pkg/coordinator/table_service.go:546-559``: int32, int64, float32,
float64, string, boolean, date, timestamp) mapped onto Spark types.
Unlike the reference — whose execution engine only handles a subset of
its declared types — every declared type is fully executable here
because Spark's engine is type-complete.
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from pyspark.sql import types as T

_TYPE_MAP: dict[str, T.DataType] = {
    "int32": T.IntegerType(),
    "int64": T.LongType(),
    "float32": T.FloatType(),
    "float64": T.DoubleType(),
    "string": T.StringType(),
    "boolean": T.BooleanType(),
    "date": T.DateType(),
    "timestamp": T.TimestampType(),
}
_REVERSE_TYPE_MAP = {type(v): k for k, v in _TYPE_MAP.items()}


def arrow_types() -> dict:
    """Schema-type -> pyarrow-type map, built lazily (executor-side
    workers import pyarrow on demand). ONE definition shared by the data
    source reader's evolution-NULL backfill and the REST row builder: a
    type added to only one of two copies would silently diverge the read
    and write paths."""
    import pyarrow as pa

    return {
        "int32": pa.int32(),
        "int64": pa.int64(),
        "float32": pa.float32(),
        "float64": pa.float64(),
        "string": pa.string(),
        "boolean": pa.bool_(),
        "date": pa.date32(),
        "timestamp": pa.timestamp("us", tz="UTC"),
    }

_NAME_RE = re.compile(r"^[A-Za-z0-9_]+$")


class SchemaError(ValueError):
    pass


@dataclass(frozen=True)
class Field:
    name: str
    type: str
    nullable: bool = True


def validate_table_name(name: str) -> None:
    """Reference rules: non-empty, ≤64 chars, ``[A-Za-z0-9_]`` only
    (``pkg/coordinator/table_service.go:497-514``)."""
    if not name:
        raise SchemaError("table name must be non-empty")
    if len(name) > 64:
        raise SchemaError(f"table name too long ({len(name)} > 64)")
    if not _NAME_RE.match(name):
        raise SchemaError(f"invalid table name {name!r}: only [A-Za-z0-9_] allowed")


def validate_schema(fields: list[Field]) -> None:
    """Reference rules: non-empty, duplicate-free names, known types
    (``pkg/coordinator/table_service.go:517-559``)."""
    if not fields:
        raise SchemaError("schema must have at least one field")
    seen: set[str] = set()
    for f in fields:
        if not f.name:
            raise SchemaError("field name must be non-empty")
        if f.name in seen:
            raise SchemaError(f"duplicate field name {f.name!r}")
        seen.add(f.name)
        if f.type not in _TYPE_MAP:
            raise SchemaError(
                f"unknown type {f.type!r} for field {f.name!r}; "
                f"allowed: {sorted(_TYPE_MAP)}"
            )


def to_spark_schema(fields: list[Field]) -> T.StructType:
    return T.StructType(
        [T.StructField(f.name, _TYPE_MAP[f.type], f.nullable) for f in fields]
    )


def from_spark_schema(schema: T.StructType) -> list[Field]:
    fields = []
    for sf in schema.fields:
        key = _REVERSE_TYPE_MAP.get(type(sf.dataType))
        if key is None:
            raise SchemaError(f"unmappable Spark type {sf.dataType} for {sf.name!r}")
        fields.append(Field(sf.name, key, sf.nullable))
    return fields


def fields_to_json(fields: list[Field]) -> list[dict]:
    return [{"name": f.name, "type": f.type, "nullable": f.nullable} for f in fields]


def fields_from_json(data: list[dict]) -> list[Field]:
    return [Field(d["name"], d["type"], d.get("nullable", True)) for d in data]
