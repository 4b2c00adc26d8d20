"""Pruning soundness property: prune_files may only drop files that
contain ZERO rows matching the predicate — DELETE/UPDATE correctness
depends on this (a wrongly-pruned file would silently keep rows that
should have been rewritten). Checked per excluded file with DuckDB, and
through Spark on a table whose files come from both writers: Spark's
(a distributed frame) and pyarrow's (a driver-local one)."""

import datetime as dt
import os

import duckdb
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from mini_lakehouse_control_plane_executor_spark.functions.filters import (
    parse_filter,
    prune_files,
)
from mini_lakehouse_control_plane_executor_spark.table.schema import Field

SCHEMA = [Field("k", "int64"), Field("v", "string"), Field("x", "float64")]


def _insert(spark, t, rows, ddl, local):
    """Insert ``rows`` as one file, written by Spark (a coalesced,
    distributed frame) or, when ``local``, by the driver-local pyarrow
    path (an Arrow-backed frame)."""
    df = spark.createDataFrame(rows, ddl)
    if local:
        df = spark.createDataFrame(df.toArrow())
        assert df.isLocal()
    else:
        df = df.coalesce(1)
    t.insert(df)


@pytest.fixture(scope="module")
def stats_table(spark, tmp_path_factory):
    from mini_lakehouse_control_plane_executor_spark.table.catalog import LakehouseSession

    lake = LakehouseSession(spark, str(tmp_path_factory.mktemp("prune")))
    lake.create_table("p", SCHEMA)
    t = lake.table("p")
    batches = [
        [(-50 + i, f"a{i}", -5.5 + i) for i in range(40)],        # negatives
        [(i, f"b{i:03d}", i * 0.5) for i in range(100, 140)],     # mid range
        [(i, f"c{i}", float(i)) for i in range(1000, 1020)],      # high range
        [(7, "dup", 7.0)] * 10,                                   # all-equal file
        [(i, None, None) for i in range(500, 510)]                # NULL file
        + [(510, "z", 1e9)],
    ]
    for i, rows in enumerate(batches):
        _insert(spark, t, rows, "k long, v string, x double", local=i % 2 == 1)
    return t


_COLS = {"k": st.integers(-60, 1100), "x": st.floats(-10, 1e9, allow_nan=False, width=32),
         "v": st.sampled_from(["a0", "b100", "c1005", "dup", "z", "", "zzz"])}
_OPS = ["=", "==", ">", "<", ">=", "<=", "!=", "<>"]


@settings(
    max_examples=120,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_pruned_files_have_no_matches(stats_table, data):
    col = data.draw(st.sampled_from(["k", "v", "x"]))
    op = data.draw(st.sampled_from(_OPS))
    lit = data.draw(_COLS[col])
    lit_str = f"'{lit}'" if col == "v" else repr(lit)
    filter_str = f"{col} {op} {lit_str}"

    snap = stats_table.snapshot()
    pruned = prune_files(snap.files, filter_str)
    assert set(f.path for f in pruned) <= set(f.path for f in snap.files)

    sql_op = {"==": "=", "!=": "<>"}.get(op, op)
    excluded = [f for f in snap.files if f not in pruned]
    for f in excluded:
        path = os.path.join(stats_table.dir, f.path)
        n = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{path}') WHERE {col} {sql_op} {lit_str}"
        ).fetchone()[0]
        assert n == 0, (
            f"file {f.path} pruned away but holds {n} rows matching {filter_str}"
        )


@settings(
    max_examples=80,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_conjunction_pruning_sound(stats_table, data):
    """AND-conjunctions prune as the intersection of their terms and
    never drop a file containing a row matching the whole predicate."""
    terms = []
    for _ in range(data.draw(st.integers(2, 3))):
        col = data.draw(st.sampled_from(["k", "x"]))
        op = data.draw(st.sampled_from(_OPS))
        lit = data.draw(_COLS[col])
        terms.append(f"{col} {op} {repr(lit)}")
    filter_str = " AND ".join(terms)

    snap = stats_table.snapshot()
    pruned = prune_files(snap.files, filter_str)
    sql = " AND ".join(
        t.replace(" == ", " = ").replace(" != ", " <> ") for t in terms
    )
    for f in snap.files:
        if f in pruned:
            continue
        path = os.path.join(stats_table.dir, f.path)
        n = duckdb.sql(
            f"SELECT count(*) FROM read_parquet('{path}') WHERE {sql}"
        ).fetchone()[0]
        assert n == 0, f"{f.path} pruned but matches {filter_str}"


def test_conjunction_pruning_effective(stats_table):
    """A range conjunction actually drops files (not just soundness)."""
    snap = stats_table.snapshot()
    pruned = prune_files(snap.files, "k >= 100 AND k < 140")
    assert 0 < len(pruned) < len(snap.files)


def test_timestamp_date_pruning(spark, tmp_path):
    """date/timestamp columns harvest fixed-width ISO stats and prune on
    time-range predicates; DELETE on a time range rewrites only the
    intersecting files."""
    from mini_lakehouse_control_plane_executor_spark.table.catalog import LakehouseSession

    lake = LakehouseSession(spark, str(tmp_path))
    lake.create_table(
        "tt", [Field("id", "int64"), Field("ts", "timestamp"), Field("d", "date")]
    )
    t = lake.table("tt")
    for day in (1, 10, 20):
        rows = [
            (day * 100 + i,
             dt.datetime(2024, 3, day, i, 30, 0),
             dt.date(2024, 3, day))
            for i in range(5)
        ]
        _insert(spark, t, rows, "id long, ts timestamp, d date", local=day == 10)

    snap = t.snapshot()
    assert all("ts" in f.min_values and "d" in f.min_values for f in snap.files)

    # Timestamp range prune: only the day-20 file can match.
    kept = prune_files(snap.files, "ts >= '2024-03-15 00:00:00'", snap.schema)
    assert len(kept) == 1
    # Midnight boundary: '2024-03-10' means midnight; the day-10 file's
    # earliest row is 00:30, so only the day-1 file can match.
    kept = prune_files(snap.files, "ts <= '2024-03-10'", snap.schema)
    assert len(kept) == 1
    assert spark.read.parquet(
        *[f"{t.dir}/{f.path}" for f in snap.files]
    ).filter("ts <= '2024-03-10'").count() == 5  # engine agrees: day-1 only
    # Date equality prunes to one file.
    kept = prune_files(snap.files, "d = '2024-03-10'", snap.schema)
    assert len(kept) == 1
    # Unintelligible literal: no pruning (conservative).
    assert len(prune_files(snap.files, "ts > 'not-a-time'", snap.schema)) == 3
    # Without the schema, mismatched shapes never prune.
    assert len(prune_files(snap.files, "ts >= '2024-03-15 00:00:00'")) == 3

    # End-to-end: reads and DELETE agree with engine semantics.
    assert t.read(prune_filter="ts >= '2024-03-15 00:00:00'").count() == 5
    assert t.read().filter("ts >= '2024-03-15 00:00:00'").count() == 5
    files_before = {f.path for f in snap.files}
    version, n = t.delete("ts >= '2024-03-20 00:00:00' AND ts < '2024-03-21 00:00:00'")
    assert n == 5
    survivors = {f.path for f in t.snapshot().files}
    # The two untouched day-files carried over by reference.
    assert len(files_before & survivors) == 2
    assert t.read().count() == 10


_UTC = dt.timezone.utc
_NAN = float("nan")
# Six one-file batches, alternately written by Spark and by pyarrow:
# (id, ts, d, v, x) with NaN, -0.0, nulls, non-ASCII strings, a leap
# day, pre-1970 and microsecond timestamps.
_MIXED_BATCHES = [
    [(1, dt.datetime(2024, 2, 28, 1, 0, 0, 5, tzinfo=_UTC), dt.date(2024, 2, 28), "apple", 1.5),
     (2, dt.datetime(2024, 2, 28, 23, 59, 59, 999999, tzinfo=_UTC), dt.date(2024, 2, 28), "banana", 4.0)],
    [(3, dt.datetime(2024, 2, 29, 0, 0, 0, 1, tzinfo=_UTC), dt.date(2024, 2, 29), "café", _NAN),
     (4, dt.datetime(2024, 2, 29, 12, 0, tzinfo=_UTC), dt.date(2024, 2, 29), "crème", -0.0)],
    [(5, dt.datetime(2024, 3, 1, tzinfo=_UTC), dt.date(2024, 3, 1), "日本", -0.0),
     (6, dt.datetime(2024, 3, 1, 6, 30, tzinfo=_UTC), dt.date(2024, 3, 1), "日本語", _NAN)],
    [(7, None, None, None, None),
     (8, dt.datetime(1969, 12, 31, 23, 59, 59, 999999, tzinfo=_UTC), dt.date(1969, 12, 31), "Zebra", -2.5)],
    [(9, dt.datetime(2024, 3, 5, tzinfo=_UTC), dt.date(2024, 3, 5), "🦆", 0.0),
     (10, dt.datetime(2024, 3, 5, tzinfo=_UTC), dt.date(2024, 3, 5), "🦆", 0.0)],
    [(11, dt.datetime(2024, 3, 9, 9, tzinfo=_UTC), dt.date(2024, 3, 9), "", _NAN),
     (12, dt.datetime(2024, 3, 10, tzinfo=_UTC), dt.date(2024, 3, 10), "z", 1e300)],
]


@pytest.fixture(scope="module")
def mixed_table(spark, tmp_path_factory):
    from mini_lakehouse_control_plane_executor_spark.table.catalog import LakehouseSession

    lake = LakehouseSession(spark, str(tmp_path_factory.mktemp("mixed")))
    lake.create_table(
        "m",
        [Field("id", "int64"), Field("ts", "timestamp"), Field("d", "date"),
         Field("v", "string"), Field("x", "float64")],
    )
    t = lake.table("m")
    for i, rows in enumerate(_MIXED_BATCHES):
        _insert(spark, t, rows, "id long, ts timestamp, d date, v string, x double",
                local=i % 2 == 1)
    assert len(t.snapshot().files) == len(_MIXED_BATCHES)
    return t


def _values(col):
    i = ["id", "ts", "d", "v", "x"].index(col)
    return [r[i] for rows in _MIXED_BATCHES for r in rows if r[i] is not None]


_MIXED_LITERALS = {
    "ts": st.sampled_from(_values("ts")).flatmap(
        lambda t: st.sampled_from([
            f"'{t.strftime(fmt)}'"
            for fmt in ("%Y-%m-%d %H:%M:%S.%f", "%Y-%m-%d %H:%M:%S", "%Y-%m-%d")
        ])
    ),
    "d": st.sampled_from(_values("d")).flatmap(
        lambda d: st.sampled_from([f"'{d + dt.timedelta(days=k)}'" for k in (-1, 0, 1)])
    ),
    "v": st.sampled_from(_values("v") + ["a", "caf", "日", "zz", "Z"]).map(lambda v: f"'{v}'"),
    "x": st.one_of(
        st.sampled_from([x for x in _values("x") if x == x] + [0.0, 3.0, -1e300]),
        st.floats(-10, 10, allow_nan=False),
    ).map(repr),
}


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(data=st.data())
def test_mixed_writers_prune_to_the_same_rows(mixed_table, data):
    """On a table of Spark- and pyarrow-written files, every timestamp,
    date, string and float comparison returns the same rows with and
    without min/max pruning."""
    col = data.draw(st.sampled_from(sorted(_MIXED_LITERALS)))
    op = data.draw(st.sampled_from(_OPS))
    pred = f"{col} {op} {data.draw(_MIXED_LITERALS[col])}"

    def ids(prune_filter):
        df = mixed_table.read(prune_filter=prune_filter).filter(parse_filter(pred))
        return sorted(r.id for r in df.select("id").collect())

    assert ids(pred) == ids(None), pred


def test_mixed_writers_prune_files(mixed_table):
    """Pruning on the mixed table drops files for every column type, and
    keeps each file whose NaN rows match ``x > v`` in Spark's ordering."""
    snap = mixed_table.snapshot()
    for pred in ("ts >= '2024-03-05'", "d < '2024-02-29'", "v > 'z'", "x < -1.0"):
        assert 0 < len(snap.scan(pred)) < len(snap.files), pred
    nan_ids = {3, 6, 11}
    kept = mixed_table.read(prune_filter="x > 5.0").filter("x > 5.0")
    assert {r.id for r in kept.collect()} == nan_ids | {12}
