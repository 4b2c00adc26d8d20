"""Async job lifecycle + execution metrics (reference
QueryExecutionMetrics parity: distributed_query_executor.go:510-524)."""

import os
import threading
import time

from pyspark.sql import functions as F

from mini_lakehouse_control_plane_executor_spark.functions import filters
from mini_lakehouse_control_plane_executor_spark.plans.query import Aggregate, SimpleQuery
from mini_lakehouse_control_plane_executor_spark.table import catalog as cat
from mini_lakehouse_control_plane_executor_spark.table.log import TransactionLog
from mini_lakehouse_control_plane_executor_spark.table.schema import Field

SCHEMA = [Field("k", "int64"), Field("v", "string"), Field("x", "float64")]


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id").alias("k"),
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") * 1.5).alias("x"),
    )


def test_async_job_metrics(lake, spark):
    lake.create_table("jm", SCHEMA)
    lake.insert("jm", _df(spark, 0, 1000))
    q = SimpleQuery(
        table_name="jm",
        filter="k >= 100",
        group_by=["v"],
        aggregates=[Aggregate("count", "*", "n")],
        limit=5,
    )
    job_id = lake.submit_async(q)
    rows = lake.job_result(job_id)
    assert len(rows) == 5 and all(r["n"] == 1 for r in rows)

    info = lake.job_status(job_id)
    assert info.status == "COMPLETED" and info.finished_ms is not None
    m = info.metrics
    assert m["input_files"] >= 1
    assert m["input_bytes"] > 0
    assert m["input_rows"] == 1000
    assert m["output_rows"] == 5
    assert m["spark_jobs"] >= 1
    assert m["num_tasks"] >= 1
    assert info.to_json()["metrics"] == m


def test_job_lifecycle_observable(lake, spark, monkeypatch):
    """RUNNING is observable while the query executes; COMPLETED after."""
    lake.create_table("jl", SCHEMA)
    lake.insert("jl", _df(spark, 0, 10))

    gate = threading.Event()
    real_apply = cat.apply_query

    def slow_apply(df, q):
        gate.wait(10)
        return real_apply(df, q)

    monkeypatch.setattr(cat, "apply_query", slow_apply)
    job_id = lake.submit_async(SimpleQuery(table_name="jl"))
    deadline = time.time() + 5
    while lake.job_status(job_id).status == "PENDING" and time.time() < deadline:
        time.sleep(0.01)
    assert lake.job_status(job_id).status == "RUNNING"
    gate.set()
    assert len(lake.job_result(job_id)) == 10
    assert lake.job_status(job_id).status == "COMPLETED"


def test_failed_job_surfaces_error(lake, spark):
    """A query that fails while it runs ends as a FAILED job carrying its
    error; one naming no table is refused before any job exists."""
    import pytest

    lake.create_table("fj", SCHEMA)
    job_id = lake.submit_async(SimpleQuery(table_name="fj", projection=["does_not_exist"]))
    with pytest.raises(RuntimeError, match="does_not_exist"):
        lake.job_result(job_id)
    assert lake.job_status(job_id).status == "FAILED"
    with pytest.raises(KeyError, match="does_not_exist"):
        lake.submit_async(SimpleQuery(table_name="does_not_exist"))
    assert list(lake._jobs) == [job_id]


def test_large_result_is_file_backed_not_driver_resident(lake, spark):
    """VERDICT r02 item 4: a large un-aggregated SELECT * must never
    materialize its full row set in JobInfo — rows go to the parquet
    result sink; the driver keeps only a bounded preview."""
    import os

    from mini_lakehouse_control_plane_executor_spark.table import catalog as cat

    lake.create_table("big", SCHEMA)
    lake.insert("big", _df(spark, 0, 50_000))
    job_id = lake.submit_async(SimpleQuery(table_name="big"))
    info = lake.job_wait(job_id)

    assert "rows" not in info.extra  # full rows never stored on the driver
    assert len(info.extra["preview"]) == cat.RESULT_PREVIEW_ROWS
    assert info.metrics["output_rows"] == 50_000
    path = info.extra["result_path"]
    assert os.path.isdir(path)
    assert spark.read.parquet(path).count() == 50_000
    # On-demand full materialization still works for small-result callers.
    assert len(lake.job_result(job_id)) == 50_000


def test_finished_job_eviction_bounds_job_map(lake, spark, monkeypatch):
    """The job map and results dir stay bounded on a long-lived server."""
    import os

    from mini_lakehouse_control_plane_executor_spark.table import catalog as cat

    monkeypatch.setattr(cat, "MAX_FINISHED_JOBS", 3)
    lake.create_table("ev", SCHEMA)
    lake.insert("ev", _df(spark, 0, 10))
    ids = [lake.submit_async(SimpleQuery(table_name="ev")) for _ in range(6)]
    for j in ids:
        try:
            lake.job_wait(j)
        except KeyError:
            pass  # may already be evicted by a later job's cleanup
    finished = [j for j in lake._jobs.values() if j.status == "COMPLETED"]
    assert len(finished) <= 3
    # evicted jobs' result dirs are gone; surviving ones remain
    results_root = os.path.join(lake.root, "results")
    assert len(os.listdir(results_root)) <= 3


def test_result_sink_adds_no_spark_job(lake, spark):
    """The async job runs exactly the Spark jobs of writing its result:
    the row count and preview come from the written files' footers and
    rows on the driver, not from reading the result back through Spark."""
    import uuid

    lake.create_table("sj", SCHEMA)
    lake.insert("sj", _df(spark, 0, 1000))
    for q in (
        SimpleQuery(table_name="sj", aggregates=[Aggregate("count", "*", "n")]),
        SimpleQuery(table_name="sj", filter="k >= 500"),
        SimpleQuery(
            table_name="sj",
            group_by=["v"],
            aggregates=[Aggregate("max", "x", "m")],
        ),
    ):
        sc = spark.sparkContext
        group = f"ref-{uuid.uuid4()}"
        sc.setJobGroup(group, "reference write")
        try:
            lake.query(q).write.parquet(os.path.join(lake.root, group))
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        want = lake._stage_counters(group)["spark_jobs"]
        info = lake.job_wait(lake.submit_async(q))
        assert info.metrics["spark_jobs"] == want, q


EIGHT_TYPES = [
    Field("i", "int32"),
    Field("l", "int64"),
    Field("f", "float32"),
    Field("d", "float64"),
    Field("s", "string"),
    Field("b", "boolean"),
    Field("dt", "date"),
    Field("ts", "timestamp"),
]


def _collected(spark, path):
    rows = [r.asDict(recursive=True) for r in spark.read.parquet(path).collect()]
    return sorted(map(repr, rows))


def test_preview_matches_spark_collect(lake, spark):
    """The driver-side preview holds the values ``collect()`` returns for
    every schema type, nulls, NaN and infinities included."""
    import datetime as dt

    from mini_lakehouse_control_plane_executor_spark.table.schema import to_spark_schema

    nan, inf = float("nan"), float("inf")
    rows = [
        (1, 10, 1.5, 2.25, "a", True, dt.date(2024, 2, 29),
         dt.datetime(2024, 2, 29, 23, 59, 59, 123456)),
        (2, -(2**62), nan, -inf, "ü", False, dt.date(1969, 12, 31),
         dt.datetime(1969, 12, 31, 23, 59, 59)),
        (3, 2**62, -inf, nan, "", True, dt.date(1, 1, 1),
         dt.datetime(2038, 1, 19, 3, 14, 8)),
        (None, None, None, None, None, None, None, None),
    ]
    lake.create_table("types", EIGHT_TYPES)
    lake.insert("types", spark.createDataFrame(rows, to_spark_schema(EIGHT_TYPES)))

    info = lake.job_wait(lake.submit_async(SimpleQuery(table_name="types")))
    assert info.metrics["output_rows"] == 4
    want = _collected(spark, info.extra["result_path"])
    assert sorted(map(repr, info.extra["preview"])) == want
    assert sorted(map(repr, lake.job_result(info.job_id))) == want

    grouped = SimpleQuery(
        table_name="types",
        group_by=["b"],
        aggregates=[
            Aggregate("avg", "d", "avg_d"),
            Aggregate("min", "ts", "min_ts"),
            Aggregate("max", "f", "max_f"),
            Aggregate("count", "*", "n"),
        ],
    )
    info = lake.job_wait(lake.submit_async(grouped))
    assert info.metrics["output_rows"] == 3
    assert sorted(map(repr, info.extra["preview"])) == _collected(
        spark, info.extra["result_path"]
    )


def test_empty_result(lake, spark):
    from mini_lakehouse_control_plane_executor_spark.api.rest import LakehouseRestServer

    lake.create_table("em", SCHEMA)
    lake.insert("em", _df(spark, 0, 100))
    for flt in ("k < 0", "x < 0"):  # pruned to no file / scanned, no match
        info = lake.job_wait(lake.submit_async(SimpleQuery(table_name="em", filter=flt)))
        assert info.metrics["output_rows"] == 0
        assert info.extra["preview"] == []
        assert lake.job_result(info.job_id) == []
        srv = LakehouseRestServer(lake)
        try:
            status, body = srv.query_results(info.job_id)
        finally:
            srv.httpd.server_close()
        assert status == 200 and body["rows"] == [] and body["preview_only"] is False


def test_job_result_keeps_result_order(lake, spark):
    """A result written as several part files reads back in write order.
    Spark's own reader packs files into partitions largest first, so a
    pad that grows with ``k`` would scramble an ordered result."""
    lake.create_table("ord", [Field("k", "int64"), Field("pad", "string")])
    lake.insert(
        "ord",
        spark.range(20_000).select(
            F.col("id").alias("k"), F.expr("repeat('x', cast(id / 50 as int))").alias("pad")
        ),
    )
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        job_id = lake.submit_async(SimpleQuery(table_name="ord", order_by=["k"]))
        rows = lake.job_result(job_id)
    finally:
        spark.conf.set(key, old)
    parts = [
        f for f in os.listdir(lake.job_status(job_id).extra["result_path"])
        if f.startswith("part-")
    ]
    assert len(parts) > 1
    ks = [r["k"] for r in rows]
    assert ks == list(range(20_000))


def test_job_pins_one_snapshot(lake, spark, monkeypatch):
    """Input metrics describe the version the job ran: a commit landing
    between snapshot resolution and execution must change neither."""
    lake.create_table("pin", SCHEMA)
    lake.insert("pin", _df(spark, 0, 10))
    real_apply = cat.apply_query

    def racing_apply(df, q):
        lake.insert("pin", _df(spark, 10, 25))
        return real_apply(df, q)

    monkeypatch.setattr(cat, "apply_query", racing_apply)
    q = SimpleQuery(table_name="pin", aggregates=[Aggregate("count", "*", "n")])
    info = lake.job_wait(lake.submit_async(q))
    assert info.metrics["input_rows"] == lake.job_result(info.job_id)[0]["n"] == 10

    job_id, df = lake.submit(q)
    assert lake.job_status(job_id).metrics["input_rows"] == df.collect()[0]["n"] == 25


def test_job_resolves_its_snapshot_once(lake, spark, monkeypatch):
    """``query``, ``submit`` and ``submit_async`` each resolve the table's
    snapshot once and prune its files at most once, on a time-travel
    query too (a version behind the log's cached state replays cold)."""
    lake.create_table("once", SCHEMA)
    for lo in range(0, 30, 10):
        lake.insert("once", _df(spark, lo, lo + 10))
    calls = {"snapshot": 0, "prune": 0}
    real_snapshot, real_prune = TransactionLog.snapshot, filters.prune_files

    def snapshot(self, version=None):
        calls["snapshot"] += 1
        return real_snapshot(self, version)

    def prune(files, filter_str, schema=None):
        calls["prune"] += 1
        return real_prune(files, filter_str, schema)

    monkeypatch.setattr(TransactionLog, "snapshot", snapshot)
    monkeypatch.setattr(filters, "prune_files", prune)
    runs = {
        "query": lambda q: lake.query(q).collect(),
        "submit": lambda q: lake.submit(q)[1].collect(),
        "submit_async": lambda q: lake.job_result(lake.submit_async(q)),
    }
    for name, run in runs.items():
        for q in (
            SimpleQuery(table_name="once", filter="k >= 15"),
            SimpleQuery(table_name="once", version=3),
        ):
            calls.update(snapshot=0, prune=0)
            run(q)
            assert calls == {"snapshot": 1, "prune": int(bool(q.filter))}, (name, q)


def test_time_travel_job_counts_live_rows(lake, spark):
    """A job at an old version over deletion-vector-carrying files
    reports the live rows of the files its filter keeps."""
    lake.create_table("ttdv", SCHEMA)
    for lo in range(0, 400, 100):
        lake.insert("ttdv", _df(spark, lo, lo + 100).coalesce(1))
    t = lake.table("ttdv")
    t.delete("k % 10 = 0", mode="merge-on-read")
    v = t.snapshot().version
    lake.insert("ttdv", _df(spark, 400, 500).coalesce(1))
    q = SimpleQuery(
        table_name="ttdv", version=v, filter="k >= 150",
        aggregates=[Aggregate("count", "*", "n")],
    )
    info = lake.job_wait(lake.submit_async(q))
    kept = t.snapshot(v).scan("k >= 150")
    assert len(kept) == 3 and all(f.dv_rows == 10 for f in kept)
    assert info.metrics["input_files"] == 3
    assert info.metrics["input_rows"] == sum(f.rows - f.dv_rows for f in kept) == 270
    # The filter is applied row-level too: 150..399 less the multiples of 10.
    assert lake.job_result(info.job_id)[0]["n"] == 225
