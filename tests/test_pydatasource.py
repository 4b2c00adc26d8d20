"""`minilake` Python data source (Spark 4 DataSource API): log-driven
visibility through spark.read.format(...), snapshot isolation pinned at
plan time, one input partition per file, stats-based file pruning."""

import pytest

from pyspark.sql import functions as F

from mini_lakehouse_control_plane_executor_spark.sources import register
from mini_lakehouse_control_plane_executor_spark.table.schema import Field

SCHEMA = [Field("id", "int64", False), Field("v", "string", True)]


def _mk(spark, lo, hi):
    return spark.range(lo, hi).select(
        "id", F.concat(F.lit("v"), F.col("id")).alias("v")
    )


def _fmt(spark, lake, table, version=None):
    r = (
        spark.read.format("minilake")
        .option("root", lake.root)
        .option("table", table)
    )
    if version is not None:
        r = r.option("version", version)
    return r.load()


def test_format_read_matches_native(lake, spark):
    register(spark)
    lake.create_table("ds", SCHEMA)
    lake.insert("ds", _mk(spark, 0, 40))
    lake.insert("ds", _mk(spark, 40, 60))
    df = _fmt(spark, lake, "ds")
    native = lake.table("ds").read()
    # The format read carries the TABLE schema (incl. nullable=False);
    # the native parquet read relaxes nullability — compare names/types.
    from mini_lakehouse_control_plane_executor_spark.table.schema import to_spark_schema

    assert df.schema == to_spark_schema(lake.table("ds").fields)
    assert [(f.name, f.dataType) for f in df.schema.fields] == [
        (f.name, f.dataType) for f in native.schema.fields
    ]
    assert sorted(r["id"] for r in df.collect()) == sorted(
        r["id"] for r in native.collect()
    )
    assert df.count() == 60


def test_format_time_travel(lake, spark):
    register(spark)
    lake.create_table("dv", SCHEMA)
    lake.insert("dv", _mk(spark, 0, 10))  # v2
    lake.insert("dv", _mk(spark, 10, 30))  # v3
    assert _fmt(spark, lake, "dv", version=2).count() == 10
    assert _fmt(spark, lake, "dv", version=3).count() == 30


def test_format_snapshot_isolation(lake, spark):
    """The file list pins when the DataFrame is planned: a commit after
    load() does not leak into the already-created frame."""
    register(spark)
    lake.create_table("di", SCHEMA)
    lake.insert("di", _mk(spark, 0, 10))
    df = _fmt(spark, lake, "di")
    df.count()  # force plan + snapshot resolution
    lake.insert("di", _mk(spark, 10, 25))
    assert df.count() == 10  # pinned
    assert _fmt(spark, lake, "di").count() == 25  # fresh read sees it


def test_format_prunes_files_by_stats(lake, spark, capsys):
    """A supported comparison filter drops whole files via log stats:
    with clustered inserts, `id < 10` must plan fewer partitions than
    the full table has files — observable as fewer tasks (partitions()
    length) — while returning exactly the right rows."""
    register(spark)
    lake.create_table("dp", SCHEMA)
    for k in range(4):
        lake.insert("dp", _mk(spark, k * 100, (k + 1) * 100).coalesce(1))
    n_files = len(lake.table("dp").snapshot().files)
    assert n_files == 4
    df = _fmt(spark, lake, "dp").filter(F.col("id") < 10)
    rows = sorted(r["id"] for r in df.collect())
    assert rows == list(range(10))
    # Partition count after pushdown-pruning: the filtered scan plans
    # fewer input partitions than files in the table.
    pruned = df.rdd.getNumPartitions()
    assert pruned < n_files, (pruned, n_files)


def test_format_prunes_on_every_pushed_filter(lake, spark):
    """Two pushed comparisons on the same column prune together: over 4
    clustered files, ``100 <= id < 200`` plans exactly the one file."""
    register(spark)
    lake.create_table("d2", SCHEMA)
    for k in range(4):
        lake.insert("d2", _mk(spark, k * 100, (k + 1) * 100).coalesce(1))
    df = _fmt(spark, lake, "d2").filter((F.col("id") >= 100) & (F.col("id") < 200))
    assert df.rdd.getNumPartitions() == 1
    assert sorted(r["id"] for r in df.collect()) == list(range(100, 200))


def test_format_missing_table_is_an_error(lake, spark):
    """A batch or stream read of a table that was never created raises
    instead of returning a frame with no table columns, and writes
    nothing."""
    import os

    register(spark)
    with pytest.raises(Exception, match="no such table: nope"):
        _fmt(spark, lake, "nope")
    with pytest.raises(Exception, match="no such table: nope"):
        spark.readStream.format("minilake-stream").option("root", lake.root).option(
            "table", "nope"
        ).load()
    assert os.listdir(os.path.join(lake.root, "tables")) == []


def test_format_schema_evolution_nulls(lake, spark):
    """Old files read NULL for columns added later (merge-by-name)."""
    register(spark)
    lake.create_table("de", SCHEMA)
    lake.insert("de", _mk(spark, 0, 5))
    lake.table("de").add_columns([Field("extra", "float64", True)])
    df2 = spark.range(5, 8).select(
        "id",
        F.concat(F.lit("v"), F.col("id")).alias("v"),
        (F.col("id") * 1.5).alias("extra"),
    )
    lake.insert("de", df2)
    out = _fmt(spark, lake, "de")
    assert out.count() == 8
    assert out.filter(F.col("extra").isNull()).count() == 5
    got = {r["id"]: r["extra"] for r in out.filter(F.col("extra").isNotNull()).collect()}
    assert got == {5: 7.5, 6: 9.0, 7: 10.5}


def test_format_missing_options_error(lake, spark):
    register(spark)
    with pytest.raises(Exception):
        spark.read.format("minilake").load().count()


def _stream_all(spark, lake, table, name, **opts):
    r = (
        spark.readStream.format("minilake-stream")
        .option("root", lake.root)
        .option("table", table)
    )
    for k, v in opts.items():
        r = r.option(k, v)
    q = (
        r.load()
        .writeStream.format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    return spark.table(name)


def test_stream_source_tails_commits(lake, spark):
    """readStream.format('minilake-stream'): appends flow as micro-batch
    rows tagged with _commit_version."""
    register(spark)
    lake.create_table("st", SCHEMA)
    lake.insert("st", _mk(spark, 0, 5))  # v2
    lake.insert("st", _mk(spark, 5, 8))  # v3
    got = _stream_all(spark, lake, "st", "m_st")
    rows = sorted((r["id"], r["_commit_version"]) for r in got.collect())
    assert [r[0] for r in rows] == list(range(8))
    assert {r[1] for r in rows if r[0] < 5} == {2}
    assert {r[1] for r in rows if r[0] >= 5} == {3}


def test_stream_source_starting_version(lake, spark):
    register(spark)
    lake.create_table("sv", SCHEMA)
    lake.insert("sv", _mk(spark, 0, 5))  # v2
    lake.insert("sv", _mk(spark, 5, 9))  # v3
    got = _stream_all(spark, lake, "sv", "m_sv", startingVersion=2)
    assert sorted(r["id"] for r in got.collect()) == list(range(5, 9))


def test_stream_source_rejects_rewrites_unless_ignored(lake, spark):
    """A DELETE (rewrite) commit fails the stream by default; with
    ignoreChanges=true the non-append commit is skipped and appends
    continue to flow."""
    register(spark)
    lake.create_table("sr", SCHEMA)
    lake.insert("sr", _mk(spark, 0, 5))  # v2
    lake.table("sr").delete("id < 2")  # v3: rewrite (adds + removes)
    lake.insert("sr", _mk(spark, 10, 12))  # v4
    with pytest.raises(Exception, match="append-only|STREAM_FAILED"):
        _stream_all(spark, lake, "sr", "m_sr_fail")
    got = _stream_all(spark, lake, "sr", "m_sr_ok", ignoreChanges=True)
    ids = sorted(r["id"] for r in got.collect())
    assert ids == [0, 1, 2, 3, 4, 10, 11]  # v2 + v4; the v3 rewrite skipped


def test_format_temp_view_sql(lake, spark):
    """The SQL interop path that works today: a format read registered
    as a temp view (persisted-catalog USING-minilake tables lose their
    OPTIONS in Spark 4.1's Python-source read path — documented)."""
    register(spark)
    lake.create_table("dq", SCHEMA)
    lake.insert("dq", _mk(spark, 0, 9))
    _fmt(spark, lake, "dq").createOrReplaceTempView("dq_view")
    out = spark.sql("SELECT count(*) AS n, sum(id) AS s FROM dq_view").collect()[0]
    assert (out["n"], out["s"]) == (9, 36)


def test_cdc_replication_end_to_end(lake, spark, tmp_path):
    """Composition: the log-tail CDC stream feeding the exactly-once
    streaming ingest REPLICATES table A into table B — restartable from
    the checkpoint, append-for-append, no duplicates on a second drain."""
    from mini_lakehouse_control_plane_executor_spark.streaming.ingest import ingest_stream

    register(spark)
    lake.create_table("repl_a", SCHEMA)
    lake.create_table("repl_b", SCHEMA)
    lake.insert("repl_a", _mk(spark, 0, 20))
    lake.insert("repl_a", _mk(spark, 20, 30))
    ckpt = str(tmp_path / "repl_ckpt")

    def drain():
        stream = (
            spark.readStream.format("minilake-stream")
            .option("root", lake.root)
            .option("table", "repl_a")
            .load()
            .drop("_commit_version")
        )
        q = ingest_stream(stream, lake, "repl_b", ckpt, query_name="repl")
        q.awaitTermination(120)

    drain()
    assert sorted(r["id"] for r in lake.table("repl_b").read().collect()) == list(range(30))
    # New commits on A replicate incrementally from the checkpoint...
    lake.insert("repl_a", _mk(spark, 30, 36))
    drain()
    b_rows = sorted(r["id"] for r in lake.table("repl_b").read().collect())
    assert b_rows == list(range(36))
    # ...and a drain with nothing new is a no-op (no duplicates).
    drain()
    assert lake.table("repl_b").read().count() == 36


def test_format_write_is_refused(lake, spark):
    """The source is read-only: an append or an overwrite through
    df.write.format('minilake') fails with an error that names the write
    path to use, and leaves no version, no data file and no stage."""
    import os

    register(spark)
    lake.create_table("dw", SCHEMA)
    lake.insert("dw", _mk(spark, 0, 5))
    t = lake.table("dw")
    v_before = t.log.latest_version()
    files_before = sorted(os.listdir(t.data_dir))
    for mode in ("append", "overwrite"):
        with pytest.raises(Exception, match=r"LakehouseSession\.insert"):
            (
                _mk(spark, 5, 12).write.format("minilake")
                .option("root", lake.root).option("table", "dw")
                .mode(mode).save()
            )
        assert t.log.latest_version() == v_before
        assert sorted(os.listdir(t.data_dir)) == files_before
        assert os.listdir(t.tmp_dir) == []
    assert t.read().count() == 5


def test_format_reads_shallow_clone(lake, spark):
    """A shallow clone's snapshot stores ABSOLUTE source-file paths;
    the DataSource's per-file partitions must pass them through (posix
    os.path.join semantics) — format reads serve the pinned snapshot
    even after the source advances, and the clone's own inserts appear
    alongside the referenced files."""
    register(spark)
    lake.create_table("cl_ds_src", SCHEMA)
    lake.insert("cl_ds_src", _mk(spark, 0, 30))
    lake.clone_table("cl_ds_src", "cl_ds_dup")
    lake.insert("cl_ds_src", _mk(spark, 30, 50))  # source advances
    lake.insert("cl_ds_dup", _mk(spark, 100, 110))  # clone-owned file
    df = _fmt(spark, lake, "cl_ds_dup")
    assert df.count() == 40
    assert sorted(r["id"] for r in df.collect()) == list(range(30)) + list(
        range(100, 110)
    )
    assert _fmt(spark, lake, "cl_ds_src").count() == 50
